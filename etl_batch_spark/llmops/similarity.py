"""Embedding similarity search.

- :func:`cosine_topk`      — exact brute-force top-k for a (small) query
  set: queries broadcast, corpus streams through one scan.  The baseline.
- :func:`signbit_bucket` / :func:`bucketed_topk` — LSH-bucketed ANN (the
  scale path): sign-bit bucket key, candidates via equi-join on the
  bucket, cosine only within bucket.  O(n·bucket_size) instead of O(n²).

All vector math runs in Spark higher-order functions (zip_with +
aggregate folds), elementwise in double — JVM-side, no Python UDFs, and
deterministic fold order (parity-testable against other engines).
A Pandas-UDF path is deliberately absent: for 64-4096-dim float vectors
the codegen'd fold is within the Arrow transfer cost, without leaving
the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from etl_batch_spark.catalog import fan_out

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"


def as_double(col: str = "embedding") -> Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def l2_norm(col: str = "e") -> Column:
    return F.sqrt(F.expr(f"aggregate({col}, cast(0.0 as double), (acc, x) -> acc + x * x)"))


def _normed(df: DataFrame, *, fan: bool = True) -> DataFrame:
    # fan_out: the cosine folds downstream are per-row CPU — a
    # single-split corpus file must not serialize them on one core.
    # Query-side relations (bounded by the broadcast contract) pass
    # fan=False: repartitioning a handful of query vectors only adds an
    # exchange and a 32-task stage in front of work that collapses into
    # a broadcast anyway (round 11; values are untouched either way).
    base = fan_out(df) if fan else df
    return base.select(
        F.col("vec_id"), as_double("embedding").alias("e")
    ).withColumn("nrm", l2_norm("e"))


def _sql_double(v) -> str:
    """One double as a bit-exact SQL literal expression.

    ``repr(float)`` emits the shortest decimal that round-trips to the
    same IEEE double, and a string→double cast parses with
    round-to-nearest — so the plan literal is the exact collected value.
    NaN/±Infinity/NULL have no bare-literal spelling; the string cast
    covers them uniformly."""
    if v is None:
        return "cast(null as double)"
    return f"cast('{float(v)!r}' as double)"


def _sql_scalar(v, sql_type: str) -> str:
    """One id/code value as a typed SQL literal (bigint/int/string...)."""
    if v is None:
        return f"cast(null as {sql_type})"
    if sql_type == "string":
        escaped = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    return f"cast({v} as {sql_type})"


def _sql_vec(vec) -> str:
    if vec is None:
        return "cast(null as array<double>)"
    return "array(" + ",".join(_sql_double(x) for x in vec) + ")"


def _seed_rows(corpus: DataFrame, *, n: int) -> list:
    """First ``n`` normed rows by id, collected to the driver.

    The deterministic seed/codebook picks (ivf_topk, semantic_dedup, pq
    codebooks) are bounded state — n rows of one embedding each, the
    k-means-centroid precedent — so collect them once and inline them as
    plan literals: the assignment argmin then runs as a row-local
    expression with NO candidate fan-out, NO sort-aggregate and NO
    exchange (see ``ivf_topk``).  Values round-trip bit-exactly (IEEE
    doubles through the Python driver and the shortest-repr literal).

    Deliberately read from the UNFANNED corpus: ``fan_out``'s
    repartition exists for the downstream per-row cosine folds, but for
    this pick it would turn a shuffle-free TakeOrderedAndProject
    (map-side top-n, driver merge) into a full corpus exchange —
    measured as most of the pick's cost.  e/nrm are computed in the
    same projection, so the collected values are the exact doubles the
    fanned path would produce (repartition does not touch values)."""
    d = corpus.select(F.col("vec_id"), as_double("embedding").alias("e")).withColumn(
        "nrm", l2_norm("e")
    )
    return d.orderBy("vec_id").limit(n).collect()


def _cents_literal(rows, id_sql_type: str) -> str:
    """array(named_struct('ce', ..., 'cn', ..., 'cent_id', ...), ...)"""
    entries = []
    for r in rows:
        entries.append(
            "named_struct('ce', "
            + _sql_vec(r["e"])
            + ", 'cn', "
            + _sql_double(r["nrm"])
            + ", 'cent_id', "
            + _sql_scalar(r["vec_id"], id_sql_type)
            + ")"
        )
    return "array(" + ",".join(entries) + ")"


def cosine_topk(corpus: DataFrame, queries: DataFrame, *, k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, cosine): exact top-k neighbors per query.
    ``queries`` must be small enough to broadcast (it is hinted)."""
    c = _normed(corpus).select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
    )
    q = _normed(queries, fan=False).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    dot = F.expr(DOT.format(a="qe", b="ce"))
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("cn")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def signbit_bucket(vec_expr: str = "e", n_bits: int = 6, offset: int = 0) -> Column:
    """Bucket key from the sign bits of ``n_bits`` dimensions starting at
    ``offset`` — a fixed-hyperplane LSH surrogate (deterministic,
    engine-portable).  For isotropic embeddings this yields ~2^n_bits
    balanced buckets; distinct offsets give independent hash tables for
    the OR-construction (:func:`multitable_topk`)."""
    terms = " + ".join(
        f"case when {vec_expr}[{offset + i}] > 0 then {1 << i} else 0 end"
        for i in range(n_bits)
    )
    return F.expr(f"({terms})")


def neardup_pairs(df: DataFrame, *, threshold: float = 0.35, n_bits: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine ≥ threshold.

    Candidates come from a self-equi-join on the sign-bit bucket — true
    near-dups (cosine → 1) agree on every sign bit, so recall for actual
    duplicates is high while the join stays linear: with ``n_bits`` b the
    expected bucket size is n/2^b, so raise b as the corpus grows to keep
    per-bucket fanout bounded.  The threshold is applied to the *rounded*
    cosine so boundary behavior is identical across engines.
    """
    v = _normed(df).withColumn(
        "bucket", signbit_bucket("e", n_bits)
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na"), "bucket"
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"), "bucket"
    )
    cos = F.round(
        F.expr(DOT.format(a="ea", b="eb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-Flat approximate top-k: partition the corpus into inverted
    lists by nearest centroid, probe the query's ``nprobe`` nearest lists.

    Centroids here are the first ``n_centroids`` corpus vectors by id — a
    deterministic seed pick that keeps the operator engine-portable and
    oracle-checkable; a production index would train them with
    ``pyspark.ml.clustering.KMeans`` and the rest of the plan is
    unchanged.  Costs at scale: assignment is ONE row-local argmin over
    the inlined centroid literals during a single corpus scan (C cosine
    folds per row — no candidate fan-out, no sort-aggregate, no shuffle:
    round 11 replaced the ×C cross join + min(struct) groupBy, whose
    exchange carried every row's embedding payload, with an
    ``array_min(transform(...))`` over the plan-literal codebook; same
    comparator, same tie-break, bit-identical output).  Search is an
    equi-join on the centroid id — never a cross join against the corpus.
    """
    c = _normed(corpus)
    # first n_centroids vectors BY id (orderBy+limit), not filter(id < n):
    # the filter form silently seeds nothing when ids are sparse/offset.
    # Collected once (bounded: n rows) and inlined as plan literals.
    seed_rows = _seed_rows(corpus, n=n_centroids)
    if not seed_rows:
        # empty corpus: no centroids, no assignments, no probes — the
        # typed-empty result the cross-join form produced
        return (
            c.select(
                F.col("vec_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
                F.lit(None).cast("double").alias("cosine"),
            ).filter(F.lit(False))
        )
    id_sql_type = dict(corpus.dtypes)["vec_id"]
    cands = _cents_literal(seed_rows, id_sql_type)
    dot_c = DOT.format(a="e", b="c.ce")
    # row-local argmin: one array_min over the literal centroids picks
    # the SAME struct the old ×C cross join fed into min(struct(...)) —
    # identical field order, identical interpreted struct ordering
    # (ascending, NULL fields first), so NULL-embedding rows/centroids
    # pick identically.  The residual groupBy(id) exists ONLY to keep
    # the duplicate-ingestion grain (duplicate ids collapse to one
    # assignment, min across copies, exactly as before): its input is
    # one struct per ROW, not per row×C, so the map-side sort shrinks
    # ×C and the exchange payload is unchanged from the old
    # post-combine state.
    best = F.expr(
        f"array_min(transform({cands}, c -> named_struct("
        f"'negsim', -round(({dot_c}) / (nrm * c.cn), 6), "
        f"'cent_id', c.cent_id, 'e', e, 'nrm', nrm)))"
    )
    assign = (
        c.select(F.col("vec_id"), best.alias("best"))
        .groupBy("vec_id")
        .agg(F.min("best").alias("best"))
        .select(F.col("vec_id"), F.col("best.e").alias("e"),
                F.col("best.nrm").alias("nrm"), F.col("best.cent_id").alias("cent_id"))
    )
    q = _normed(queries, fan=False)
    # the query side needs top-NPROBE per query ID (not per row: under
    # duplicate-ingested query ids the rank spans every copy's
    # candidates, exactly as before) — explode the row-local candidate
    # structs and keep the original window, whose ORDER BY sim DESC,
    # cent_id ASC carries the engine's NULL/NaN ordering natively
    cand_structs = F.expr(
        f"transform({cands}, c -> named_struct("
        f"'sim', round(({dot_c}) / (nrm * c.cn), 6), "
        f"'cent_id', c.cent_id))"
    )
    rn_w = W.partitionBy("vec_id").orderBy(
        F.desc("cd.sim"), F.asc("cd.cent_id")
    )
    qprobe = (
        q.select(
            F.col("vec_id"), F.col("e"), F.col("nrm"),
            F.explode(cand_structs).alias("cd"),
        )
        .withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
            F.col("cd.cent_id").alias("cent_id"),
        )
    )
    dot = F.expr(DOT.format(a="qe", b="e"))
    pairs = (
        assign.join(F.broadcast(qprobe), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_bits: int = 6,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share the query's
    sign-bit bucket.  Recall can be raised by probing neighboring buckets
    (multi-probe) — at 100 TB the equi-join shape is what matters."""
    c = _normed(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
        signbit_bucket("e", n_bits).alias("cbucket"),
    )
    q = _normed(queries, fan=False).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        signbit_bucket("e", n_bits).alias("qbucket"),
    )
    dot = F.expr(DOT.format(a="qe", b="ce"))
    pairs = (
        c.join(
            F.broadcast(q),
            (F.col("cbucket") == F.col("qbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("cn")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def multitable_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_bits: int = 6,
    n_tables: int = 3,
) -> DataFrame:
    """Multi-table LSH ANN (the OR-construction): table ``t`` buckets on
    the sign bits of dimensions ``[t·n_bits, (t+1)·n_bits)``; a corpus
    vector is a candidate if it shares the query's bucket in ANY table.
    L independent tables raise recall from ``p`` to ``1-(1-p)^L`` while
    the per-table cost stays the linear equi-join of
    :func:`bucketed_topk` — the standard recall/cost dial (tune L and
    n_bits with the ss12 recall harness).  Candidate pairs found by
    several tables are deduplicated by a (query, neighbor) aggregate
    before ranking — shuffle width ≤ L·bucket_size per query, never the
    corpus."""
    # Each table reads a DISJOINT slice of n_bits dimensions; a slice past
    # the embedding's end would (with ANSI off) read NULL → bit 0 for every
    # row, silently collapsing that table into one giant bucket (its
    # "linear equi-join" becomes a corpus × queries cross join).  The
    # LIMIT-1 probe below catches the config-error case cheaply but
    # ASSUMES uniform dimensionality — a ragged corpus whose later rows
    # are shorter slips past it.  That case still fails loudly rather
    # than silently here: this engine's session runs ANSI mode (on by
    # default in Spark 4, pinned by get_spark), where an out-of-bounds
    # `vec[i]` raises INVALID_ARRAY_INDEX at execution.  Callers running
    # ANSI-off sessions must pre-validate min(size(vec)) themselves
    # (session.get_spark pins spark.sql.ansi.enabled=true for this).
    probe = corpus.select(F.size(F.col("embedding")).alias("d")).head(1)
    if probe and probe[0]["d"] < n_tables * n_bits:
        raise ValueError(
            f"multitable_topk needs dim >= n_tables*n_bits = "
            f"{n_tables * n_bits}, but embedding has dim {probe[0]['d']}; "
            f"lower n_tables/n_bits or random_project to a wider dim"
        )
    c = _normed(corpus)
    q = _normed(queries, fan=False)
    dot = F.expr(DOT.format(a="qe", b="ce"))

    # ONE corpus scan for all L tables: each row computes its L bucket
    # ids in a single projection and posexplodes to (table, bucket)
    # rows — the previous per-table loop unioned L separate corpus
    # scans and L broadcast joins (3 scans / 11 Exchanges in ss13's
    # executed plan).  The join key gains the table index, so the
    # candidate multiset is pair-for-pair the union of the per-table
    # equi-joins, and the max() dedup below is unchanged.
    def buckets(e_col: str) -> Column:
        return F.array(
            *[
                signbit_bucket(e_col, n_bits, offset=t * n_bits)
                for t in range(n_tables)
            ]
        )

    ct = c.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
        F.posexplode(buckets("e")).alias("t", "cbucket"),
    )
    qt = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.posexplode(buckets("e")).alias("qt", "qbucket"),
    )
    pairs = ct.join(
        F.broadcast(qt),
        (F.col("t") == F.col("qt"))
        & (F.col("cbucket") == F.col("qbucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        F.round(dot / (F.col("qn") * F.col("cn")), 6).alias("cosine"),
    )
    # same pair from several tables scores identically: max() dedups
    deduped = pairs.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        deduped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "cast(0.0 as double), (acc, x) -> acc + x)"
)


def kmeans_lloyd(df: DataFrame, *, k: int = 8, max_iterations: int = 10) -> DataFrame:
    """(id, cluster, sqdist) after Lloyd's iterations — the IVF-index
    trainer and general embedding clusterer.

    Spark-first shape per round: assignment broadcasts the k-row
    centroid table against a corpus scan (k squared-L2 folds per row
    via a window argmin — the same plan ``ivf_topk`` uses, so codegen
    stays small no matter k); the update step is one groupBy(cluster)
    with an ``avg`` per dimension — one shuffle, map-side partial.  The
    k×dim centroid matrix (the only thing collected) is aggregate
    state, the same thing ``pyspark.ml``'s KMeans ships each round;
    data rows never reach the driver.  Seeding is the first k vectors
    by id — deterministic, so tests can replay the exact trajectory in
    numpy.
    """
    spark = df.sparkSession
    # localCheckpoint: every round re-reads the prepared vectors; without
    # it each iteration replays the scan+cast lineage and the plan grows
    d = (
        fan_out(df)
        .select(F.col("vec_id"), as_double("embedding").alias("e"))
        .localCheckpoint(eager=False)
    )
    first_row = d.select("e").first()
    if first_row is None:
        # empty corpus: no model to fit — a well-typed empty result, not
        # a crash (the empty-slice contract of test_empty_inputs)
        id_type = dict(df.dtypes)["vec_id"]
        return spark.createDataFrame(
            [], f"vec_id {id_type}, cluster int, sqdist double"
        )
    dim = len(first_row["e"])
    cents: list[list[float]] = [
        # first k BY id — filter(id < k) would seed nothing on sparse ids
        list(r["e"]) for r in d.orderBy("vec_id").limit(k).collect()
    ]

    def assign(centroids: list[list[float]]) -> DataFrame:
        cdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(centroids)],
            "cluster int, ce array<double>",
        )
        # argmin via min(struct) — partial-aggregable, no sort, and the
        # ×k broadcast expansion collapses map-side; see ivf_topk
        return (
            d.crossJoin(F.broadcast(cdf))
            .withColumn("sqd", F.expr(SQDIST.format(a="e", b="ce")))
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        F.col("sqd").alias("sqd"),
                        F.col("cluster").alias("cluster"),
                        F.col("e").alias("e"),
                    )
                ).alias("best")
            )
            .select("vec_id", F.col("best.e").alias("e"),
                    F.col("best.cluster").alias("cluster"),
                    F.col("best.sqd").alias("sqd"))
        )

    for _ in range(max_iterations):
        # update step via posexplode: shuffle is rows×dim (cluster, pos)
        # cells with map-side partial avg — no dim-wide codegen, so cost
        # scales to 4096-dim embeddings unchanged
        new_rows = (
            assign(cents)
            .select("cluster", F.posexplode("e").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]
        for r in new_rows:  # empty clusters keep their previous centroid
            new_cents[r["cluster"]][r["pos"]] = r["m"]
        if new_cents == cents:
            break
        cents = new_cents

    return assign(cents).select(
        "vec_id", "cluster", F.round("sqd", 6).alias("sqdist")
    )


def mmr_topk(corpus: DataFrame, queries: DataFrame, *, k: int = 5, pool: int = 20) -> DataFrame:
    """Maximal-marginal-relevance top-k: diversified neighbors.

    Plain cosine top-k returns near-duplicates of each other; MMR
    greedily picks the candidate maximizing
    ``0.5 * (sim(query, c) - max_{s in selected} sim(c, s))`` (relevance
    and diversity weighted equally), so results cover the neighborhood
    instead of piling on one mode.

    Distributed shape: stage 1 is the existing :func:`cosine_topk`
    scan for a per-query candidate POOL (size ``pool`` — the only
    stage that touches the corpus); stage 2 re-joins the pool ids to
    their vectors and runs the O(pool² · k) greedy selection per query
    inside ``applyInPandas`` — per-task state is one query's pool,
    never the corpus.  Deterministic: ties break on neighbor id.

    Cross-engine determinism: the greedy compares similarities rounded
    to 6 decimals (``rel`` reuses the pool's already-rounded cosine;
    pairwise sims are rounded the same way), so an oracle that computes
    the dots in a different summation order reaches identical argmax
    picks — the same discipline :func:`cosine_topk` applies before its
    rank.  The selection itself is a per-query recursive CTE in the
    ss07 oracle, like et16's LTTB replay.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    pool_df = cosine_topk(corpus, queries, k=pool)
    vecs = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("nvec"),
    )
    qvecs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("qvec"),
    )
    pool_v = pool_df.join(vecs, "neighbor_id").join(qvecs, "query_id")

    # id columns typed after the actual vec_id — a hardcoded LongType
    # would crash the Arrow serializer for string/uuid ids
    id_type = corpus.schema["vec_id"].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("rank", IntegerType()),
            StructField("mmr_score", DoubleType()),
        ]
    )

    def select(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id", kind="mergesort")
        ids = pdf["neighbor_id"].to_numpy()
        V = np.stack(pdf["nvec"].to_numpy())
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        # sim(query, candidate): the pool's cosine, already rounded to 6dp
        # by cosine_topk — identical to what any oracle engine computes
        rel = pdf["cosine"].to_numpy(dtype=np.float64)
        # sim(candidate, candidate), rounded the same way
        inter = np.round(Vn @ Vn.T, 6)
        chosen: list[int] = []
        scores: list[float] = []
        avail = np.ones(len(ids), dtype=bool)
        for _ in range(min(k, len(ids))):
            if chosen:
                penalty = inter[:, chosen].max(axis=1)
            else:
                penalty = np.zeros(len(ids))
            mmr = 0.5 * (rel - penalty)
            mmr[~avail] = -np.inf
            best = int(np.argmax(mmr))     # first max = lowest id on ties
            chosen.append(best)
            scores.append(float(mmr[best]))
            avail[best] = False
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": ids[chosen],
                "rank": np.arange(1, len(chosen) + 1, dtype="int32"),
                # NOT re-rounded: 0.5*(rel - pen) on 6dp-rounded inputs lands
                # exactly on half-boundaries, where numpy (half-even) and SQL
                # engines (half-away) disagree; the unrounded doubles are
                # already bit-identical across engines.
                "mmr_score": np.asarray(scores, dtype=np.float64),
            }
        )

    return pool_v.groupBy("query_id").applyInPandas(select, schema=out_schema)


def _pq_parts(corpus: DataFrame, *, m: int, ks: int) -> "tuple[DataFrame, list, int]":
    """Shared PQ prep: (prepared vectors, codebook rows, subdim).

    The codebook is deterministic — for each of the ``m`` subspaces, the
    ``ks`` sub-vectors sliced from the first ``ks`` corpus rows by id
    (same seeding convention as :func:`ivf_topk`; a production index
    trains per-subspace centroids with k-means and the plans below are
    unchanged).  Codebook size is m·ks entries of subdim doubles —
    bounded driver state, like kmeans' centroid matrix, returned as
    plain ``(sub, code, cvec)`` tuples so encode/LUT inline them as
    plan literals (row-local argmin, see :func:`_pq_encode_with`).
    """
    d = _normed(corpus).select("vec_id", "e")
    # ONE bounded collect (ks rows) covers the dim probe AND the
    # codebook: before, a separate first() job probed the dim and the
    # two codebook broadcasts (encode side + query-LUT side) each
    # replayed the corpus scan + TakeOrdered.  The sub-vector slicing
    # happens in the driver over ks·m tiny lists.  Picked from the
    # UNFANNED corpus so the collect is a shuffle-free
    # TakeOrderedAndProject (see _seed_rows).
    seed_rows = (
        corpus.select(F.col("vec_id"), as_double("embedding").alias("e"))
        .orderBy("vec_id")
        .limit(ks)
        .collect()
    )
    if not seed_rows:
        # empty corpus: empty codebook — every downstream encode/search
        # then yields a typed empty result
        return d, [], 1
    # dim from the first seed row whose embedding is present: a NULL
    # embedding on the minimum-id row must not crash the probe (its
    # codebook entries are NULL sub-vectors, handled below); an
    # all-NULL seed set degrades to the empty-codebook path
    probe = next((r["e"] for r in seed_rows if r["e"] is not None), None)
    if probe is None:
        return d, [], 1
    dim = len(probe)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m
    cb_rows = [
        (sub, r["vec_id"],
         None if r["e"] is None else list(r["e"][sub * sd:(sub + 1) * sd]))
        for r in seed_rows
        for sub in range(m)
    ]
    return d, cb_rows, sd


def _pq_cb_literal(cb_rows, sub: int, id_sql_type: str) -> str:
    """array(named_struct('code', ..., 'cvec', ...), ...) for one subspace."""
    entries = [
        "named_struct('code', "
        + _sql_scalar(code, id_sql_type)
        + ", 'cvec', "
        + _sql_vec(cvec)
        + ")"
        for s, code, cvec in cb_rows
        if s == sub
    ]
    return "array(" + ",".join(entries) + ")"


def _pq_encode_with(
    d: DataFrame, cb_rows: list, sd: int, *, m: int, id_sql_type: str
) -> DataFrame:
    """(id, sub, code): row-local PQ encode against the inlined codebook.

    Round 11: the former shape exploded every row ×m, broadcast-joined
    the codebook (×ks entries) and ran the argmin as a min(struct)
    SORT-aggregate over rows×m×ks candidate structs.  The codebook is
    bounded driver state, so each subspace's argmin is now an
    ``array_min(transform(...))`` over its plan-literal entries —
    the per-row work is one narrow projection, and the surviving
    groupBy(id, sub) exists ONLY to keep the duplicate-ingestion grain
    (duplicate ids collapse to one code per (id, sub), min across
    copies, exactly as before); its input is rows×m one-struct rows, a
    ×ks reduction of the sorted/agg'd volume.  Comparator and tie-break
    (min struct(sqd, code), ascending, NULL sqd first) are identical,
    so output is bit-identical — including NULL-embedding rows, whose
    sqd is NULL for every entry.
    """
    if not cb_rows:
        # empty codebook (empty corpus): the old inner join produced a
        # typed empty result — preserve it
        return d.select(
            F.col("vec_id"),
            F.lit(0).cast("int").alias("sub"),
            F.lit(None).cast(dict(d.dtypes)["vec_id"]).alias("code"),
        ).filter(F.lit(False))
    # each sub-vector slice is bound ONCE per (row, sub) via a
    # one-element transform lambda (`sv`): written inline in the argmin
    # lambda it would re-slice per codebook entry — ×ks the slice
    # allocations, measured 2× slower at sf10 — and a separate
    # projection column would just be re-inlined by CollapseProject
    per_sub = []
    for sub in range(m):
        cands = _pq_cb_literal(cb_rows, sub, id_sql_type)
        sqd = (
            f"cast(round(({SQDIST.format(a='sv', b='c.cvec')})"
            f" * 1e6, 0) as bigint)"
        )
        per_sub.append(
            F.expr(
                f"transform(array(slice(e, {sub * sd + 1}, {sd})), sv -> "
                f"array_min(transform({cands}, c -> "
                f"named_struct('sqd', {sqd}, 'code', c.code))))[0]"
            ).alias(f"__pq{sub}")
        )
    return (
        d.select("vec_id", *per_sub)
        .select(
            "vec_id",
            F.posexplode(F.array(*[f"__pq{s}" for s in range(m)])).alias(
                "sub", "best"
            ),
        )
        .groupBy("vec_id", "sub")
        .agg(F.min("best").alias("best"))
        .select("vec_id", "sub", F.col("best.code").alias("code"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    m: int = 8,
    ks: int = 16,
) -> DataFrame:
    """PQ asymmetric-distance top-k: the compressed-corpus ANN path.

    The corpus is only ever touched through its PQ codes; per query, a
    lookup table of m·ks partial squared distances (query sub-vector vs
    codebook entry) is broadcast, and each candidate's approximate
    distance is the SUM of m table hits — no corpus vector is read at
    search time.  Returned ``adist_micro`` is that sum in integer
    micro-units (≈6dp): integer partial distances make every SUM and
    argmin order-independent, so bit-identical across engines, where
    float sums would drift with aggregation order.

    Distributed shape: codes ⋈ broadcast LUT on (sub, code) — a broadcast
    hash join over the rows×m code table — then a partial-aggregating
    groupBy(query, id) SUM and a per-query top-k window over k·|queries|
    candidates.  Everything is linear in corpus size; the 100 TB knobs
    are m (compression) and ks (fidelity), not the join shape.
    """
    # one shared prep: the encode path and the query LUT both use the
    # same corpus codebook (and its single dim-probe job)
    id_sql_type = dict(corpus.dtypes)["vec_id"]
    d, cb_rows, sd = _pq_parts(corpus, m=m, ks=ks)
    codes = _pq_encode_with(
        d, cb_rows, sd, m=m, id_sql_type=id_sql_type
    )
    q = _normed(queries, fan=False).select(
        "vec_id", "e"
    )
    # the per-query LUT is |queries|·m·ks rows of partial distances:
    # built row-locally by exploding one flat (sub, code, cvec) literal
    # — the former explode ×m + broadcast codebook join cost an extra
    # exchange and a broadcast build per run for the same values
    if cb_rows:
        flat_entries = ",".join(
            "named_struct('sub', cast(" + str(s) + " as int), 'code', "
            + _sql_scalar(code, id_sql_type)
            + ", 'pd_vec', " + _sql_vec(cvec) + ")"
            for s, code, cvec in cb_rows
        )
        pd_expr = (
            f"cast(round(({SQDIST.format(a=f'slice(e, c.sub * {sd} + 1, {sd})', b='c.pd_vec')})"
            f" * 1e6, 0) as bigint)"
        )
        lut = q.select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.expr(
                    f"transform(array({flat_entries}), c -> named_struct("
                    f"'sub', c.sub, 'code', c.code, 'pd', {pd_expr}))"
                )
            ).alias("c"),
        ).select("query_id", "c.sub", "c.code", "c.pd")
    else:
        lut = q.select(
            F.col("vec_id").alias("query_id"),
            F.lit(0).cast("int").alias("sub"),
            F.lit(None).cast(id_sql_type).alias("code"),
            F.lit(None).cast("bigint").alias("pd"),
        ).filter(F.lit(False))
    dist = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd").alias("adist_micro"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adist_micro"), F.asc("vec_id"))
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adist_micro")
    )


def _rademacher_sign(i: int, j: int) -> int:
    """Deterministic ±1 from the shared md5-60bit hash — any engine that
    can md5 derives the identical projection matrix."""
    import hashlib

    h = int(hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


def random_project(df: DataFrame, *, out_dim: int = 16, in_dim: int = 64) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dims,
    long-form ``(id, j, proj_micro)`` — the ANN pre-processing step that
    shrinks embedding storage/compute before LSH or PQ indexing, with
    pairwise distances preserved to ~1/sqrt(out_dim) relative error
    (Achlioptas 2003: Rademacher ±1 entries suffice).

    Determinism: inputs integerize to micro units first, and ±1 signs
    keep every output an exact INTEGER sum — bit-identical in any
    engine and any aggregation order (the pq_topk discipline).  The
    projection matrix is md5-derived from a fixed salt, never stored.

    Distributed shape: the whole operator is one row-local projection —
    ``out_dim`` codegen'd sums of ±x[i] with NO shuffle and NO UDF; at
    100 TB it runs at scan speed.  (Callers wanting unit-scale floats
    divide by 1e6·sqrt(out_dim) downstream.)
    """
    x = (
        fan_out(df)
        .select(
            F.col("vec_id"),
            F.expr(
                "transform(embedding, v -> cast(round(cast(v as double) * 1e6, 0) as bigint))"
            ).alias("x"),
        )
    )
    projs = []
    for j in range(out_dim):
        terms = " + ".join(
            f"({_rademacher_sign(i, j)} * x[{i}])" for i in range(in_dim)
        )
        projs.append(F.expr(terms).alias(f"p{j}"))
    wide = x.select("vec_id", *projs)
    return wide.select(
        "vec_id",
        F.posexplode(F.array(*[f"p{j}" for j in range(out_dim)])).alias(
            "j", "proj_micro"
        ),
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    n_clusters: int = 16,
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space, then inside each cluster drop every item that has an
    earlier (lower-id) neighbor at cosine ≥ ``threshold``.

    Complements the lexical family: MinHash/SimHash catch copies of the
    same TEXT; this catches semantically redundant rephrasings that share
    no n-grams.  Returns one row per input — ``(id, cluster, kept)`` — so
    callers can either filter ``kept`` or audit the drop rate per cluster.

    Distributed shape: assignment is the IVF plan (broadcast the
    ``n_clusters`` seed centroids against one corpus scan, argmin via a
    per-row window — no shuffle of the corpus); the candidate pair step is
    an EQUI-join on the cluster id, never an all-pairs cross join.  The
    within-cluster work is quadratic in cluster size only — at 100 TB you
    raise ``n_clusters`` ~ sqrt(n) (the paper runs 50k clusters for
    LAION-scale corpora) so per-cluster membership stays bounded, and the
    equi-join shuffle stays linear in the corpus.  Seeding is the first
    ``n_clusters`` vectors by id — deterministic and oracle-replayable;
    a production index would train seeds with :func:`kmeans_lloyd` and
    the rest of the plan is unchanged.
    """
    c = _normed(corpus)
    # first n_clusters BY id — see ivf_topk seeding note.  Round 11:
    # the seeds ARE collected here now (round 10 kept them lazy because
    # a single broadcast consumer saved no scans) — the row-local
    # argmin this enables removes the ×k candidate expansion and the
    # min(struct) SORT-aggregate whose exchange carried every row's
    # full embedding payload; that trade-off dwarfs the bounded collect.
    seed_rows = _seed_rows(corpus, n=n_clusters)
    if not seed_rows:
        # empty corpus: typed-empty result, as the cross-join form gave
        return c.select(
            F.col("vec_id"),
            F.col("vec_id").alias("cluster"),
            F.lit(True).alias("kept"),
        ).filter(F.lit(False))
    id_sql_type = dict(corpus.dtypes)["vec_id"]
    cands = _cents_literal(seed_rows, id_sql_type)
    dot_c = DOT.format(a="e", b="c.ce")
    # row-local argmin over the plan-literal centroids — the struct and
    # its interpreted ordering (ascending, NULL sim first) are exactly
    # what the former ×k cross join fed into min(struct(...)).  The
    # residual groupBy(id) keeps the duplicate-ingestion grain (one
    # assignment per id, min across copies) on 1 struct per ROW instead
    # of per row×k.
    best = F.expr(
        f"array_min(transform({cands}, c -> named_struct("
        f"'negsim', -round(({dot_c}) / (nrm * c.cn), 6), "
        f"'cent_id', c.cent_id, 'e', e, 'nrm', nrm)))"
    )
    assign = (
        c.select(F.col("vec_id"), best.alias("best"))
        .groupBy("vec_id")
        .agg(F.min("best").alias("best"))
        .select(F.col("vec_id"), F.col("best.e").alias("e"),
                F.col("best.nrm").alias("nrm"), F.col("best.cent_id").alias("cluster"))
        # three consumers below (both pair sides + the final labeling
        # join) would each replay the scan+assignment lineage;
        # materialize it once — the kmeans_lloyd discipline
        .localCheckpoint(eager=False)
    )
    a = assign.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = assign.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(F.expr(DOT.format(a="ea", b="eb")) / (F.col("na") * F.col("nb")), 6)
    dropped = (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(dropped.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
        )
    )
