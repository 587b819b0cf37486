"""Deduplication operators for 100 TB-scale text corpora.

Five strategies, all expressed with native Spark functions (JVM-side,
whole-stage codegen, zero Python UDFs):

- :func:`exact_groups`        — hash-groupBy on raw content
- :func:`fingerprint_groups`  — hash-groupBy on normalized content
- :func:`jaccard_pairs`       — n-gram shingles, candidates via
  join-on-shared-shingle (never a cross join)
- :func:`minhash_signatures` / :func:`minhash_candidate_pairs` — MinHash
  LSH: the signature (``num_hashes`` longs) replaces the shingle set;
  candidates come from an equi-join on (position, minhash)
- :func:`simhash`             — bit-vote signatures for Hamming near-dup

Scale notes: every pairwise operator funnels through an equi-join key
(shingle, band, signature position), so shuffles are linear in corpus
size.  For production corpora a document-frequency cap on shingles
(drop shingles appearing in more than N docs) would bound hot-key
fanout; no query here needs one.

Hashes are md5-derived (not Spark's murmur ``hash()``) so results are
engine-portable and stable across Spark versions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_batch_spark.catalog import fan_out

# 60-bit portable hash: first 15 hex chars of md5 (same construction is
# expressible in DuckDB/Trino/Flink SQL for cross-engine validation)
H60 = "cast(conv(substr(md5({expr}), 1, 15), 16, 10) as bigint)"

# array_remove, not filter(.., x -> x != ''): higher-order lambdas are
# INTERPRETED per element, while ArrayRemove is an ordinary codegen'd
# expression — same result (split never yields NULL elements, the only
# case where the two differ), and this expression sits under every
# tokenize in the dedup/text family (guide §1.2: per-task work).
TOKENS_EXPR = "array_remove(split(lower({col}), '\\\\s+'), '')"

SHINGLES_EXPR = (
    "case when size({toks}) >= {n} then "
    "transform(sequence(0, size({toks}) - {n}), i -> concat_ws(' ', {parts})) "
    "else array() end"
)


def tokens(col: str = "text") -> Column:
    """Lowercased whitespace tokens, empties dropped."""
    return F.expr(TOKENS_EXPR.format(col=col))


def shingle_array(toks_expr: str = "toks", n: int = 3) -> Column:
    parts = ", ".join(f"{toks_expr}[i+{j}]" for j in range(n))
    return F.expr(SHINGLES_EXPR.format(toks=toks_expr, n=n, parts=parts))


def shingle_sets(df: DataFrame, *, n: int = 3, toks_col: "str | None" = None) -> DataFrame:
    """(id, sh: array<string>) — the *distinct* shingle set per document,
    built entirely per-row (tokenize → shingle → array_distinct).  No
    shuffle: dedup within a document never needs to leave the row, so the
    global ``distinct()`` an explode-first design would pay is avoided.

    ``toks_col`` names an already-tokenized array column — pipelines
    that materialize tokens once (pipe01's checkpointed corpus) skip
    the tokenize pass and the fan-out here."""
    if toks_col is not None:
        return df.select(
            "doc_id", F.array_distinct(shingle_array(toks_col, n)).alias("sh")
        )
    return fan_out(df).withColumn("toks", tokens("text")).select(
        "doc_id", F.array_distinct(shingle_array("toks", n)).alias("sh")
    )


# ---------------------------------------------------------------------------
# exact + fingerprint
# ---------------------------------------------------------------------------

def exact_groups(df: DataFrame) -> DataFrame:
    """Group identical content: (content_hash, keeper_doc_id, n_copies).
    Hash first — grouping 100 TB of raw text by the text itself would
    shuffle the full payload; md5 shuffles 32 bytes/row."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def normalized_fingerprint(text_col: str = "text") -> Column:
    return F.md5(F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")))


def fingerprint_groups(df: DataFrame) -> DataFrame:
    return (
        df.groupBy(normalized_fingerprint("text").alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_duplicates(df: DataFrame) -> DataFrame:
    """Return the deduplicated corpus (keeper row per identical text)."""
    keepers = exact_groups(df).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    return df.join(keepers, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def _pairs_from_groups(df: DataFrame, group_cols: list[str], id_col: str) -> DataFrame:
    """(doc_a, doc_b) for every unordered id pair sharing a group key.

    One aggregation + an array-combinations explode instead of a
    self-join: the self-join shape shuffles the exploded table twice and
    recomputes its lineage for each side; this shape scans once and
    shuffles once before the pair explode.  Group fanout is quadratic in
    group size — callers bound it (df_cap / minhash bands) so arrays
    stay small; that bound is what makes the operator safe at 100 TB.
    """
    groups = (
        df.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return groups.select(F.explode(pairs).alias("p")).select("p.doc_a", "p.doc_b")


def _shared_shingles(df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, n_common) for every document pair that
    shares a shingle, with both set sizes and the shared count.

    Shape: each exploded (id, shingle) row carries the document's set
    size, and the per-shingle ``collect_set`` collects (id, n_sh)
    structs — so the pair explode already knows both set sizes and
    needs **no size joins**: two shuffles total (by shingle, then by
    pair), versus four (plus a persist) for the join-back formulation."""
    sh = shingle_sets(df).select(
        F.col("doc_id"), F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    )
    groups = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), y -> "
        "struct(x.doc_id AS doc_a, x.n_sh AS n_a, y.doc_id AS doc_b, y.n_sh AS n_b))))"
    )
    return (
        groups.select(F.explode(pairs).alias("p"))
        .select("p.*")
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def jaccard_pairs(df: DataFrame, *, threshold: float = 0.8) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with shingle-set Jaccard ≥
    threshold."""
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return _shared_shingles(df).filter(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


def containment_pairs(df: DataFrame, *, threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, containment) where containment = |A∩B| / min(|A|,|B|).

    Jaccard under-scores subset relations (a document embedded verbatim
    in a much longer one scores |A|/|B| ≈ 0); containment normalizes by
    the *smaller* set, so quote-inclusion and boilerplate-wrapping dups
    score ~1.0."""
    cont = F.col("n_common").cast("double") / F.least("n_a", "n_b")
    return _shared_shingles(df).filter(cont >= threshold).select(
        "doc_a", "doc_b", F.round(cont, 4).alias("containment")
    )


# ---------------------------------------------------------------------------
# MinHash LSH
# ---------------------------------------------------------------------------

def minhash_signatures(ss: DataFrame, *, num_hashes: int = 8) -> DataFrame:
    """(id, i, minh): position-i minhash per document over its shingle
    set (from :func:`shingle_sets`).  Seeded family: h_i(s) = md5-60bit
    of "i|s".

    Shape: explode the per-row shingle set, fan out ``num_hashes`` seeds
    via a broadcast cross join, groupBy(id, seed) min.  The min is
    map-side combined, so the shuffle carries ~``num_hashes`` longs per
    document — not the exploded table.  (A fully per-row nested
    higher-order-function form was benchmarked and lost: lambda
    expressions are interpreted, while this shape stays inside
    whole-stage codegen.)"""
    spark = ss.sparkSession
    seeds = spark.range(num_hashes).select(F.col("id").cast("int").alias("i"))
    sh = ss.select("doc_id", F.explode("sh").alias("shingle"))
    h = F.expr(H60.format(expr="concat(cast(i as string), '|', shingle)"))
    return (
        sh.crossJoin(F.broadcast(seeds))
        .groupBy("doc_id", "i")
        .agg(F.min(h).alias("minh"))
    )


def minhash_candidate_pairs(sig: DataFrame, *, num_hashes: int = 8) -> DataFrame:
    """(doc_a, doc_b, n_hash_agree, est_jaccard) for pairs agreeing on ≥1
    signature position (b=num_hashes, r=1 OR-amplification).  Pair
    generation groups by (position, minhash) — a band bucket is a set of
    near-identical docs, so bucket sizes are naturally small."""
    return (
        _pairs_from_groups(sig, ["i", "minh"], "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_hash_agree"),
            F.round(F.count(F.lit(1)) / float(num_hashes), 4).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# connected components (near-dup clustering over candidate-pair graphs)
# ---------------------------------------------------------------------------

def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component
    is the minimum node id reachable.  This turns near-dup candidate
    *pairs* (MinHash/SimHash/embedding buckets) into dedup *clusters* —
    the step a training-data pipeline needs before picking one keeper
    per cluster.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges
    in O(log n) rounds even on chain graphs, where naive min-label
    propagation needs O(diameter).  Each round is two groupBy/join
    shuffles keyed on node id, so the per-round cost is linear in the
    (shrinking) edge count.  ``localCheckpoint`` truncates lineage every
    round; without it the iterative plan grows without bound and the
    optimizer re-plans the whole history each round.  Convergence is
    detected with an order-independent edge-set signature
    (count + bit_xor of pair hashes) — one tiny action per round.

    Loop-cost discipline (optimization guide §1/§2, measured round 10):
    every round's shuffle partitioning is DERIVED from the observed
    edge count of the previous round (the edge set shrinks round over
    round), instead of inheriting the session constant — at sf0.1 the
    candidate graph is a few hundred edges and a 32-partition round is
    pure task-dispatch overhead, while at cluster scale the same rule
    keeps the session's full width.  The convergence signature rides
    the checkpoint materialization via ``Observation`` (one action per
    round, not two), and AQE is switched off only for single-partition
    rounds, where there is nothing to coalesce or skew-split and each
    AQE stage otherwise becomes its own job.  Measured: the sf0.1 loop
    fell from 1.83 s to 0.77 s with bit-identical output.

    Round 11: the loop's conf pinning moved onto a PRIVATE cloned
    session (``spark.newSession()`` — same SparkContext, separate
    SQLConf), so the operator is safe under concurrent use of the
    caller's session; and the up-front ``distinct`` materialization of
    the edge set was dropped (round 1's group-mins absorb duplicate
    edges; one fewer checkpoint job + shuffle per call).
    """
    from pyspark.sql import Observation

    spark = edges.sparkSession
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def loop_partitions(n_edges: int) -> int:
        # ~1M pair rows (two longs) per shuffle partition; never wider
        # than the session setting — on a cluster that IS the width
        return max(1, min(sess_parts, (n_edges + (1 << 20) - 1) >> 20))

    # materialize the projected edge list once: both the node universe
    # and the working edge set read it, and the upstream lineage (the
    # candidate-pair generation) is usually the expensive part.  The
    # edge count rides the same materialization (no separate count job).
    obs0 = Observation()
    raw = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = obs0.get["n"]
    nodes = raw.select(F.col("u").alias("node")).union(
        raw.select(F.col("v").alias("node"))
    ).distinct()

    # The loop runs in a PRIVATE cloned session (same SparkContext and
    # checkpointed RDDs, its own SQLConf): the per-round shuffle-
    # partition/AQE pinning below is invisible to anything planned
    # concurrently on the caller's session — round 10 mutated the
    # shared session conf in-loop, which would have handed a concurrent
    # query 1-partition shuffles.  Checkpointed edge relations cross
    # sessions through a global temp view (analysis resolves the
    # LogicalRDD immediately, so the view is dropped right after use).
    import uuid

    loop = spark.newSession()
    view = f"cc_loop_{uuid.uuid4().hex}"

    def pin_loop_conf(n_edges: int) -> None:
        parts = loop_partitions(n_edges)
        loop.conf.set("spark.sql.shuffle.partitions", str(parts))
        # single-partition rounds: AQE would only add a re-planning job
        # per shuffle stage; multi-partition rounds keep it for skew
        # splitting (a giant component is exactly a skewed join key)
        loop.conf.set(
            "spark.sql.adaptive.enabled", "true" if parts > 1 else "false"
        )

    try:
        raw.createOrReplaceGlobalTempView(view)
        raw_loop = loop.table(f"global_temp.{view}")
        pin_loop_conf(n_edges)
        # No up-front distinct/materialization of the edge set: the
        # round's group-mins tolerate duplicate edges (duplicates cannot
        # change a min and the closing DISTINCT dedups), so the dedup
        # that used to cost its own checkpoint job + shuffle rides the
        # first round instead.  Convergence needs one round-over-round
        # signature match either way.
        e = raw_loop.filter(F.col("u") != F.col("v"))
        # One parsed SQL statement per round instead of ~15 DataFrame
        # API calls: each API call is a py4j round trip + an eager
        # analyzer pass, measured at ~0.25 s of pure driver time per
        # round — the loop's data work is often smaller than that.
        # large-star: every neighbor v > u links to min(N(u) ∪ {u});
        # small-star: edges then point big→small and every smaller
        # neighbor (and u itself) links to min(N(u) ∪ {u}).  No
        # intermediate distinct between the stars — duplicates cannot
        # change small-star's min and the closing DISTINCT dedups.
        round_sql = """
            WITH sym AS (
              SELECT u, v FROM {e} UNION ALL SELECT v AS u, u AS v FROM {e}
            ),
            lmin AS (
              SELECT u, least(min(v), u) AS m FROM sym GROUP BY u
            ),
            large AS (
              SELECT s.v AS u, l.m AS v
              FROM sym s JOIN lmin l ON s.u = l.u
              WHERE s.v > s.u AND s.v <> l.m
            ),
            smin AS (
              SELECT u, least(min(v), u) AS m FROM large GROUP BY u
            )
            SELECT DISTINCT u, v FROM (
              SELECT lg.v AS u, sm.m AS v
              FROM large lg JOIN smin sm ON lg.u = sm.u
              UNION ALL
              SELECT u, m AS v FROM smin
            ) WHERE u <> v
        """
        prev_sig = None
        for _ in range(25):  # round cap; dense dup clusters converge in ~2
            obs = Observation()
            e = (
                loop.sql(round_sql, e=e)
                # convergence signature (order-independent: count +
                # bit_xor of pair hashes) collected DURING the
                # checkpoint materialization — zero extra actions
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64("u", "v")).alias("x"),
                )
                .localCheckpoint()
            )
            got = obs.get
            sig = (got["n"], got["x"])
            if prev_sig == sig:
                break
            prev_sig = sig
            pin_loop_conf(got["n"])
        # hand the converged (checkpointed) edge relation back to the
        # caller's session, so the final assembly below plans and runs
        # under the caller's configuration
        e.createOrReplaceGlobalTempView(view)
        e = spark.table(f"global_temp.{view}")
    finally:
        spark.catalog.dropGlobalTempView(view)
    # fixed point is a star per component: u → component-min v
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    linked = members.union(roots)
    # nodes that appeared ONLY in self-loop edges were dropped by the
    # u != v filter and have no star — the contract is one row per node
    # appearing in `edges`, so they come back as their own component
    singletons = nodes.join(linked.select("node"), "node", "left_anti").withColumn(
        "component", F.col("node")
    )
    return linked.union(singletons)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, *, bits: int = 16) -> DataFrame:
    """(id, simhash): bit-vote signature over distinct tokens; near-dups
    differ in few bits (compare with Hamming distance downstream).

    The signature is a pure per-row fold (hash each distinct token once,
    then vote each bit over the hash array) — a narrow map over the
    corpus with zero shuffles, versus the crossJoin(bit positions) +
    double groupBy a relational formulation would pay."""
    df = fan_out(df)
    h = H60.format(expr="t")
    sig = F.expr(
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, j) -> acc + "
        "case when aggregate(hs, 0, (a, hv) -> "
        "a + case when (hv >> j) & 1 = 1 then 1 else -1 end) >= 0 "
        # bigint 1, not int: shiftleft on an int literal wraps at bit 31,
        # aliasing high bits onto low ones for bits > 31 signatures
        "then shiftleft(cast(1 as bigint), j) else 0 end)"
    )
    return (
        df.withColumn("toks", F.array_distinct(tokens("text")))
        .filter(F.size("toks") >= 1)
        .withColumn("hs", F.expr(f"transform(toks, t -> {h})"))
        .select("doc_id", sig.alias(f"simhash{bits}"))
    )


def drop_duplicates_against(new: DataFrame, corpus: DataFrame) -> DataFrame:
    """Incremental ingestion dedup: from ``new``, keep one row per
    content hash (min id) that does not already exist in ``corpus``.

    The corpus side reduces to its distinct content hashes before the
    anti join — at 100 TB that hash set is the only thing shuffled (or
    becomes a bloom-filter pre-pass), never the corpus text; daily
    refreshes pay for the delta, not the archive.  The hash is the FULL
    128-bit md5 (like the exact-dedup family), not the 60-bit H60: at
    ~1.3B corpus docs a 60-bit key has even odds of one collision, and
    each collision anti-joins a genuinely new document away silently.

    Rows with a NULL ``text`` PASS THROUGH untouched (all of them,
    not a collapsed representative): a missing text has no content hash,
    so it can neither be proven a duplicate of the corpus nor of another
    NULL-text row — content dedup has no say over it.  Filter them
    upstream if ingestion should reject them.
    """
    h = F.md5(F.col("text").cast("binary"))
    with_text = new.filter(F.col("text").isNotNull())
    no_text = new.filter(F.col("text").isNull())
    corpus_hashes = (
        corpus.filter(F.col("text").isNotNull()).select(h.alias("_ch")).distinct()
    )
    batch_keepers = (
        with_text.withColumn("_ch", h)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_ch").orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        batch_keepers.join(corpus_hashes, "_ch", "left_anti")
        .drop("_ch")
        .unionByName(no_text)
    )


def hot_span_scrub(
    df: DataFrame,
    *,
    n: int = 5,
    min_count: int = 2,
    toks_col: "str | None" = None,
) -> DataFrame:
    """Exact-substring (hot-span) dedup summary, the distributed shape of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): any run of ``n`` consecutive tokens occurring ``min_count``+
    times across the corpus (multiplicity — a within-document repeat
    counts) is a scrub candidate; overlapping flagged n-grams merge into
    maximal spans.  Returns per-document
    ``(id, n_tokens, n_spans, n_scrubbed, keep_ratio)``.

    This is the conservative scrub-ALL-copies variant — composing with
    :func:`exact_groups` (keep one canonical copy first) recovers the
    keep-one behavior.  Distributed shape: positioned n-grams shuffle
    once by gram for the corpus count, flagged positions shuffle once by
    document for the interval merge (per-document window — state is one
    document's flagged positions, never the corpus).  No driver-side
    loops; every stage is linear in total tokens.

    ``toks_col`` names an ALREADY-tokenized array column to scrub from —
    multi-consumer pipelines that materialize the token array once
    (pipe03's checkpointed corpus) skip the second tokenize pass and the
    fan-out shuffle here.
    """
    if toks_col is not None:
        toks = df.select("doc_id", F.col(toks_col).alias("toks"))
    else:
        # materialize the token arrays once: three consumers below (the
        # n-gram corpus count, the flagged-position side of the join,
        # and the per-doc n_tokens base) each replay the scan+tokenize
        # otherwise — the r10 plan ran THREE full tokenize passes over
        # the corpus per execution (guide §2.4: share one pass between
        # consumers; pipelines that already hold a token column pass
        # toks_col and skip this).  The checkpoint is ~1× corpus tokens,
        # the same order as the exploded shuffle it feeds.
        toks = (
            fan_out(df)
            .select("doc_id", tokens("text").alias("toks"))
            .localCheckpoint(eager=False)
        )
    sh = toks.select(
        F.col("doc_id"),
        F.size("toks").alias("n_tokens"),
        F.posexplode(shingle_array("toks", n)).alias("pos", "gram"),
    )
    hot = (
        sh.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gram")
    )
    flagged = sh.join(hot, "gram").select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_span = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    spans = (
        flagged.withColumn("span_id", F.sum(new_span).over(w))
        .groupBy("doc_id", "span_id")
        .agg(F.min("pos").alias("s"), (F.max("pos") + n).alias("e"))
    )
    summary = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("n_scrubbed"),
    )
    base = toks.select(F.col("doc_id"), F.size("toks").alias("n_tokens"))
    return (
        base.join(summary, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_scrubbed", F.lit(0)).cast("bigint").alias("n_scrubbed"),
            F.round(
                1.0
                - F.coalesce("n_scrubbed", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                4,
            ).alias("keep_ratio"),
        )
    )


def dedup_lines_global(df: DataFrame) -> DataFrame:
    """C4-style GLOBAL line-level deduplication (Raffel et al. 2020
    §2.2 dedupe three-sentence spans; the line-granular variant used by
    most C4 reproductions): every distinct line survives exactly once
    in the whole corpus — in the document where it first occurs
    (smallest ``doc_id``, then smallest line index) — and is removed
    from every other document.  Returns one row per input doc:
    ``(id, text_dedup, n_kept, n_dropped)``; a doc whose every line is
    owned elsewhere comes back with an empty string.

    Scale design: the first-occurrence winner per line is a
    ``groupBy(line).agg(min(struct(id, idx)))`` — partial aggregation
    combines map-side, so the one pathological hot key (the empty
    line, which appears in nearly every document) costs one combined
    row per input partition rather than a data-sized skewed window
    partition (``row_number over partitionBy(line)`` would put the
    whole corpus's blank lines in ONE task).  The join back is on the
    line key with the same distribution.  NULL text and NULL ids are
    excluded (an unkeyed doc has no deterministic claim to first
    occurrence); callers pre-`distinct` duplicate-ingested corpora —
    this is an entity-keyed op.
    """
    docs = df.filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    ).select("doc_id", "text")
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("idx", "line"),
    )
    winners = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "idx")).alias("w")
    )
    kept = lines.join(winners, "line").filter(
        (F.col("doc_id") == F.col("w.doc_id")) & (F.col("idx") == F.col("w.idx"))
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_lines = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), "\n")).alias("n_lines"),
    )
    return (
        n_lines.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )
