"""Deterministic, reproducible sampling for training-data pipelines.

``df.sample()`` is seed-dependent on partitioning and row order — a
repartition or a source re-split silently changes which rows are kept.
These operators decide membership from a *content hash* of a stable key,
so the sample is a pure function of (key, salt, fraction): reproducible
across runs, clusters, engines, and partitionings; new rows don't
disturb the membership of old rows (consistent sampling); and a row's
fate for fraction f1 < f2 is nested (the f1 sample is a subset of the
f2 sample), which is what ablation ladders need.

All hashing is the engine-wide md5-60bit (``dedup.H60``), so oracles
can replay membership bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_batch_spark.llmops.dedup import H60

_BUCKETS = 1_000_000


def _h60(key_col: str, salt: str) -> Column:
    """The engine-wide salted 60-bit content hash of a key column — the
    single definition every sampler derives from.  The salt is escaped
    into the SQL literal, so salts carrying quotes cannot break the
    expression."""
    lit = salt.replace("'", "''")
    return F.expr(H60.format(expr=f"concat('{lit}', '|', cast({key_col} as string))"))


def hash_bucket(key_col: str, *, salt: str = "s0", n_buckets: int = _BUCKETS) -> Column:
    """Uniform bucket in [0, n_buckets) from (salt, key) — the sampling die."""
    return F.pmod(_h60(key_col, salt), F.lit(n_buckets))


def hash_sample(df: DataFrame, *, key_col: str, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, membership decided by key hash.
    Narrow map + filter: no shuffle, no state, pushdown-friendly."""
    return df.filter(hash_bucket(key_col) < int(fraction * _BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    *,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Per-stratum reproducible sampling — the training-mix primitive
    ("keep 100% of books, 10% of web, 0% of the rest").  The per-row
    threshold is a small CASE over ``strata_col``; membership still
    depends only on (salt, key), so changing one stratum's fraction
    never reshuffles another stratum's sample."""
    thresh: Column = F.lit(0)
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(int(frac * _BUCKETS))
        ).otherwise(thresh)
    return df.filter(hash_bucket(key_col) < thresh)


def temperature_mixture_sample(
    df: DataFrame,
    *,
    key_col: str,
    strata_col: str,
    alpha: float = 0.5,
    total_fraction: float = 0.5,
) -> DataFrame:
    """Temperature-reweighted training mixture: per-stratum keep rates
    ∝ n_s^alpha (alpha < 1 upweights small/rare sources, alpha = 1 is
    natural proportions — the multilingual/data-mixture trick from
    mBERT/T5/PaLM), scaled so the expected kept volume is
    ``total_fraction`` of the corpus, capped at 100% per stratum.

    The stratum sizes are a tiny aggregate joined back by broadcast —
    no collect, no second pass over the data; membership stays the
    pure (salt, key) hash, so re-running with a different alpha never
    reshuffles which rows of an unchanged-rate stratum are kept.
    """
    # sqrt for the canonical alpha=0.5: exactly rounded per IEEE-754 in
    # every engine, unlike pow(x, 0.5) — keeps thresholds replayable.
    sizes = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_s"))
    weight = (
        F.sqrt(F.col("n_s").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_s").cast("double"), F.lit(alpha))
    )
    # strata-count-sized state, materialized once: the totals aggregate
    # below and the rates projection both consume it, and without the
    # checkpoint EACH replays the full groupBy over the input — a whole
    # extra pass over the corpus per run (guide §2.4; measured in
    # pipe04's round-11 plan: two identical sizes aggregations, each a
    # corpus scan + exchange).  The checkpoint is |strata| rows.
    weighted = sizes.withColumn("w_s", weight).localCheckpoint(eager=False)
    totals = weighted.agg(
        F.sum("n_s").cast("double").alias("n_total"),
        F.sum("w_s").alias("w_total"),
    )
    rates = weighted.crossJoin(F.broadcast(totals)).select(
        F.col(strata_col).alias("__tm_stratum"),
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(total_fraction)
                * F.col("n_total")
                * (F.col("w_s") / F.col("w_total"))
                / F.col("n_s"),
            )
            * _BUCKETS
        )
        .cast("long")
        .alias("threshold"),
    )
    # null-safe join: a NULL stratum is a stratum like any other — a plain
    # equi-join would count it in the totals but then silently drop every
    # NULL-stratum row AND deflate the other strata's realized volume
    return (
        df.join(
            F.broadcast(rates),
            F.col(strata_col).eqNullSafe(F.col("__tm_stratum")),
        )
        .drop("__tm_stratum")
        .filter(hash_bucket(key_col) < F.col("threshold"))
    )


def weighted_hash_sample(df: DataFrame, *, key_col: str, weight_col: str) -> DataFrame:
    """Importance sampling: each row's keep probability IS its weight
    (clamped to [0, 1]) — the quality-weighted data-selection primitive
    (keep good documents with high probability, junk with low, without
    a hard threshold's cliff).  Membership stays the pure (salt, key)
    hash against a per-row threshold, so the sample remains
    reproducible, partition-independent, and monotone in the weight: a
    document's fate only flips if its weight crosses its own die roll.
    """
    thresh = F.floor(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.col(weight_col))) * _BUCKETS
    ).cast("long")
    return df.filter(hash_bucket(key_col) < thresh)


def fixed_quota_sample(
    df: DataFrame,
    *,
    key_col: str,
    strata_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Exactly-N-per-stratum deterministic sample (eval-set carve-outs,
    per-source audit quotas): rows rank by their (salt, key) hash within
    each stratum and the first N win.  Unlike fraction sampling the
    quota is exact; membership is still content-addressed, so a stratum
    that grows only displaces rows at the hash boundary, it never
    reshuffles the whole sample.  One shuffle+rank per call.

    ``key_col`` must uniquely identify rows: duplicate keys share a
    (hash, key) sort tuple, so which duplicate wins at the quota
    boundary would depend on physical row order — exactly the
    instability content addressing exists to prevent."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(key_col), F.col(key_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def shuffle_order(df: DataFrame, *, key_col: str) -> DataFrame:
    """Reproducible global training-data shuffle: a 1-based position in
    the pseudorandom permutation ``ORDER BY md5(salt|key)`` — the order
    a training run should read the corpus in.

    Hash-derived, so the permutation is a pure function of (salt, key):
    identical across runs, engines and partitionings (epoch N = salt
    ``f"epoch{N}"``), and stable under corpus growth in the sense that
    relative order of surviving rows never changes.  The ranking runs
    through :func:`~etl_batch_spark.operators.ranks.global_row_number`
    — range-sliced parallel ranking, NOT a single-task global window —
    so it survives 100 TB; writing in rank order then falls out of a
    ``repartitionByRange`` + ``sortWithinPartitions`` on the rank.
    """
    from etl_batch_spark.operators.ranks import global_row_number

    hashed = df.withColumn("__sh", _h60(key_col, "shuf"))
    return global_row_number(
        hashed, [F.col("__sh").asc(), F.col(key_col).asc()], "shuffle_rank"
    ).drop("__sh")


def quantile_calibrate(df: DataFrame, *, score_col: str, group_col: str) -> DataFrame:
    """Per-group quantile normalization: replace each row's score with
    its PERCENT_RANK within its group — uniform on [0, 1] per group.

    The curation problem this solves: quality scores from heterogeneous
    sources live on incompatible scales (a 0.6 from crawl A ≠ a 0.6
    from curated source B), so one global threshold silently keeps 90%
    of one source and 2% of another.  Calibrated scores make a single
    global cut take the SAME top fraction from every source; mixture
    weights then control composition explicitly (sm03) instead of
    leaking in through score-scale accidents.

    percent_rank depends only on (score ordering, group) — ties share a
    rank — so it is deterministic without a tiebreak column and exactly
    reproducible in any engine ((rank-1)/(n-1) on small ints).  A NULL
    score stays NULL ("unknown quality"), and NULL rows are excluded
    from the ranks — otherwise NULLS-FIRST ordering would brand them
    "worst quality" AND push every real score's rank toward 1.  The
    window is partitioned per group; if one mega-source dominates at
    100 TB, pre-split it with the range-partitioned rank pattern in
    ``operators/ranks.py`` and union the offsets.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy(score_col)
    scored = (
        df.filter(F.col(score_col).isNotNull())
        .withColumn("calibrated", F.round(F.percent_rank().over(w), 6))
    )
    unscored = df.filter(F.col(score_col).isNull()).withColumn(
        "calibrated", F.lit(None).cast("double")
    )
    return scored.unionByName(unscored)


def shard_assign(df: DataFrame, *, key_col: str, n_shards: int) -> DataFrame:
    """Add a deterministic ``shard`` column in [0, n_shards).

    Training-data sharding needs a *global* shuffle — examples that were
    adjacent in the source (same crawl, same day) must not land in the
    same shard run — but a true global sort of 100 TB is a full range
    exchange.  Hashing (salt, key) gives shard placement that is (a)
    independent of input partitioning and row order, (b) reproducible
    across runs and engines, (c) a narrow map — the only shuffle is the
    final ``repartition(shard)`` at write time, and within a shard rows
    are ordered by a second hash, never globally.
    """
    return df.withColumn(
        "shard", hash_bucket(key_col, salt="shard", n_buckets=n_shards).cast("int")
    )


def weighted_topk_sample(df: DataFrame, *, key_col: str, weight_col: str, k: int) -> DataFrame:
    """Exactly-k weighted sample WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws priority ``u^(1/w)`` from its
    deterministic (salt, key) uniform ``u`` and the k highest
    priorities win — inclusion probability proportional to weight, no
    two-pass normalization, no replacement bookkeeping.

    Distributed cost is a TakeOrdered (per-partition top-k then a k-row
    driver merge), NOT a global sort — the same plan shape at 60k rows
    and 100 TB.  Rows with non-positive weight are excluded.  Selection
    orders by the UNROUNDED priority: for large weights u^(1/w) crowds
    toward 1.0 and a rounded value saturates at 1.000000, collapsing
    A-ES into lowest-key selection — doubles near 1 still resolve
    ~1e-16, so the proportional-to-weight guarantee holds to w ~ 1e8.
    The output ``priority`` column is rounded for display/compare only;
    ties break on the key for determinism.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = (hash_bucket(key_col) + F.lit(0.5)) / F.lit(float(_BUCKETS))
    raw = F.pow(u, F.lit(1.0) / F.col(weight_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__pri", raw)
        .orderBy(F.desc("__pri"), F.asc(key_col))
        .limit(k)
        .withColumn("priority", F.round(F.col("__pri"), 6))
        .drop("__pri")
    )
