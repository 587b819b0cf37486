"""Engine-portable HyperLogLog distinct-count sketch.

Spark's native Datasketches HLL (binary sketches, ``hll_union_agg``)
is maximally efficient but engine-specific, so its estimates can only
be closeness-tested.  This module is the complementary design point: a
deterministic HLL (Flajolet et al. 2007) built from the same md5-based
60-bit hash the MinHash oracle uses, so ANY engine that can md5 computes
bit-identical registers and the whole sketch pipeline — including
upward merges — is exactly oracle-checkable.

Register layout: p=8 → m=256 registers; ``idx = h mod 256``; the
remaining 52 bits ``w = h div 256`` give ``rho = 53 - bitlength(w)``
(leading-zero count + 1, 53 when w = 0).  Partials are plain
``(bucket, idx, max_rho)`` rows — mergeable upward with MAX, the same
associativity argument as the numeric rollup partials, storable as
ordinary parquet next to them.

Estimator: raw HLL ``alpha·m²/Σ2^-rho`` (absent registers contribute
2⁰ = 1) with the standard linear-counting correction below 2.5·m.
The raw branch is bit-exact across engines (sums of dyadic rationals);
the linear branch inherits libm's ~1e-8 ``ln`` spread, so estimates are
reported rounded to 2 decimals.  The 60-bit hash makes the large-range
correction irrelevant at any realistic cardinality.

At 100 TB: registers are (buckets × 256) rows regardless of row count —
partial-aggregated map-side, one shuffle; merges touch registers only,
never raw data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_batch_spark.llmops.dedup import H60

P_BITS = 8  # 256 registers
CMS_DEPTH, CMS_WIDTH = 4, 256  # count-min hash rows x counters per row


def hll_register_cols_from_hash(h: str) -> "tuple[Column, Column]":
    """(idx, rho) derived from an ALREADY-HASHED 60-bit expression or
    column name ``h`` — the single-hash form (hash once into a named
    column, then derive both coordinates from it)."""
    m = 1 << P_BITS
    base = 61 - P_BITS
    idx = F.expr(f"pmod({h}, {m})").cast("int")
    w = f"(({h}) div {m})"
    rho = F.expr(
        f"case when {w} = 0 then {base} else {base} - length(bin({w})) end"
    ).cast("int")
    return idx, rho


def hll_partials(df: DataFrame, *, key_col: str, bucket: Column) -> DataFrame:
    """(bucket, idx, max_rho): the mergeable register table.  NULL keys
    are ignored (COUNT DISTINCT semantics) — md5(NULL) is NULL, and a
    phantom idx=NULL register would inflate n_present in the estimator
    while contributing nothing to the register sum.

    The key hashes ONCE into a named column; idx and rho derive from
    it (embedding the hash in both expressions would md5 every key
    twice — Spark does not CSE across Column objects)."""
    h = H60.format(expr=f"cast({key_col} as string)")
    idx, rho = hll_register_cols_from_hash("h60")
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(bucket.alias("bucket"), F.expr(h).alias("h60"))
        .select("bucket", idx.alias("idx"), rho.alias("rho"))
        .groupBy("bucket", "idx")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(partials: DataFrame, bucket: Column) -> DataFrame:
    """Merge finer partials upward (e.g. day → month): MAX per register."""
    return (
        partials.select(bucket.alias("bucket"), "idx", "max_rho")
        .groupBy("bucket", "idx")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def _hll_alpha(m: int) -> str:
    """Standard HLL bias constant as an exact SQL expression (Flajolet
    et al. 2007 §4): fixed values below m=128, the asymptotic formula
    at and above.  A string so both engines fold it identically."""
    if m <= 16:
        return "0.673"
    if m <= 32:
        return "0.697"
    if m <= 64:
        return "0.709"
    return f"0.7213 / (1.0 + 1.079 / {m}.0)"


def hll_estimate(partials: DataFrame) -> DataFrame:
    """(bucket, est_distinct, est_branch) from a register table.

    The register count m = 2^P_BITS enters the bias constant, the
    linear-counting threshold and the absent-register term, so it is the
    one module constant that :func:`hll_register_cols_from_hash` also
    builds the partials with."""
    m = 1 << P_BITS
    alpha = _hll_alpha(m)
    agg = partials.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("pow(2.0, -max_rho)")).alias("s_present"),
    )
    s = F.expr(f"({m} - n_present) * 1.0") + F.col("s_present")
    e_raw = F.expr(f"{alpha} * {m}.0 * {m}.0") / s
    v = F.expr(f"{m} - n_present")
    linear = (e_raw <= F.lit(2.5 * m)) & (v > 0)
    est = F.when(linear, F.expr(f"{m}.0 * ln({m}.0 / ({m} - n_present))")).otherwise(
        e_raw
    )
    return agg.select(
        "bucket",
        F.round(est, 2).alias("est_distinct"),
        F.when(linear, F.lit("linear")).otherwise(F.lit("raw")).alias("est_branch"),
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram quantile sketch — the quantile member of the
# mergeable-partials family (numeric rollup: operators/rollup.py;
# distincts: portable HLL above).  Bins are floor(value / width): pure
# IEEE arithmetic, so — unlike log-spaced bins, whose ln() boundary
# rows could land differently across engines — every engine bins every
# row identically and the sketch is exactly oracle-checkable.  Counts
# merge by SUM (associative); the estimator linearly interpolates
# inside the target bin.  Accuracy is ±width; choose width from the
# value scale (an et17-style profile pass).  At 100 TB partials are
# (buckets × occupied bins) rows, partial-aggregated map-side.
# ---------------------------------------------------------------------------


def hist_partials(df: DataFrame, *, value_col: str, bucket: Column, width: float) -> DataFrame:
    """(bucket, bin, cnt): mergeable fixed-width histogram partials.
    NULL values are ignored (aggregate semantics) — a bin=NULL row
    would sort first in the quantile cumulative sum and corrupt every
    estimate."""
    b = F.floor(F.col(value_col) / F.lit(width)).cast("bigint")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(bucket.alias("bucket"), b.alias("bin"))
        .groupBy("bucket", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(partials: DataFrame, bucket: Column) -> DataFrame:
    """Merge finer partials upward: SUM per bin."""
    return (
        partials.select(bucket.alias("bucket"), "bin", "cnt")
        .groupBy("bucket", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_partials(df: DataFrame, *, key_col: str, bucket: Column) -> DataFrame:
    """(bucket, r, c, cnt): mergeable count-min-sketch counters.

    The frequency member of the mergeable-partials family (Cormode &
    Muthukrishnan 2005): ``CMS_DEPTH`` md5-derived hash rows ×
    ``CMS_WIDTH`` counters.
    Counters SUM-merge upward like the histogram bins; a point estimate
    is the MIN over the key's ``CMS_DEPTH`` counters (:func:`cms_estimate`) —
    an upper bound on the true count with error ≤ 2N/w at confidence
    1 − 2^-d.  At 100 TB the sketch is (buckets × d × w) rows no matter
    the event count, partial-aggregated map-side in one shuffle.
    """
    rows = F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("r")
    # NULL keys are excluded like hll_partials/hist_partials do: they
    # would hash to NULL and emit d phantom (r, c=NULL) counter rows per
    # bucket, inflating sum(cnt)-derived N and merging upward forever
    keyed = df.filter(F.col(key_col).isNotNull()).select(
        bucket.alias("bucket"), F.col(key_col).alias("k"), rows
    )
    h = H60.format(expr="concat(cast(r as string), '|', cast(k as string))")
    return (
        keyed.withColumn("c", F.expr(f"pmod({h}, {CMS_WIDTH})").cast("int"))
        .groupBy("bucket", "r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(partials: DataFrame, bucket: Column) -> DataFrame:
    """Merge finer partials upward (e.g. day → month): SUM per counter."""
    return (
        partials.select(bucket.alias("bucket"), "r", "c", "cnt")
        .groupBy("bucket", "r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(partials: DataFrame, probes: DataFrame, *, key_col: str) -> DataFrame:
    """(bucket, key, est_count) point queries against a counter table.

    ``probes`` is the (small) key list to interrogate; its (key, r, c)
    coordinates broadcast against the counter table per bucket — absent
    counters read 0.  MIN over the d counters gives the estimate.
    """
    rows = F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})")).alias("r")
    h = H60.format(expr="concat(cast(r as string), '|', cast(k as string))")
    coords = (
        probes.select(F.col(key_col).alias("k"), rows)
        .withColumn("c", F.expr(f"pmod({h}, {CMS_WIDTH})").cast("int"))
    )
    spine = (
        partials.select("bucket").distinct()
        .crossJoin(F.broadcast(coords))
    )
    return (
        spine.join(partials, ["bucket", "r", "c"], "left")
        .withColumn("cnt0", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy("bucket", "k")
        .agg(F.min("cnt0").alias("est_count"))
        .withColumnRenamed("k", key_col)
    )


def hist_quantiles(
    partials: DataFrame,
    *,
    width: float,
    qs: "tuple[float, ...]" = (0.5, 0.9, 0.99),
) -> DataFrame:
    """(bucket, q, est): per-bucket quantile estimates from a histogram.

    target = q·total; the answer bin is the first whose running count
    reaches target, and the estimate interpolates linearly inside it:
    ``bin·w + w·(target − cum_before)/cnt_bin``.  The per-(bucket, q)
    window ranks occupied bins — bounded by the bin count, never by rows.

    NULL-bucket semantics (round 10's window form): a NULL bucket IS a
    window partition, so partials with a NULL bucket produce quantile
    rows for it (the pre-r10 groupBy+equi-join silently dropped them).
    Callers whose bucket can be NULL must pre-filter if they want the
    old behavior — audited: pipe03 filters ``bin IS NOT NULL`` and
    re-keys on non-null sources; et24's NULL event_type rows would drop
    in its downstream equi-join on both engines either way.
    """
    from pyspark.sql import Window

    # total as an unbounded window over the SAME partitioning as the
    # cumulative sum — one exchange serves both, where a groupBy(total)
    # + broadcast join back cost an extra aggregate exchange and a join
    # per call (this operator runs inside et24/pipe03/q97's plans)
    w_cum = Window.partitionBy("bucket").orderBy("bin")
    w_all = Window.partitionBy("bucket")
    cum = (
        partials.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
        .withColumn("total", F.sum("cnt").over(w_all))
    )
    q_df = partials.sparkSession.createDataFrame([(q,) for q in qs], "q double")
    cand = (
        cum.crossJoin(F.broadcast(q_df))
        .withColumn("target", F.col("q") * F.col("total"))
        .filter(F.col("cum") >= F.col("target"))
    )
    w_pick = Window.partitionBy("bucket", "q").orderBy("bin")
    return (
        cand.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "bucket",
            "q",
            F.round(
                F.col("bin") * F.lit(width)
                + F.lit(width)
                * (F.col("target") - F.col("cum_before"))
                / F.col("cnt"),
                4,
            ).alias("est"),
        )
    )
