"""Distribution-drift detection between two dataset slices.

The training-data monitoring primitive: before a new crawl/date-range
joins the corpus (or a model retrains), compare its feature
distributions against the reference window.  PSI (population stability
index) is the standard score — ``Σ (q_i − p_i) · ln(q_i / p_i)`` over
bucket shares, with the usual reading: < 0.1 stable, 0.1–0.25 drifting,
> 0.25 shifted.

Determinism: bucket counts are exact integers, shares are Laplace-
smoothed ``(c + 1) / (N + K)`` — identical divisions in any engine, and
add-one smoothing makes buckets absent from one side well-defined
instead of a ln(0).  The final sum is rounded to 4dp (the
token-entropy discipline for ln-carrying outputs).

Scale shape: each side reduces to (bucket, count) partials — one
partial-aggregated shuffle each, merged with a full-outer equi-join on
the bucket; the PSI fold runs over the bucket table (bounded by bucket
cardinality, never rows).  Numeric columns bucket via the same
``floor(value / width)`` binning the histogram sketch uses
(operators/sketch.py), so drift can also be scored from STORED
day-partials without touching raw history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def psi(ref: DataFrame, cur: DataFrame, *, bucket_col: str) -> DataFrame:
    """1-row ``(psi, n_ref, n_cur, n_buckets)`` between two slices.

    ``bucket_col`` is any categorical column (pre-bin numeric columns
    with ``floor(col / width)``).
    """
    rc = ref.groupBy(F.col(bucket_col).alias("b")).agg(
        F.count(F.lit(1)).alias("c_ref")
    )
    cc = cur.groupBy(F.col(bucket_col).alias("b")).agg(
        F.count(F.lit(1)).alias("c_cur")
    )
    both = (
        rc.join(cc, "b", "full_outer")
        .select(
            "b",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        )
    )
    tot = both.agg(
        F.sum("c_ref").alias("n_ref"),
        F.sum("c_cur").alias("n_cur"),
        F.count(F.lit(1)).alias("k"),
    )
    shares = both.crossJoin(F.broadcast(tot)).select(
        "n_ref",
        "n_cur",
        "k",
        ((F.col("c_ref") + 1) / (F.col("n_ref") + F.col("k"))).alias("p"),
        ((F.col("c_cur") + 1) / (F.col("n_cur") + F.col("k"))).alias("q"),
    )
    # aggregate from `tot` (a global agg — ALWAYS one row) rather than
    # grouping `shares`: when both slices are empty, a groupBy over the
    # empty shares frame would return zero rows and break the documented
    # 1-row contract (psi NULL, counts 0 is the honest empty answer)
    contrib = shares.agg(
        F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))).alias("s")
    )
    return tot.crossJoin(F.broadcast(contrib)).select(
        F.round(F.col("s"), 4).alias("psi"),
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        F.col("k").alias("n_buckets"),
    )


def cusum_flags(
    daily: DataFrame,
    *,
    group_col: str,
    order_col: str,
    value_col: str,
    drift: int = 1,
    threshold: int = 5,
) -> DataFrame:
    """Two-sided CUSUM change-point detection over per-period INTEGER
    counts (Page 1954): within each ``group_col`` (the monitoring
    window, e.g. year),

        s⁺_t = max(0, s⁺_{t-1} + (x_t − k⁺)),   k⁺ = ceil(mean) + drift
        s⁻_t = max(0, s⁻_{t-1} + (k⁻ − x_t)),   k⁻ = floor(mean) − drift

    and a period is flagged when either side exceeds ``threshold``.

    Everything stays integer: x_t is a count, the reference levels k±
    come from an exact integer sum / count (floor/ceil of a ratio of
    exact doubles), so the recursion is bit-identical in any engine —
    the property that lets a DuckDB recursive CTE oracle-check a
    sequential detector.  The clamped recursion has no window form, so
    it runs as ``applyInPandas`` per group — over the PER-PERIOD
    AGGREGATE (|periods| rows per group, e.g. ≤366), never raw rows;
    groups parallelize across the cluster and the state resets at group
    boundaries, which is also the honest monitoring semantics.

    Output: ``(group, order, x, s_plus, s_minus, flagged)`` per period.
    """
    import pandas as pd

    # `daily` feeds both the stats aggregate and the join below; it is a
    # per-period aggregate (≤ |periods| rows per group) but its UPSTREAM
    # lineage is typically a full raw-table groupBy — materialize once so
    # the raw scan doesn't run twice.
    daily = daily.localCheckpoint(eager=True)
    stats = daily.groupBy(group_col).agg(
        F.sum(value_col).alias("__sum"), F.count(F.lit(1)).alias("__n")
    )
    with_k = daily.join(F.broadcast(stats), group_col).select(
        group_col,
        order_col,
        F.col(value_col).cast("long").alias("x"),
        (F.ceil(F.col("__sum") / F.col("__n")) + drift).cast("long").alias("k_hi"),
        (F.floor(F.col("__sum") / F.col("__n")) - drift).cast("long").alias("k_lo"),
    )

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in with_k.schema
        if f.name in (group_col, order_col)
    )
    schema = (
        f"{out_fields}, x long, s_plus long, s_minus long, flagged boolean"
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        s_plus, s_minus = 0, 0
        sp, sm = [], []
        k_hi, k_lo = int(pdf["k_hi"][0]), int(pdf["k_lo"][0])
        for x in pdf["x"].astype("int64"):
            s_plus = max(0, s_plus + (int(x) - k_hi))
            s_minus = max(0, s_minus + (k_lo - int(x)))
            sp.append(s_plus)
            sm.append(s_minus)
        pdf["s_plus"] = sp
        pdf["s_minus"] = sm
        pdf["flagged"] = (pdf["s_plus"] > threshold) | (pdf["s_minus"] > threshold)
        return pdf[[c.split(" ")[0] for c in schema.split(", ")]]

    return with_k.groupBy(group_col).applyInPandas(walk, schema)
