"""Scale-safe global ranking.

A bare ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY collapses
the whole input onto ONE task (`WindowExec: No Partition Defined`) — fine
on a bounded aggregate, a cluster-killer on a growing table.  The
scale-safe equivalent splits the keyspace into contiguous range slices
(sampled boundaries, the mechanism of ``repartitionByRange``),
ranks inside each slice in parallel, and re-bases each slice by the total
row count of the slices before it:

    global_rank(row) = local_rank(row within slice) + rows_in_earlier_slices

The per-slice counts are a ``num_partitions``-row aggregate — the only
serial step, and it is O(#partitions), not O(#rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__gr_pid"
_LOCAL = "__gr_local"
_OFFSET = "__gr_offset"


def global_prefix_agg(
    df: DataFrame,
    sort_cols: list[Column],
    value_col: Column,
    out_name: str,
    *,
    agg: str = "sum",
    inclusive: bool = True,
    num_partitions: int = 32,
) -> DataFrame:
    """Append a running ``sum``/``max`` of ``value_col`` over the global
    ordering ``sort_cols`` — the scale-safe form of
    ``SUM(v) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 0|-1)``.

    Same slice mechanics as :func:`global_row_number`: range-partition on
    the ordering, run the prefix aggregate per slice in parallel, then
    re-base each slice with the aggregate of all earlier slices (computed
    by a window over the ``num_partitions``-row slice-totals table — the
    only serial step, O(#slices) not O(#rows)).

    ``inclusive=False`` aggregates strictly preceding rows only (frame
    ``.. AND -1``); the first row of the whole ordering then gets NULL.
    ``sort_cols`` should form a total order (unique tiebreak) so slice
    boundaries cannot split ties nondeterministically.
    """
    if agg not in ("sum", "max"):
        raise ValueError(f"agg must be 'sum' or 'max', got {agg!r}")
    fn = F.sum if agg == "sum" else F.max
    sliced = df.repartitionByRange(num_partitions, *sort_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    end = 0 if inclusive else -1
    w_local = (
        Window.partitionBy(_PID)
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = sliced.withColumn(_LOCAL, fn(value_col).over(w_local))

    totals = sliced.groupBy(_PID).agg(fn(value_col).alias("__gr_t"))
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        F.col(_PID).alias(f"__gr_r_{_PID}"),
        fn("__gr_t").over(w_off).alias(_OFFSET),
    )

    combined = (
        (F.coalesce(F.col(_LOCAL), F.lit(0)) + F.coalesce(F.col(_OFFSET), F.lit(0)))
        if agg == "sum"
        else F.greatest(F.col(_LOCAL), F.col(_OFFSET))
    )
    # NULL only when no row precedes anywhere (exclusive first row):
    # greatest/+0 must not invent a value there.
    combined = F.when(
        F.col(_LOCAL).isNull() & F.col(_OFFSET).isNull(), F.lit(None)
    ).otherwise(combined)
    return (
        local.join(
            F.broadcast(offsets),
            F.col(_PID) == F.col(f"__gr_r_{_PID}"),
            "left",
        )
        .withColumn(out_name, combined)
        .drop(_PID, _LOCAL, _OFFSET, f"__gr_r_{_PID}")
    )


def global_row_number(
    df: DataFrame,
    sort_cols: list[Column],
    out_name: str,
    *,
    partition_cols: "list[str] | None" = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Append a 1-based row number ordered by ``sort_cols``.

    With ``partition_cols`` the numbering restarts per partition value —
    the scale-safe form of ``ROW_NUMBER() OVER (PARTITION BY p ORDER BY s)``
    when the partition key is LOW-cardinality (each group would otherwise
    be one task); the range slicing spreads every group across slices and
    the per-(group, slice) count aggregate (|groups| × num_partitions rows)
    re-bases the local ranks.

    ``sort_cols`` are ordering expressions (``col.asc_nulls_first()`` etc.)
    and should form a total order (include a unique tiebreak column) so the
    numbering is deterministic regardless of how range boundaries split
    duplicate keys.  Two shuffles (range repartition + per-slice window),
    both parallel; no single-task global sort at any scale.
    """
    parts = list(partition_cols or [])
    # Partition values lead the range ordering so each (group, slice) pair
    # is contiguous in slice order and offsets re-base correctly.
    range_cols = [F.col(p).asc_nulls_first() for p in parts] + list(sort_cols)
    sliced = df.repartitionByRange(num_partitions, *range_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    w_local = Window.partitionBy(_PID, *parts).orderBy(*sort_cols)
    local = sliced.withColumn(_LOCAL, F.row_number().over(w_local))

    # Slice sizes: |groups| × num_partitions rows — the bounded serial
    # step.  The unpartitioned (or group-partitioned) window here runs
    # over that tiny aggregate, not the data.
    counts = local.groupBy(_PID, *parts).agg(F.count(F.lit(1)).alias("__gr_n"))
    w_off = (
        Window.partitionBy(*parts).orderBy(_PID)
        if parts
        else Window.orderBy(_PID)
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        _PID,
        *parts,
        F.coalesce(F.sum("__gr_n").over(w_off), F.lit(0)).alias(_OFFSET),
    )

    # Null-safe equi-join: a nullable partition column must still match its
    # own NULL group in the offsets table.
    renamed = offsets
    for c in (_PID, *parts):
        renamed = renamed.withColumnRenamed(c, f"__gr_r_{c}")
    cond = F.col(_PID) == F.col(f"__gr_r_{_PID}")
    for p in parts:
        cond = cond & F.col(p).eqNullSafe(F.col(f"__gr_r_{p}"))
    return (
        local.join(F.broadcast(renamed), cond, "left")
        # long, not int: the whole point of this operator is tables whose
        # row count grows with scale — an int rank overflows past ~2.1B rows
        .withColumn(out_name, (F.col(_LOCAL) + F.col(_OFFSET)).cast("long"))
        .drop(_PID, _LOCAL, _OFFSET, *[f"__gr_r_{c}" for c in (_PID, *parts)])
    )
