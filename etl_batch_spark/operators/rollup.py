"""Hypertable-style rollup cascade: continuous aggregates at widening
time buckets, where every coarser level is merged from the finer
level's *partials* — never recomputed from raw.

This is the timescale/druid "continuous aggregate" pattern: store
(sum, count, min, max) partials per bucket; merging partials is
associative, so hour = merge(minutes), day = merge(hours), and avg is
derived at read time as sum/count.  At 100 TB the raw scan happens
exactly once (for the finest level); each further level aggregates a
table that is orders of magnitude smaller, and incremental refresh
only touches buckets whose inputs changed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LEVEL_FMT = {"minute": "minute", "hour": "hour", "day": "day", "week": "week", "month": "month"}


def _partials_from_raw(
    df: DataFrame, *, ts_col: str, key_cols: Sequence[str], value_col: str, level: str
) -> DataFrame:
    return (
        df.groupBy(
            F.date_trunc(_LEVEL_FMT[level], F.col(ts_col)).alias("bucket"),
            *key_cols,
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
    )


def _merge_partials(
    finer: DataFrame, *, key_cols: Sequence[str], level: str
) -> DataFrame:
    return (
        finer.groupBy(
            F.date_trunc(_LEVEL_FMT[level], F.col("bucket")).alias("bucket"),
            *key_cols,
        ).agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )


def rollup_cascade(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    levels: Sequence[str] = ("minute", "hour", "day"),
) -> dict[str, DataFrame]:
    """Partial-aggregate tables per level; ``levels`` must widen left to
    right.  Only ``levels[0]`` reads raw data."""
    out: dict[str, DataFrame] = {}
    finest = levels[0]
    out[finest] = _partials_from_raw(
        df, ts_col=ts_col, key_cols=key_cols, value_col=value_col, level=finest
    )
    for lv in levels[1:]:
        out[lv] = _merge_partials(out[levels[levels.index(lv) - 1]], key_cols=key_cols, level=lv)
    return out


def read_level(partials: DataFrame, *, round_sum: int = 2, round_avg: int = 4) -> DataFrame:
    """Materialize the user-facing view of a partial table: derived avg,
    rounded floats, stable column set."""
    return partials.select(
        "bucket",
        *[c for c in partials.columns if c not in {"bucket", "n", "sum_v", "min_v", "max_v"}],
        F.col("n"),
        F.round("sum_v", round_sum).alias("sum_value"),
        F.round("min_v", round_avg).alias("min_value"),
        F.round("max_v", round_avg).alias("max_value"),
        # +1e-9 nudge: derived averages of 2-decimal values land exactly
        # on .xxxx5 half-boundaries (e.g. 352.13/8), where engines round
        # doubles in opposite directions
        F.round(F.col("sum_v") / F.col("n") + F.lit(1e-9), round_avg).alias("avg_value"),
    )


