"""Cogrouped per-key alignment — ``cogroup(...).applyInPandas`` plumbing.

Some per-key computations need BOTH sides of a relationship in memory
at once — aligning a target series against a sample series with value
interpolation is the canonical one (sensor gap-fill, price marks at
trade times, metric attribution at event times).  Spark's cogroup API
is built for exactly this: both inputs shuffle ONCE on the key, and
each task receives (targets_of_key, samples_of_key) as two pandas
frames over Arrow.  That is the whole distributed story — per-task
state is one key's rows, never a global collect, and the shuffle is
the same single exchange a join would pay.

``cogroup_interpolate`` keeps the arithmetic integer-exact where it
can (timestamps compare/subtract as int64 microseconds; only the final
fraction is a double) so results are bit-reproducible across engines
and partitionings.  Boundary targets (before the first / after the
last sample) yield NULL, not extrapolation; a target exactly on a
sample takes that sample's value.

Reference analogue: none — nearest shape is the reference's row-at-a-
time cursor loops (pkg_batch_util_body.sql:1172–1224), which this API
replaces with partition-parallel per-key batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def cogroup_interpolate(
    targets: DataFrame,
    samples: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """For every target row, linearly interpolate ``samples[value_col]``
    at the target's ``ts_col``, per ``key_col`` group.

    ``samples`` must be unique per (key, ts) — pre-aggregate duplicates
    (e.g. ``groupBy(key, ts).agg(avg(value))``) or the neighbor choice
    is undefined.  Output is ``targets``'s schema plus ``interp_value``
    (nullable double; NULL outside the sample hull or for keys with no
    samples).
    """
    if "interp_value" in targets.columns:
        raise ValueError("targets already has a column named 'interp_value'")
    for c in (key_col, ts_col):
        if c not in targets.columns or c not in samples.columns:
            raise ValueError(f"column {c!r} must exist on both sides")
    if value_col not in samples.columns:
        raise ValueError(f"samples is missing value column {value_col!r}")

    out_schema = StructType(
        targets.schema.fields + [StructField("interp_value", DoubleType(), True)]
    )

    # When both sides derive from the same scan (self-cogroup lineage),
    # right-side attributes share exprIds with the left and Spark's
    # dedup silently drops them from the pandas frame.  Re-aliasing
    # every samples column mints fresh exprIds, so the frame arrives
    # whole no matter the lineage.
    s_key, s_ts, s_val = f"__s_{key_col}", f"__s_{ts_col}", f"__s_{value_col}"
    samples = samples.select(
        F.col(key_col).alias(s_key),
        F.col(ts_col).alias(s_ts),
        F.col(value_col).alias(s_val),
    )

    def interp(tdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        result = tdf
        if tdf.empty:
            result = tdf.copy()
            result["interp_value"] = pd.array([], dtype="Float64")
            return result
        n = len(tdf)
        if sdf.empty:
            result = tdf.copy()
            result["interp_value"] = pd.array([None] * n, dtype="Float64")
            return result
        sdf = sdf.sort_values(s_ts, kind="mergesort")
        # int64 microseconds: compares and differences are exact, so the
        # double fraction below is identical in any engine/partitioning
        xs = (sdf[s_ts].astype("int64") // 1000).to_numpy()
        vs = sdf[s_val].astype(float).to_numpy()
        x = (tdf[ts_col].astype("int64") // 1000).to_numpy()
        prev_i = np.searchsorted(xs, x, side="right") - 1
        next_i = np.searchsorted(xs, x, side="left")
        ok = (prev_i >= 0) & (next_i < len(xs))
        pi, ni = np.clip(prev_i, 0, None), np.clip(next_i, None, len(xs) - 1)
        xp, xn, vp, vn = xs[pi], xs[ni], vs[pi], vs[ni]
        exact = xn == xp  # target sits on a sample (or both neighbors tie)
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = (x - xp).astype(float) / (xn - xp).astype(float)
            vals = np.where(exact, vp, vp + (vn - vp) * frac)
        result = tdf.copy()
        result["interp_value"] = pd.array(
            [float(v) if k else None for v, k in zip(vals, ok)], dtype="Float64"
        )
        return result

    return (
        targets.groupBy(key_col)
        .cogroup(samples.groupBy(s_key))
        .applyInPandas(interp, schema=out_schema)
    )
