"""Time-series downsampling for visualization / compaction: LTTB
(Largest-Triangle-Three-Buckets, Steinarsson 2013), the standard
shape-preserving downsampler in every metrics dashboard.

The algorithm is inherently sequential WITHIN one series (each pick
depends on the previous pick), so it cannot be a window expression; it
is embarrassingly parallel ACROSS series.  ``applyInPandas`` keyed on
the series id is exactly that contract: one Arrow batch per series,
numpy inside, no driver involvement.  At 100 TB the per-series rows fit
an executor because a series is one entity's gauge history — the same
assumption every stateful-by-key operator (sessionization, as-of state)
makes; pathological single-series corpora need a pre-bucket split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _lttb_numpy(x: np.ndarray, y: np.ndarray, n_out: int) -> np.ndarray:
    """Indices of the LTTB selection; x strictly sorted ascending."""
    m = len(x)
    if n_out >= m or n_out < 3:
        return np.arange(m)
    # bucket i covers data indices [floor(i*every)+1, floor((i+1)*every)+1)
    every = (m - 2) / (n_out - 2)
    idx = np.empty(n_out, dtype=np.int64)
    idx[0] = 0
    a = 0
    for i in range(n_out - 2):
        lo = int(np.floor(i * every)) + 1
        hi = int(np.floor((i + 1) * every)) + 1
        nlo = hi
        nhi = min(int(np.floor((i + 2) * every)) + 1, m)
        # average of the NEXT bucket (last bucket -> the final point)
        ax, ay = (
            (x[nlo:nhi].mean(), y[nlo:nhi].mean()) if nlo < nhi else (x[m - 1], y[m - 1])
        )
        # area of triangle (a, candidate, avg) — constant factors dropped
        area = np.abs(
            (x[a] - ax) * (y[lo:hi] - y[a]) - (x[a] - x[lo:hi]) * (ay - y[a])
        )
        a = lo + int(area.argmax())
        idx[i + 1] = a
    idx[n_out - 1] = m - 1
    return idx


def lttb_downsample(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_out: int = 20,
) -> DataFrame:
    """Per-``key_col`` LTTB pick of ``n_out`` (ts, value) points; series
    shorter than ``n_out`` pass through whole.  Ties on ts are broken by
    value so the selection is deterministic regardless of input order.
    NULL-valued (or NULL-ts) points are dropped first: they carry no
    shape information, and a NaN poisons every triangle area it touches.
    """
    sub = df.select(key_col, ts_col, value_col).filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    schema = sub.schema

    def _one_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, value_col], kind="mergesort").reset_index(
            drop=True
        )
        x = pdf[ts_col].astype("int64").to_numpy().astype(np.float64)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        return pdf.iloc[_lttb_numpy(x, y, n_out)]

    return sub.groupBy(key_col).applyInPandas(_one_series, schema=schema)


def ewma(df: DataFrame, *, alpha: float = 0.3) -> DataFrame:
    """Per-series exponentially-weighted moving average:
    ``s_0 = x_0; s_t = alpha*x_t + (1-alpha)*s_{t-1}`` (adjust=False
    recursion) appended as an ``ewma`` column.

    The recursion is order-dependent within a series — not a window
    expression — so, like :func:`lttb_downsample`, it runs as
    ``applyInPandas`` per key: sequential inside a series, parallel
    across series.  Ties on ts break by value for determinism.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    sub = df.select("user_id", "ts", "value")
    out_schema = T.StructType(
        list(sub.schema.fields) + [T.StructField("ewma", T.DoubleType())]
    )

    def _one_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "value"], kind="mergesort").reset_index(
            drop=True
        )
        x = pdf["value"].to_numpy(dtype=np.float64)
        s = np.empty_like(x)
        acc = x[0]
        for i, v in enumerate(x):
            acc = alpha * v + (1.0 - alpha) * acc if i else v
            s[i] = acc
        pdf["ewma"] = s
        return pdf

    return sub.groupBy("user_id").applyInPandas(_one_series, schema=out_schema)
