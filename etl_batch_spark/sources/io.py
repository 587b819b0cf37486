"""Two helpers for the engine's table writes, which all commit through
``sources/txlog.py::TxTable`` (the reference leaves IO to Oracle):

- ``pinned_conf``: a session conf held for one write, then restored;
- ``zorder_key``: the Morton clustering key behind
  ``TxTable.compact(zorder_cols=...)``.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextlib.contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, then restore the
    caller's value (or unset if it was unset).  Operators whose
    CORRECTNESS depends on a session conf must pin it at the use site —
    the driver contract hands the engine a session it did not build, so
    anything only ``session.py`` sets silently evaporates there (the
    et42 lesson: a stock session writes INT96 timestamps, which carry no
    parquet min/max statistics, and data skipping degrades to
    scan-everything)."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


ZORDER_BITS = 10


def zorder_key(df: DataFrame, cols: list[str]) -> "F.Column":
    """Z-order (Morton) key over numeric columns: each column is scaled
    by its min/max onto a ``ZORDER_BITS``-bit bucket id (one 1-row
    aggregate of driver state), then the bit strings are interleaved, so
    rows close on EVERY column get close keys.  The key itself is pure
    shift/mask arithmetic — whole-stage-codegen'd, no UDF."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if ZORDER_BITS * len(cols) > 62:
        raise ValueError(f"{len(cols)} columns of {ZORDER_BITS} bits exceed a long")
    n_buckets = 1 << ZORDER_BITS
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    key = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn = float(stats[f"mn_{c}"] or 0)
        span = float(stats[f"mx_{c}"] or 0) - mn
        scaled = F.least(
            F.lit(n_buckets - 1),
            F.floor((F.col(c) - mn) / (span / n_buckets) if span > 0 else F.lit(0)),
        ).cast("long")
        # interleave: bit i of this column lands at position i*len(cols)+ci
        for i in range(ZORDER_BITS):
            key = key + F.shiftleft(
                F.shiftrightunsigned(scaled, i).bitwiseAND(F.lit(1)),
                i * len(cols) + ci,
            )
    return key
