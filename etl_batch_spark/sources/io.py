"""Session-conf pinning, z-order clustering keys and audit stamping.

The reference ingests loader files resolved by name
(func_get_loader_file_name, body.sql:1163-1251) and leaves all IO to
Oracle.  The engine's tables are written through
``sources/txlog.py::TxTable``; this module holds the helpers its writes
and the batch runner share:

- ``pinned_conf``: a session conf held for one write, then restored;
- ``zorder_key``: the Morton clustering key behind
  ``TxTable.compact(zorder_cols=...)``;
- ``with_audit_columns``: control-plane provenance stamped onto rows.
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


def zorder_key(
    df: DataFrame, cols: list[str], *, bits: int = 10, equal_frequency: bool = False
) -> "F.Column":
    """Z-order (Morton) key over numeric columns: each column is mapped
    to a ``bits``-bit bucket id, then the bit strings are interleaved,
    so rows close on EVERY column get close keys.

    Bucketing modes:

    - default (linear): scale by min/max — one 1-row aggregate of
      driver state, monotone and cheap.  A single outlier stretches the
      range and collapses the data mass onto few buckets.
    - ``equal_frequency=True``: bucket by ``approxQuantile`` boundaries
      (2^bits − 1 cut points of bounded driver state) — equal-POPULATION
      buckets, so heavy-hitter regions and outliers cannot starve the
      rest of the keyspace of bits.  Bucket lookup is a codegen'd fold
      over the boundary literals; NULLs bucket to 0.

    Either way the key itself is pure shift/mask arithmetic —
    whole-stage-codegen'd, no UDF.  ``bits * len(cols)`` must fit a
    long (≤ 62).  Keep ``bits`` small (8–10) with ``equal_frequency``:
    boundary-literal count is 2^bits per column.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError(f"bits*cols = {bits * len(cols)} exceeds long range")
    n_buckets = 1 << bits
    if equal_frequency:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.stat.approxQuantile(cols, probs, 0.001)
        scaled_cols = []
        for c, bs in zip(cols, bounds):
            cuts = sorted(set(bs))
            arr = "array(" + ",".join(f"cast({b!r} as double)" for b in cuts) + ")"
            q = F.expr(
                f"aggregate({arr}, 0L, (acc, b) -> acc + "
                f"(case when cast({c} as double) >= b then 1L else 0L end))"
            )
            scaled_cols.append(F.coalesce(q, F.lit(0)).cast("long"))
    else:
        stats = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).first()
        scaled_cols = []
        for c in cols:
            mn = float(stats[f"mn_{c}"] or 0)
            span = float(stats[f"mx_{c}"] or 0) - mn
            scaled_cols.append(
                F.least(
                    F.lit(n_buckets - 1),
                    F.floor(
                        (F.col(c) - mn) / (span / n_buckets) if span > 0 else F.lit(0)
                    ),
                ).cast("long")
            )
    key = F.lit(0).cast("long")
    for ci, scaled in enumerate(scaled_cols):
        # interleave: bit i of this column lands at position i*len(cols)+ci
        for i in range(bits):
            key = key + F.shiftleft(
                F.shiftrightunsigned(scaled, i).bitwiseAND(F.lit(1)),
                i * len(cols) + ci,
            )
    return key


def with_audit_columns(
    df: DataFrame,
    *,
    run_id: int,
    module_name: str,
    load_ts,
    control_date=None,
) -> DataFrame:
    """Stamp data-plane rows with control-plane provenance — the engine
    analogue of the reference writing audit_id/run_id into batch_monitor
    (pkg_batch_util_body.sql:194-203), pushed down onto the data itself
    so any output row joins back to its run.

    ``load_ts`` must be the run's snapshotted timestamp (RunContext
    ``run_date`` — the glo_sysdate discipline, spec.sql:24): stamping
    ``current_timestamp()`` would differ task-to-task and break
    replay comparisons.  All literals — zero runtime cost."""
    out = df.withColumns(
        {
            "_run_id": F.lit(run_id).cast("long"),
            "_module": F.lit(module_name),
            "_load_ts": F.lit(load_ts).cast("timestamp"),
        }
    )
    if control_date is not None:
        out = out.withColumn("_control_date", F.lit(control_date).cast("date"))
    return out


