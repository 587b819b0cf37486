"""Slowly-changing-dimension (type 2) merge — the warehouse-ETL core
operation the reference's batches feed (its control plane schedules
loads; this is the load).

``scd2_merge`` applies an update batch to the current snapshot of a
dimension, producing the new version set: changed keys get their open
row closed (``valid_to`` = effective date, ``is_current`` = false) and a
new open row; new keys get an open row; untouched keys pass through.

Scale: one shuffle on the dimension key joins snapshot and updates;
every branch (changed / unchanged / inserted) derives from that single
join — no second pass over the snapshot.  At 100 TB-dimension scale the
snapshot is bucketed on the key (``DataFrameWriter.bucketBy``) so the
daily merge is exchange-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _any_attr_differs(attrs: Sequence[str]) -> Column:
    cond = F.lit(False)
    for a in attrs:
        # null-safe inequality: a change to/from NULL is a change
        cond = cond | ~F.col(f"cur.{a}").eqNullSafe(F.col(f"upd.{a}"))
    return cond


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    *,
    key: str,
    attrs: Sequence[str],
    effective_date: str,
) -> DataFrame:
    """Return the post-merge version set.

    ``current`` must carry ``valid_from``, ``valid_to`` (null = open) and
    ``is_current``; ``updates`` carries the key + tracked ``attrs``.
    ``effective_date`` (ISO day string) stamps closes and opens.

    PRECONDITION (same as ``merge.merge_dataframes``): ``updates`` has
    at most ONE row per key.  Duplicate update keys would fan the
    full-outer join out and emit several ``is_current`` rows for the
    same dimension key, corrupting the one-open-row invariant — capture
    pipelines batching multiple changes per key must pre-reduce to the
    latest change (e.g. ``cdc.apply_changelog``) before calling this.
    """
    eff = F.lit(effective_date).cast("date")
    cur = current.alias("cur")
    upd = updates.alias("upd")
    # ONE join, one pass (the Delta-style MERGE shape): the full-outer
    # join carries ALL current rows (is_current rides in the join
    # condition, so a historical row simply never matches and passes
    # through as cur-only — its update still matches the key's open
    # row, preserving the one-open-row invariant), and every output
    # branch is an exploded per-row variant.  The previous union-of-
    # filtered-branches form replayed the snapshot scan and join per
    # branch (9 scans in et01's executed plan).
    # presence markers, not key-nullness: a NULL-key row on either side
    # never matches, and marker-based classification passes it through
    # (cur side) or emits it fresh (upd side) exactly once — the old
    # branch form classified a NULL-key open row as BOTH untouched and
    # inserted
    cur = cur.withColumn("_cur_present", F.lit(True)).alias("cur")
    upd = upd.withColumn("_upd_present", F.lit(True)).alias("upd")
    joined = cur.join(
        upd,
        (F.col(f"cur.{key}") == F.col(f"upd.{key}")) & F.col("cur.is_current"),
        "full_outer",
    )

    def row(key_col, attr_side, valid_from, valid_to, is_current):
        return F.struct(
            key_col.alias(key),
            *[F.col(f"{attr_side}.{a}").alias(a) for a in attrs],
            valid_from.alias("valid_from"),
            valid_to.alias("valid_to"),
            is_current.alias("is_current"),
        )

    cur_row = row(
        F.col(f"cur.{key}"), "cur",
        F.col("cur.valid_from"), F.col("cur.valid_to"), F.col("cur.is_current"),
    )
    closed_row = row(
        F.col(f"cur.{key}"), "cur",
        F.col("cur.valid_from"), eff, F.lit(False),
    )
    open_row = row(
        F.col(f"upd.{key}"), "upd",
        eff, F.lit(None).cast("date"), F.lit(True),
    )
    variants = (
        # unmatched cur side: historical rows, and open rows with no update
        F.when(F.col("upd._upd_present").isNull(), F.array(cur_row))
        # unmatched upd side: brand-new key -> one fresh open row
        .when(F.col("cur._cur_present").isNull(), F.array(open_row))
        # matched, attrs changed -> close the open row and open a new one
        .when(_any_attr_differs(attrs), F.array(closed_row, open_row))
        # matched, no effective change -> pass the open row through
        .otherwise(F.array(cur_row))
    )
    return joined.select(F.explode(variants).alias("_r")).select("_r.*")
