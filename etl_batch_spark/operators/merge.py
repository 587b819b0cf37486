"""MERGE-style upsert — the load-side write the reference's batches
perform with Oracle ``UPDATE``/``INSERT`` (pkg_batch_util_body.sql:185–215,
422–467 drive such loads), re-expressed for immutable storage as one
DataFrame plan.

Merge semantics (one full-outer-shaped pass, no row-at-a-time logic):

- update  : target row whose key appears in ``updates`` → replaced
- insert  : ``updates`` key absent from target → appended
- delete  : ``updates`` row with ``delete_col = true`` → key removed
- carry   : target key untouched by ``updates`` → passes through

Distribution: the merge is a single ``left_anti`` + ``unionByName`` on
the key — one shuffle of each side.

:func:`merge_dataframes` is the pure plan.  A whole-table merge commits
it through ``sources.txlog.TxTable.merge``: one log-file link, so a
crash leaves the previous version as the head and readers never see a
mix.  :func:`merge_upsert_partitioned` is the fact-scale path for
Hive-layout ``partitionBy`` tables: it merges only the partitions the
updates touch and leaves the rest of the table on disk untouched, which
is how table formats (Delta/Iceberg/Hudi) bound merge cost too.  Each
touched partition is swapped in by two renames — a reader racing the
swap can hit a brief path-not-found and should retry, and a crash
BETWEEN the renames leaves that partition's data in
``<partition>.__old__`` for manual recovery.  Concurrency control
belongs to the control plane: run it inside a BatchRunner module with
the duplicate-run check (body.sql:219–247 semantics) so two writers
never race the swap.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# characters Hive/Spark escape in partition directory names
# (ExternalCatalogUtils.escapePathName char list); control chars too
_PARTITION_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def _escape_partition_value(v: str) -> str:
    """Hive-style %XX escaping for a partition value, matching what
    ``df.write.partitionBy(...)`` produces, so directories this module
    creates are indistinguishable from Spark-written ones."""
    return "".join(
        f"%{ord(c):02X}" if c in _PARTITION_ESCAPE else c for c in v
    )


def merge_dataframes(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    *,
    delete_col: str | None = None,
) -> DataFrame:
    """The pure merge plan (no IO): apply ``updates`` to ``target`` by
    ``keys`` with update/insert/delete/carry semantics.

    ``updates`` must be unique per key (pre-fold a changelog with
    ``operators.cdc.apply_changelog`` if it is not)."""
    if not keys:
        raise ValueError("keys must be non-empty")
    for k in keys:
        if k not in target.columns or k not in updates.columns:
            raise ValueError(f"key column {k!r} must exist on both sides")
    if delete_col is not None:
        surviving = updates.filter(~F.coalesce(F.col(delete_col), F.lit(False)))
        surviving = surviving.drop(delete_col)
    else:
        surviving = updates
    extra = set(surviving.columns) - set(target.columns)
    if extra:
        raise ValueError(f"updates has columns absent from target: {sorted(extra)}")
    carried = target.join(updates.select(*keys).distinct(), keys, "left_anti")
    return carried.unionByName(surviving.select(*target.columns))


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    *,
    partition_col: str,
    delete_col: str | None = None,
) -> list[str]:
    """Fact-scale merge: rewrite ONLY the partitions ``updates`` touches.

    The target must be laid out as ``<path>/<partition_col>=<v>/``
    (``df.write.partitionBy(...)``).  The touched partition values are
    one tiny distinct-collect over the updates; each touched partition
    merges independently and swaps its own directory, so merge cost
    tracks the update's partition footprint, not the table size —
    the same bound Delta/Iceberg enforce with file-level rewrite.
    Untouched partition directories are never read, written, or moved.

    Returns the list of partition values rewritten.  Keys must not move
    between partitions (enforced: update rows carry their partition
    value); cross-partition key moves need a delete+insert changelog.
    """
    if partition_col not in updates.columns:
        raise ValueError(f"updates must carry partition column {partition_col!r}")
    touched = [
        r[0]
        for r in updates.select(partition_col).distinct().collect()
        if r[0] is not None
    ]
    # Spark's partitionBy writer Hive-escapes special characters in
    # partition values (':' -> '%3A', ...), so a timestamp partition's
    # directory is e.g. `ts=2024-01-01 00%3A00%3A00`.  Resolve existing
    # directories by UNESCAPING their value part rather than formatting
    # our own — a raw f"{col}={v}" probe would miss every escaped
    # partition and mis-create a duplicate unescaped directory beside it.
    # A dirname counts as ESCAPED only if re-escaping the unquoted value
    # reproduces it exactly; otherwise it is a legacy raw directory
    # (written by a non-escaping producer) whose value may itself
    # contain literal %XX — index it under its raw value too, so an
    # update for `a%3Ab` merges into `ts=a%3Ab` instead of creating a
    # second, escaped directory beside it.  Raw indexing never clobbers
    # an escaped resolution for the same value.
    from urllib.parse import unquote

    prefix = f"{partition_col}="
    existing: dict[str, str] = {}
    if os.path.isdir(target_path):
        for d in os.listdir(target_path):
            if d.startswith(prefix) and os.path.isdir(os.path.join(target_path, d)):
                raw = d[len(prefix):]
                unq = unquote(raw)
                if _escape_partition_value(unq) == raw:
                    existing[unq] = d
                else:
                    existing.setdefault(raw, d)
    rewritten: list[str] = []
    for v in sorted(touched, key=str):
        dirname = existing.get(str(v), f"{prefix}{_escape_partition_value(str(v))}")
        part_dir = os.path.join(target_path, dirname)
        upd_slice = updates.filter(F.col(partition_col) == v).drop(partition_col)
        if not os.path.isdir(part_dir):
            # brand-new partition: inserts only
            surviving = (
                upd_slice.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
                if delete_col is not None
                else upd_slice
            )
            surviving.write.mode("overwrite").parquet(part_dir)
            rewritten.append(str(v))
            continue
        target = spark.read.parquet(part_dir)
        merged = merge_dataframes(target, upd_slice, keys, delete_col=delete_col)
        staged = part_dir.rstrip("/") + ".__merge__"
        if os.path.exists(staged):
            shutil.rmtree(staged)
        merged.write.mode("overwrite").parquet(staged)
        old = part_dir.rstrip("/") + ".__old__"
        os.rename(part_dir, old)
        os.rename(staged, part_dir)
        shutil.rmtree(old)
        rewritten.append(str(v))
    return rewritten
