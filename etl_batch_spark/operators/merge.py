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

:func:`merge_dataframes` is the pure plan, with no IO.  A table commits
it through ``sources.txlog.TxTable.merge``, which applies it to only the
live files whose logged key envelopes can hold an update key and lands
their rewrite as one log commit: a crash leaves the previous version as
the head, readers never see a mix, and racing writers serialize by
optimistic concurrency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
