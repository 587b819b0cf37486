"""Append-only control-plane store.

Architecture (SURVEY.md §7): instead of Oracle's UPDATE-in-place monitor
rows (body.sql:422-467) the engine appends immutable events; "current
state" is the latest event per run.  The control plane is driver-side
(it is tiny data — one row per run attempt); the same rows are exposed
as Spark DataFrames for analytics/reporting and can be persisted to
parquet for durability.

Each batch_monitor event carries:
- ``run_uid``   — engine-internal surrogate identifying one run attempt
  across its WAITING→RUNNING→final transitions (the reference identifies
  the row by mutable (run_date, run_id, status) instead, body.sql:438-446);
- ``event_seq`` — monotonic sequence; latest event per run_uid wins.

Latest-state index.  The store keeps the current state itself instead of
each lookup folding the log: ``run_uid → latest event`` plus, per
``module_id``, the same map restricted to that module's runs (the
reference's keyed lookups, body.sql:170-182, 219-247, 271-322).
Invariant: each map holds exactly the latest event (greatest
``event_seq``) of every run_uid in the log — of that module, for the
per-module maps — in order of the run_uid's first event.  ``append``
maintains it under the store lock (``event_seq`` is drawn under the same
lock, so the event appended last is the latest); ``delete_where`` on
batch_monitor rebuilds it from the surviving events.
"""

from __future__ import annotations

import itertools
import os
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_batch_spark.catalog import CONTROL_TABLES


class ControlStore:
    """In-memory append-only rows per control table, with Spark views."""

    def __init__(self, spark: SparkSession | None = None, persist_root: str | None = None):
        self.spark = spark
        self.persist_root = persist_root
        self._rows: dict[str, list[dict[str, Any]]] = {name: [] for name in CONTROL_TABLES}
        self._seq = itertools.count(1)
        self._lock = threading.Lock()
        self._latest: dict[Any, dict[str, Any]] = {}
        self._by_module: dict[Any, dict[Any, dict[str, Any]]] = {}

    # -- write path ---------------------------------------------------------
    def append(self, table: str, row: dict[str, Any]) -> dict[str, Any]:
        if table not in self._rows:
            raise KeyError(f"unknown control table {table!r}")
        with self._lock:
            if table == "batch_monitor":
                row = {**row, "event_seq": next(self._seq)}
            schema_cols = [f.name for f in CONTROL_TABLES[table].fields]
            full = {c: row.get(c) for c in schema_cols}
            extra = set(row) - set(schema_cols) - {"run_uid"}
            if extra:
                raise KeyError(f"unknown columns for {table}: {sorted(extra)}")
            if "run_uid" in row:
                full["run_uid"] = row["run_uid"]
            self._rows[table].append(full)
            if table == "batch_monitor":
                self._index(full)
        return full

    def _index(self, row: dict[str, Any]) -> None:
        """Make ``row`` its run's latest event; caller holds the lock."""
        uid = row.get("run_uid")
        prev = self._latest.get(uid)
        self._latest[uid] = row
        if prev is None or prev["module_id"] == row["module_id"]:
            self._by_module.setdefault(row["module_id"], {})[uid] = row
        else:  # the run moved to another module: regroup in first-event order
            self._group_by_module()

    def _group_by_module(self) -> None:
        self._by_module = {}
        for uid, row in self._latest.items():
            self._by_module.setdefault(row["module_id"], {})[uid] = row

    def next_seq(self) -> int:
        with self._lock:
            return next(self._seq)

    # -- read path (driver-side; control data is bounded) -------------------
    def rows(self, table: str) -> list[dict[str, Any]]:
        return list(self._rows[table])

    def latest_event(self, run_uid: Any) -> dict[str, Any] | None:
        """The latest batch_monitor event of ``run_uid``, or None."""
        with self._lock:
            return self._latest.get(run_uid)

    def latest_events(self) -> list[dict[str, Any]]:
        """The latest batch_monitor event of every run, in order of each
        run's first event."""
        with self._lock:
            return list(self._latest.values())

    def module_latest_events(self, module_id: Any) -> list[dict[str, Any]]:
        """:meth:`latest_events` restricted to runs of ``module_id``."""
        with self._lock:
            return list(self._by_module.get(module_id, {}).values())

    def delete_where(self, table: str, pred) -> int:
        """Retention-style deletion (body.sql:926-939 purge, sans chunking —
        chunked deletes were an Oracle undo-space workaround, unnecessary
        here / on Delta at scale)."""
        with self._lock:
            before = len(self._rows[table])
            self._rows[table] = [r for r in self._rows[table] if not pred(r)]
            if table == "batch_monitor":
                self._latest = {}
                for r in self._rows[table]:
                    self._latest[r.get("run_uid")] = r
                self._group_by_module()
            return before - len(self._rows[table])

    # -- Spark views --------------------------------------------------------
    def df(self, table: str, spark: SparkSession | None = None) -> DataFrame:
        spark = spark or self.spark
        if spark is None:
            raise ValueError("no SparkSession attached to ControlStore")
        schema = CONTROL_TABLES[table]
        rows = [
            tuple(r.get(f.name) for f in schema.fields) for r in self._rows[table]
        ]
        return spark.createDataFrame(rows, schema=schema)

    def monitor_latest_df(self, spark: SparkSession | None = None) -> DataFrame:
        """Latest-state view of batch_monitor: last event per run_uid wins
        (the engine's replacement for Oracle's in-place UPDATE), built
        from the latest-state index."""
        from pyspark.sql import types as T

        spark = spark or self.spark
        schema = CONTROL_TABLES["batch_monitor"]
        rows = [
            tuple(r.get(f.name) for f in schema.fields) + (r.get("run_uid"),)
            for r in self.latest_events()
        ]
        # note: StructType.add mutates in place — build a fresh StructType
        full_schema = T.StructType([*schema.fields, T.StructField("run_uid", T.StringType())])
        return spark.createDataFrame(rows, schema=full_schema)

    # -- durability ---------------------------------------------------------
    def persist(self, spark: SparkSession | None = None) -> None:
        """Snapshot every non-empty table to parquet under persist_root."""
        if not self.persist_root:
            raise ValueError("ControlStore created without persist_root")
        spark = spark or self.spark
        os.makedirs(self.persist_root, exist_ok=True)
        for table, rows in self._rows.items():
            if rows:
                self.df(table, spark).write.mode("overwrite").parquet(
                    os.path.join(self.persist_root, f"{table}.parquet")
                )
