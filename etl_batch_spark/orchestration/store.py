"""Append-only control-plane store.

Architecture (SURVEY.md §7): instead of Oracle's UPDATE-in-place monitor
rows (body.sql:422-467) the engine appends immutable events; "current
state" is the latest event per run.  The control plane is driver-side
(it is tiny data — one row per run attempt); the same rows are exposed
as Spark DataFrames for analytics/reporting.

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

Keyed lookups.  Admission reads its small tables by key, never by scan
(``lookup``): ``batch_master`` by upper-cased ``module_name`` and by
``module_id``, ``batch_dependency`` by ``child_id`` and ``envvar`` by
``variable_name`` (the reference's keyed SELECTs, body.sql:127-151,
251-346 and pkg_batch_util_body.sql:861-875).  Each maps a key to that
table's rows with the key, in append order, so the latest envvar write
is the last row.  A NULL value is not indexed: NULL equals nothing, as
``UPPER(NULL) = x`` never matches in SQL.  ``append`` maintains the
lookups under the store lock, and ``delete_where`` rebuilds the deleted
table's lookups from its surviving rows, as for the latest-state index.
"""

from __future__ import annotations

import itertools
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_batch_spark.catalog import CONTROL_TABLES

_COLUMNS = {name: [f.name for f in schema.fields] for name, schema in CONTROL_TABLES.items()}
_ALLOWED = {name: frozenset(cols) | {"run_uid"} for name, cols in _COLUMNS.items()}


def _same(value: Any) -> Any:
    return value


# the keyed lookups: table -> {column: key of a non-NULL value}
_KEYS = {
    "batch_master": {"module_name": str.upper, "module_id": _same},
    "batch_dependency": {"child_id": _same},
    "envvar": {"variable_name": _same},
}


class ControlStore:
    """In-memory append-only rows per control table, with Spark views."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark
        self._rows: dict[str, list[dict[str, Any]]] = {name: [] for name in CONTROL_TABLES}
        self._seq = itertools.count(1)
        self._lock = threading.Lock()
        self._latest: dict[Any, dict[str, Any]] = {}
        self._by_module: dict[Any, dict[Any, dict[str, Any]]] = {}
        self._lookups: dict[tuple[str, str], dict[Any, list[dict[str, Any]]]] = {
            (table, column): {} for table, keys in _KEYS.items() for column in keys
        }

    # -- write path ---------------------------------------------------------
    def append(self, table: str, row: dict[str, Any]) -> dict[str, Any]:
        if table not in self._rows:
            raise KeyError(f"unknown control table {table!r}")
        with self._lock:
            if table == "batch_monitor":
                row = {**row, "event_seq": next(self._seq)}
            full = {c: row.get(c) for c in _COLUMNS[table]}
            extra = row.keys() - _ALLOWED[table]
            if extra:
                raise KeyError(f"unknown columns for {table}: {sorted(extra)}")
            if "run_uid" in row:
                full["run_uid"] = row["run_uid"]
            self._key(table, full)
            self._rows[table].append(full)
            if table == "batch_monitor":
                self._index(full)
        return full

    def _key(self, table: str, row: dict[str, Any]) -> None:
        """Add ``row`` to ``table``'s keyed lookups; caller holds the lock."""
        for column, key in _KEYS.get(table, {}).items():
            if row[column] is not None:
                self._lookups[table, column].setdefault(key(row[column]), []).append(row)

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

    # -- read path (driver-side; control data is bounded) -------------------
    def rows(self, table: str) -> list[dict[str, Any]]:
        return list(self._rows[table])

    def lookup(self, table: str, column: str, value: Any) -> list[dict[str, Any]]:
        """The rows of ``table`` whose ``column`` equals ``value``, in append
        order; ``batch_master.module_name`` compares upper-cased, and NULL
        matches nothing.  ``(table, column)`` must be one of the keyed
        lookups."""
        if value is None:
            return []
        key = _KEYS[table][column](value)
        with self._lock:
            return list(self._lookups[table, column].get(key, ()))

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
            if table in _KEYS:
                for column in _KEYS[table]:
                    self._lookups[table, column] = {}
                for r in self._rows[table]:
                    self._key(table, r)
            return before - len(self._rows[table])

    # -- Spark views --------------------------------------------------------
    def df(self, table: str) -> DataFrame:
        if self.spark is None:
            raise ValueError("no SparkSession attached to ControlStore")
        schema = CONTROL_TABLES[table]
        rows = [
            tuple(r.get(f.name) for f in schema.fields) for r in self._rows[table]
        ]
        return self.spark.createDataFrame(rows, schema=schema)
