"""Ingest utilities: run-command lookup and loader file-name resolution.

- func_get_run_command (body.sql:994-1009): tmp_run_batch lookup; ANY
  error → the string ``'0'`` (sentinel preserved).
- func_get_loader_file_name (body.sql:1163-1251): resolve
  ``${DAY}``-templated file names from tmp_run_loader in file_seq order,
  space-joined.  Flag semantics: 1 = all files (default); batch EISU242
  uses flag 3 on SATURDAY (every file EXCEPT 'AVG_${DAY}_VDN') and
  flag 2 otherwise (ONLY 'AVG_${DAY}_VDN').  No rows → log + ``'0'``;
  internal error → ``'1'`` (yes, a different sentinel — preserved).
"""

from __future__ import annotations

import logging

from etl_batch_spark.orchestration.store import ControlStore

log = logging.getLogger("etl_batch_spark.loader")

_AVG_TEMPLATE = "AVG_${DAY}_VDN"


def get_run_command(store: ControlStore, batch_name: str) -> str:
    """func_get_run_command (body.sql:994-1009); batches call it, no
    query does."""
    try:
        matches = [
            r["run_command"]
            for r in store.rows("tmp_run_batch")
            if r["batch_name"] == batch_name
        ]
        if len(matches) != 1:  # NO_DATA_FOUND / TOO_MANY_ROWS both → '0'
            return "0"
        return matches[0]
    except Exception:  # noqa: BLE001
        return "0"


def get_loader_file_name(store: ControlStore, batch_name: str, run_day: str) -> str:
    """func_get_loader_file_name (body.sql:1163-1251); load batches call
    it, no query does."""
    try:
        flag = 1
        if batch_name.upper() == "EISU242":
            flag = 3 if run_day.upper() == "SATURDAY" else 2

        rows = [
            r
            for r in store.rows("tmp_run_loader")
            if (r["batch_name"] or "").upper() == batch_name.upper()
        ]
        if flag == 2:
            rows = [r for r in rows if (r["file_name"] or "").upper() == _AVG_TEMPLATE]
        elif flag == 3:
            rows = [r for r in rows if (r["file_name"] or "").upper() != _AVG_TEMPLATE]

        rows.sort(key=lambda r: r["file_seq"])
        names = [(r["file_name"] or "").replace("${DAY}", run_day) for r in rows]
        if not names:
            log.info("No Data file name found for batch <%s>", batch_name)
            return "0"
        return " ".join(names)
    except Exception:  # noqa: BLE001 — reference returns '1' on error
        return "1"
