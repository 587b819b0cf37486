"""Run monitoring over the append-only batch_monitor event log.

Implements the reference's internal monitor operators (SURVEY.md §2.C
internal table):

- I2 proc_get_transaction_info (body.sql:155-166), the latest RUNNING
  run of a module, has no counterpart: no runner, query or CLI asks for
  it.  Resume looks its run up by run_id (``find_running``).
- I3 func_get_run_id (body.sql:170-182) — NVL(MAX(run_id),0)+1 per
  (module, calendar day).
- I4 proc_insert_batch_monitor (body.sql:185-215) — append a run event.
- I5 func_duplicate_run_chk (body.sql:219-247) — 1 if a RUNNING run with
  the identical parameter string exists on its latest run day; errors
  fail closed to 1.
- I8/I9 proc_update_batch_monitor (body.sql:422-467) — state
  transitions, expressed as appended events keyed by run_uid.

Every lookup reads the store's latest-state index (the latest event per
run_uid, maintained under the store lock on ``append`` and rebuilt on
``delete_where``; see ``store.py``): a transition or finalize is one
keyed read, and the per-module operators read only the runs of the
module they ask about — never the whole event log.
"""

from __future__ import annotations

import uuid
from datetime import datetime
from typing import Any

from etl_batch_spark.orchestration.store import ControlStore


def _day(ts: datetime | None) -> datetime | None:
    return ts.replace(hour=0, minute=0, second=0, microsecond=0) if ts else None


class RunMonitor:
    def __init__(self, store: ControlStore):
        self.store = store

    # -- event log ----------------------------------------------------------
    def latest_states(self) -> list[dict[str, Any]]:
        """The latest event of every run, in order of each run's first event."""
        return self.store.latest_events()

    # -- I4: insert ---------------------------------------------------------
    def insert_run(
        self,
        *,
        module_id: int,
        run_id: int,
        run_status: str,
        run_date: datetime,
        parameters: str | None,
        sub_system: str | None,
        audit_id: str | None,
        exclusive_run_yn: str | None,
        control_date: datetime | None,
    ) -> str:
        run_uid = uuid.uuid4().hex
        self.store.append(
            "batch_monitor",
            {
                "run_uid": run_uid,
                "module_id": module_id,
                "run_date": run_date,
                "run_id": run_id,
                "parameters": parameters,
                "audit_id": audit_id,
                "run_status": run_status,
                "sub_system": sub_system,
                "exclusive_run_yn": exclusive_run_yn,
                "control_date": control_date,
            },
        )
        return run_uid

    # -- I8: WAITING -> RUNNING (or DEPENDENCY FAILURE on the WAITING row) --
    def transition(self, run_uid: str, *, run_status: str, run_id: int | None = None,
                   run_date: datetime | None = None) -> None:
        cur = self.store.latest_event(run_uid)
        if cur is None:
            raise KeyError(f"unknown run_uid {run_uid}")
        self.store.append(
            "batch_monitor",
            {
                **{k: v for k, v in cur.items() if k != "event_seq"},
                "run_uid": run_uid,
                "run_status": run_status,
                "run_id": cur["run_id"] if run_id is None else run_id,
                "run_date": cur["run_date"] if run_date is None else run_date,
            },
        )

    # -- I9: finalize -------------------------------------------------------
    def finalize(
        self,
        run_uid: str,
        *,
        run_status: str,
        end_time: datetime,
        records_processed: int | None,
        records_in_error: int | None,
    ) -> bool:
        """Finalize iff the run is currently RUNNING or WAITING
        (body.sql:462-466's ``run_status IN ('RUNNING','WAITING')`` guard).
        Returns False when no live row matched (the reference's UPDATE
        silently matches zero rows)."""
        cur = self.store.latest_event(run_uid)
        if cur is None or cur["run_status"] not in ("RUNNING", "WAITING"):
            return False
        self.store.append(
            "batch_monitor",
            {
                **{k: v for k, v in cur.items() if k != "event_seq"},
                "run_uid": run_uid,
                "run_status": run_status,
                "end_time": end_time,
                "records_processed": records_processed,
                "records_in_error": records_in_error,
            },
        )
        return True

    # -- I3: per-(module, day) run-id sequence ------------------------------
    def next_run_id(self, module_id: int, now: datetime) -> int:
        day = _day(now)
        max_id = 0
        for row in self.store.module_latest_events(module_id):
            if _day(row["run_date"]) == day:
                max_id = max(max_id, row["run_id"] or 0)
        return max_id + 1

    # -- I5: duplicate-run check -------------------------------------------
    def duplicate_run_check(self, module_id: int, parameters: str | None) -> int:
        """1 if a RUNNING run with identical parameters exists on the latest
        run day of such runs, else 0; any unexpected error -> 1 (fail
        closed, body.sql:243-246)."""
        try:
            params = parameters if parameters is not None else " "
            running = [
                r
                for r in self.store.module_latest_events(module_id)
                if r["run_status"] == "RUNNING"
                and (r["parameters"] if r["parameters"] is not None else " ") == params
            ]
            if not running:
                return 0
            latest_day = max(_day(r["run_date"]) for r in running)
            return 1 if any(_day(r["run_date"]) == latest_day for r in running) else 0
        except Exception:  # noqa: BLE001 — reference returns 1 on any error
            return 1

    def find_running(self, module_id: int, run_id: int) -> dict[str, Any] | None:
        """Resume lookup (proc_batch_continue, body.sql:632-645): the
        RUNNING row of this module with the given run_id."""
        candidates = [
            r
            for r in self.store.module_latest_events(module_id)
            if r["run_status"] == "RUNNING" and r["run_id"] == run_id
        ]
        if not candidates:
            return None
        return max(candidates, key=lambda r: (r["run_date"], r["event_seq"]))

    # -- dependency-check probe (I6 inner SELECT, body.sql:271-322) ---------
    def parent_status_code(
        self,
        *,
        parent_module_id: int,
        dependency_type: str,
        control_date: datetime | None,
        child_module_name: str,
        parent_module_name: str,
        child_parameters: str | None,
    ) -> int | None:
        """DECODE(run_status) for the parent's greatest run on the control
        date: SUCCESS→0, RUNNING/WAITING→1, else MANDATORY→2 / OPTIONAL→0 /
        WAIT→1 / unknown→3.  None ⇔ NO_DATA_FOUND (no monitor row yet).

        Parameter-prefix matching (text before ' Run_level=<') applies only
        when parent and child are the same module name — the reference's
        self-dependency-across-run-levels case (body.sql:283-322)."""
        same_module = child_module_name == parent_module_name

        def prefix(p: str | None) -> str:
            if not p:
                return ""
            idx = p.find("Run_level=<")
            return p[: max(idx - 1, 0)].upper() if idx >= 0 else ""

        day = _day(control_date)
        child_prefix = prefix(child_parameters) if same_module else None
        rows = [
            r
            for r in self.store.module_latest_events(parent_module_id)
            if _day(r.get("control_date")) == day
            and (not same_module or prefix(r.get("parameters")) == child_prefix)
        ]
        if not rows:
            return None
        greatest = max(rows, key=lambda r: r["run_id"] or 0)
        status = greatest["run_status"]
        if status == "SUCCESS":
            return 0
        if status in ("RUNNING", "WAITING"):
            return 1
        return {"MANDATORY": 2, "OPTIONAL": 0, "WAIT": 1}.get(dependency_type, 3)
