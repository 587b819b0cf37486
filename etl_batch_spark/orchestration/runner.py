"""Batch lifecycle: startup / endup / resume + dependency gating.

Re-expresses the reference package's centerpiece
(func_batch_startup body.sql:472-627, proc_batch_endup 650-722,
proc_batch_continue 632-645, func_dependency_chk 251-346,
proc_set_session_vars 349-419) as a driver-side state machine over the
append-only run log.  Admission-failure status strings are preserved
byte-for-byte:

    NO_RECORD_BATCH_MASTER / TOO_MANY_RECORDS_BATCH_MASTER /
    BATCH-DISABLED / RE-RUN FAILURE / DEPENDENCY FAILURE

Shell-mode (``called_by_shell=True``) converts admission failures into a
``run_id=0`` return instead of raising (body.sql:553-626); forms-mode
short-circuits everything (body.sql:490-544).
"""

from __future__ import annotations

import getpass
import logging
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from etl_batch_spark.orchestration.clock import Clock
from etl_batch_spark.orchestration.envvar import EnvVarService
from etl_batch_spark.orchestration.monitor import RunMonitor
from etl_batch_spark.orchestration.store import ControlStore
from etl_batch_spark.orchestration.timers import Timer

log = logging.getLogger("etl_batch_spark.runner")


# -- admission exceptions (body.sql:11-12, 481-483) -------------------------
class BatchError(Exception):
    status: str = "FAILURE"


class NoRecordBatchMaster(BatchError):
    status = "NO_RECORD_BATCH_MASTER"


class TooManyRecordBatchMaster(BatchError):
    status = "TOO_MANY_RECORDS_BATCH_MASTER"


class BatchDisabled(BatchError):
    status = "BATCH-DISABLED"


class DuplicateRun(BatchError):
    status = "RE-RUN FAILURE"


class DependencyFail(BatchError):
    status = "DEPENDENCY FAILURE"


@dataclass
class SessionVars:
    """proc_set_session_vars outputs (body.sql:349-419)."""

    debug: int = 0
    log_status: int = 0
    err_status: int = 0
    runenv: str = "C"
    batchflag: str = "Y"
    context: str | None = None
    login_id: str | None = None
    control_date: datetime | None = None


@dataclass
class RunContext:
    """The engine's replacement for the reference's package globals
    (gr_batch_master / gr_batch_monitor / glo_* state, spec.sql:20-26)."""

    runner: "BatchRunner"
    module: dict[str, Any]
    run_uid: str | None
    run_id: int
    parameters: str
    run_date: datetime
    session: SessionVars
    timer: Timer = field(repr=False, default=None)  # type: ignore[assignment]

    def progress(self, op_name: str, sofar: int | None = None) -> None:
        """proc_write_session_longops (body.sql:1253-1266): one batch_log
        longops row, ``"{MODULE}: {op} sofar={n}"`` (no ``sofar`` when it is
        None).  It sets no Spark job description: labelling a run's Spark
        jobs belongs where its Spark work is launched, not in the lifecycle."""
        msg = f"{self.module['module_name']}: {op_name}" + (
            f" sofar={sofar}" if sofar is not None else ""
        )
        self.runner._log(self.module["module_name"], "progress", msg)

    def success(self) -> None:
        """proc_batch_endup() no-arg overload (body.sql:650-664)."""
        self.finish("SUCCESS", None, None)

    def finish(
        self,
        status: str,
        records_processed: int | None = None,
        records_in_error: int | None = None,
        metrics: dict[str, int] | None = None,
    ) -> None:
        """proc_batch_endup overloads 2+3 (body.sql:671-722); ``metrics``
        plays the pt_desc/pt_value parallel arrays (logged as 'desc:    n')."""
        if metrics:
            for desc, value in metrics.items():
                self.runner._log(self.module["module_name"], "endup", f"{desc}:    {value}")
        ok = self.runner.monitor.finalize(
            self.run_uid,
            run_status=status,
            end_time=self.runner.clock.now(),
            records_processed=records_processed,
            records_in_error=records_in_error,
        )
        if not ok:
            log.warning("endup matched no live run (uid=%s) — already finalized?", self.run_uid)


class BatchRunner:
    def __init__(
        self,
        store: ControlStore,
        clock: Clock | None = None,
        *,
        poll_interval: float = 120.0,  # body.sql:325, 329
        max_polls: int | None = 10_000,
        user: str | None = None,
    ):
        self.store = store
        self.clock = clock or Clock()
        self.monitor = RunMonitor(store)
        self.env = EnvVarService(store)
        self.poll_interval = poll_interval
        self.max_polls = max_polls
        self._user = user

    # -- batch_log ----------------------------------------------------------
    def _log(self, batch_name: str | None, procedure: str, message: str) -> None:
        self.store.append(
            "batch_log",
            {
                "run_date": self.clock.now(),
                "batch_name": batch_name,
                "package_name": "etl_batch_spark",
                "procedure_name": procedure,
                "statement_num": 0,
                "message": message,
            },
        )

    # -- I7: session vars ---------------------------------------------------
    def _set_session_vars(self, batchname: str) -> SessionVars:
        sv = SessionVars(context=batchname)
        for attr, var in (("debug", "BATCH_FLG_DBG"), ("log_status", "BATCH_FLG_LOG"),
                          ("err_status", "BATCH_FLG_ERR")):
            try:
                setattr(sv, attr, 1 if self.env.get(var) == "Y" else 0)
            except Exception:  # noqa: BLE001 — reference defaults to 0 on any error
                setattr(sv, attr, 0)
        if not self._user:  # the OS user, looked up on the first startup only
            self._user = getpass.getuser()
        sv.login_id = self._user.replace("OPS$", "").replace("WEB_OWNER", "WEB_USER")
        sv.control_date = self.env.control_date(self.clock)
        return sv

    # -- I1: module lookup (body.sql:127-151) -------------------------------
    def _get_module_info(self, batchname: str, run_level: int | None) -> dict[str, Any]:
        masters = self.store.lookup("batch_master", "module_name", batchname)
        if run_level is None:
            # default run_level = MIN(run_level) among the name's rows (A2)
            levels = [r["run_level"] for r in masters if r["run_level"] is not None]
            run_level = min(levels) if levels else None
        matches = [r for r in masters if r["run_level"] == run_level]
        if not matches:
            raise NoRecordBatchMaster(batchname)
        if len(matches) > 1:
            raise TooManyRecordBatchMaster(batchname)
        return matches[0]

    # -- I6: dependency check (body.sql:251-346) ----------------------------
    def _dependency_check(self, module: dict[str, Any], parameters: str,
                          control_date: datetime | None) -> int:
        try:
            status = 0
            for dep in self.store.lookup("batch_dependency", "child_id", module["module_id"]):
                parents = self.store.lookup("batch_master", "module_id", dep["parent_module_id"])
                if not parents:
                    continue  # parent absent from batch_master → skipped (body.sql:334-337)
                parent = parents[0]
                polls = 0
                while True:
                    code = self.monitor.parent_status_code(
                        parent_module_id=dep["parent_module_id"],
                        dependency_type=dep["dependency_type"],
                        control_date=control_date,
                        child_module_name=module["module_name"],
                        parent_module_name=parent["module_name"],
                        child_parameters=parameters,
                    )
                    if code is not None and code != 1:
                        status = code
                        break
                    # parent still running/waiting, or no monitor row yet:
                    # sleep and re-poll (body.sql:325-330)
                    status = 1 if code == 1 else status
                    polls += 1
                    if self.max_polls is not None and polls > self.max_polls:
                        raise TimeoutError(
                            f"dependency poll limit exceeded for parent "
                            f"{parent['module_name']}"
                        )
                    self.clock.sleep(self.poll_interval)
                if status == 2:
                    break  # mandatory failure aborts the scan (body.sql:332)
            return status  # status of the LAST parent examined
        except TimeoutError:
            # the injected poll limit is a TEST/OPS signal, not a parent
            # failure — surface it past the WHEN OTHERS parity net so a
            # hung parent reads as a timeout, not DEPENDENCY FAILURE
            raise
        except Exception:  # noqa: BLE001 — reference: WHEN OTHERS → 1
            return 1

    # -- C4: startup --------------------------------------------------------
    def startup(
        self,
        batchname: str,
        run_level: int | None = None,
        exclusive_run_yn: str = "N",
        parameters: str | None = None,
        called_by_shell: bool = False,
        called_by_forms: bool = False,
        _forms_run_id: int = 0,
    ) -> RunContext | None:
        """func_batch_startup (body.sql:472-627).  Returns a RunContext, or
        None in shell-mode when admission fails (the reference returns 0).

        Forms-mode divergence (deliberate): body.sql:490,544 return
        glo_run_id to the calling form; here the run id lives on the
        RunContext, so forms-mode returns None — callers needing the id
        read ``ctx.run_id`` from the startup that created the run."""
        if called_by_forms:
            # forms-mode short-circuit (body.sql:490, 544)
            return None

        param_string = f"{parameters or ''} Run_level=<{run_level}>"
        session = self._set_session_vars(batchname)
        module: dict[str, Any] | None = None
        try:
            module = self._get_module_info(batchname, run_level)
            if module.get("disabled_date") is not None:
                raise BatchDisabled(batchname)
            if self.monitor.duplicate_run_check(module["module_id"], param_string) != 0:
                raise DuplicateRun(batchname)

            if exclusive_run_yn == "Y":
                run_date = self.clock.now()  # glo_sysdate snapshot (body.sql:513)
                run_uid = self.monitor.insert_run(
                    module_id=module["module_id"],
                    run_id=0,
                    run_status="WAITING",
                    run_date=run_date,
                    parameters=param_string,
                    sub_system=module.get("sub_system"),
                    audit_id=session.login_id,
                    exclusive_run_yn=exclusive_run_yn,
                    control_date=session.control_date,
                )
                try:
                    code = self._dependency_check(
                        module, param_string, session.control_date
                    )
                except TimeoutError:
                    # poll-limit exceeded (engine extension — the
                    # reference spins forever at 120 s/poll): finalize
                    # the WAITING row under a status distinct from
                    # DEPENDENCY FAILURE and surface the timeout raw
                    self.monitor.finalize(
                        run_uid,
                        run_status="DEPENDENCY TIMEOUT",
                        end_time=self.clock.now(),
                        records_processed=0,
                        records_in_error=0,
                    )
                    raise
                if code != 0:
                    exc = DependencyFail(batchname)
                    exc.run_uid = run_uid  # type: ignore[attr-defined]
                    raise exc
                run_id = self.monitor.next_run_id(module["module_id"], run_date)
                # WAITING→RUNNING refreshes the run_date snapshot (body.sql:430-436)
                run_date = self.clock.now()
                self.monitor.transition(
                    run_uid, run_status="RUNNING", run_id=run_id, run_date=run_date
                )
            else:
                run_date = self.clock.now()
                run_id = self.monitor.next_run_id(module["module_id"], run_date)
                run_uid = self.monitor.insert_run(
                    module_id=module["module_id"],
                    run_id=run_id,
                    run_status="RUNNING",
                    run_date=run_date,
                    parameters=param_string,
                    sub_system=module.get("sub_system"),
                    audit_id=session.login_id,
                    exclusive_run_yn=exclusive_run_yn,
                    control_date=session.control_date,
                )

            return RunContext(
                runner=self,
                module=module,
                run_uid=run_uid,
                run_id=run_id,
                parameters=param_string,
                run_date=run_date,
                session=session,
                timer=Timer(self.clock, log=lambda m: self._log(batchname, "timer", m or "")),
            )

        except DependencyFail as exc:
            # the WAITING row transitions to DEPENDENCY FAILURE with zero
            # counts (body.sql:601-612)
            self.monitor.finalize(
                exc.run_uid,  # type: ignore[attr-defined]
                run_status="DEPENDENCY FAILURE",
                end_time=self.clock.now(),
                records_processed=0,
                records_in_error=0,
            )
            if called_by_shell:
                return None
            raise
        except BatchError as exc:
            # admission failures append a monitor row carrying the exact
            # status string (body.sql:547-599)
            if isinstance(exc, NoRecordBatchMaster):
                mod_id, sub, params = 0, None, f"BatchName=<{batchname}> {param_string}"
            else:
                mod_id = module["module_id"] if module else 0
                sub = module.get("sub_system") if module else None
                params = param_string
            self.monitor.insert_run(
                module_id=mod_id,
                run_id=0,
                run_status=exc.status,
                run_date=self.clock.now(),
                parameters=params,
                sub_system=sub,
                audit_id=session.login_id,
                exclusive_run_yn=exclusive_run_yn,
                control_date=session.control_date,
            )
            if called_by_shell:
                return None
            raise

    # -- C8: resume ---------------------------------------------------------
    def resume(self, batchname: str, run_level: int | None, run_id: int) -> RunContext:
        """proc_batch_continue (body.sql:632-645): rebuild the context from
        the RUNNING monitor row so a later finish() matches the original run."""
        session = self._set_session_vars(batchname)
        module = self._get_module_info(batchname, run_level)
        row = self.monitor.find_running(module["module_id"], run_id)
        if row is None:
            raise NoRecordBatchMaster(
                f"no RUNNING run (module={batchname}, run_id={run_id})"
            )
        return RunContext(
            runner=self,
            module=module,
            run_uid=row["run_uid"],
            run_id=run_id,
            parameters=row["parameters"],
            run_date=row["run_date"],
            session=session,
            timer=Timer(self.clock, log=lambda m: self._log(batchname, "timer", m or "")),
        )
