"""Lifecycle / state-machine tests for the orchestration layer
(SURVEY.md §5 item 3): admission statuses, duplicate-run rejection,
WAITING→RUNNING, dependency matrix, resume-then-endup, shell-mode,
timers, envvar, loader, notifier, daily000."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest

from etl_batch_spark.orchestration import (
    BatchDisabled,
    BatchRunner,
    ControlStore,
    DependencyFail,
    DuplicateRun,
    EnvVarService,
    FakeClock,
    MailMessage,
    NoRecordBatchMaster,
    Notifier,
    Timer,
    TooManyRecordBatchMaster,
    daily000,
    get_loader_file_name,
    get_run_command,
)


def make_runner(**kw) -> BatchRunner:
    store = ControlStore()
    clock = FakeClock(datetime(2026, 3, 2, 8, 0, 0))
    runner = BatchRunner(store, clock, poll_interval=1.0, max_polls=kw.pop("max_polls", 5),
                         user=kw.pop("user", "OPS$BATCHUSR"), **kw)
    return runner


def register(store: ControlStore, module_id: int, name: str, run_level: int = 1,
             disabled: datetime | None = None, sub_system: str = "SYS") -> None:
    store.append(
        "batch_master",
        {
            "module_id": module_id,
            "module_name": name,
            "run_level": run_level,
            "sub_system": sub_system,
            "disabled_date": disabled,
        },
    )


def statuses(runner: BatchRunner) -> list[str]:
    return [r["run_status"] for r in runner.monitor.latest_states()]


class TestStartupAdmission:
    def test_unknown_batch_raises_and_logs_status(self):
        r = make_runner()
        with pytest.raises(NoRecordBatchMaster):
            r.startup("NOPE", 1)
        rows = r.monitor.latest_states()
        assert [x["run_status"] for x in rows] == ["NO_RECORD_BATCH_MASTER"]
        # module_id 0 + batch name embedded in parameters (body.sql:563-570)
        assert rows[0]["module_id"] == 0
        assert rows[0]["parameters"].startswith("BatchName=<NOPE>")

    def test_unknown_batch_shell_mode_returns_none(self):
        r = make_runner()
        assert r.startup("NOPE", 1, called_by_shell=True) is None
        assert statuses(r) == ["NO_RECORD_BATCH_MASTER"]

    def test_duplicate_master_rows(self):
        r = make_runner()
        register(r.store, 1, "DUP", 1)
        register(r.store, 2, "DUP", 1)
        with pytest.raises(TooManyRecordBatchMaster):
            r.startup("DUP", 1)
        assert statuses(r) == ["TOO_MANY_RECORDS_BATCH_MASTER"]

    def test_disabled_batch(self):
        r = make_runner()
        register(r.store, 1, "OLD", 1, disabled=datetime(2020, 1, 1))
        with pytest.raises(BatchDisabled):
            r.startup("OLD", 1)
        assert statuses(r) == ["BATCH-DISABLED"]

    def test_case_insensitive_name_and_min_run_level_default(self):
        r = make_runner()
        register(r.store, 1, "MixedCase", run_level=3)
        register(r.store, 2, "MixedCase", run_level=7)
        ctx = r.startup("mixedcase")  # no run_level → MIN(run_level)=3
        assert ctx.module["module_id"] == 1
        assert "Run_level=<None>" in ctx.parameters or "Run_level=<" in ctx.parameters

    def test_duplicate_run_rejected(self):
        r = make_runner()
        register(r.store, 1, "B1")
        ctx = r.startup("B1", 1, parameters="p=1")
        assert ctx.run_id == 1
        with pytest.raises(DuplicateRun):
            r.startup("B1", 1, parameters="p=1")
        assert "RE-RUN FAILURE" in statuses(r)

    def test_same_batch_different_params_allowed(self):
        r = make_runner()
        register(r.store, 1, "B1")
        r.startup("B1", 1, parameters="p=1")
        ctx2 = r.startup("B1", 1, parameters="p=2")
        assert ctx2.run_id == 2  # per-day sequence increments

    def test_rerun_after_success_allowed(self):
        r = make_runner()
        register(r.store, 1, "B1")
        ctx = r.startup("B1", 1)
        ctx.finish("SUCCESS", 10, 0)
        ctx2 = r.startup("B1", 1)
        assert ctx2.run_id == 2

    def test_run_id_resets_next_day(self):
        r = make_runner()
        register(r.store, 1, "B1")
        ctx = r.startup("B1", 1)
        ctx.finish("SUCCESS")
        r.clock.advance(86400)
        ctx2 = r.startup("B1", 1)
        assert ctx2.run_id == 1  # per-(module, calendar-day) sequence


class TestLifecycle:
    def test_finish_sets_counts_and_end_time(self):
        r = make_runner()
        register(r.store, 1, "B1")
        ctx = r.startup("B1", 1)
        ctx.finish("SUCCESS", 100, 2)
        (row,) = r.monitor.latest_states()
        assert row["run_status"] == "SUCCESS"
        assert row["records_processed"] == 100
        assert row["records_in_error"] == 2
        assert row["end_time"] is not None

    def test_double_finish_is_noop(self):
        r = make_runner()
        register(r.store, 1, "B1")
        ctx = r.startup("B1", 1)
        ctx.finish("SUCCESS", 1, 0)
        ctx.finish("FAILURE", 9, 9)  # no live RUNNING/WAITING row → no-op
        (row,) = r.monitor.latest_states()
        assert row["run_status"] == "SUCCESS"
        assert row["records_processed"] == 1

    def test_metrics_logged_via_endup_overload(self):
        r = make_runner()
        register(r.store, 1, "B1")
        ctx = r.startup("B1", 1)
        ctx.finish("SUCCESS", 5, 0, metrics={"rows loaded": 5, "rows skipped": 1})
        msgs = [row["message"] for row in r.store.rows("batch_log")]
        assert "rows loaded:    5" in msgs
        assert "rows skipped:    1" in msgs

    def test_resume_then_endup_matches_original_run(self):
        r = make_runner()
        register(r.store, 1, "B1")
        ctx = r.startup("B1", 1, parameters="x=9")
        run_id, run_uid = ctx.run_id, ctx.run_uid
        # simulate a new session: resume by (name, level, run_id)
        ctx2 = r.resume("B1", 1, run_id)
        assert ctx2.run_uid == run_uid
        assert ctx2.parameters == ctx.parameters
        assert ctx2.run_date == ctx.run_date
        ctx2.finish("SUCCESS", 42, 0)
        (row,) = r.monitor.latest_states()
        assert (row["run_status"], row["records_processed"]) == ("SUCCESS", 42)

    def test_resume_unknown_run_raises(self):
        r = make_runner()
        register(r.store, 1, "B1")
        with pytest.raises(NoRecordBatchMaster):
            r.resume("B1", 1, 99)

    def test_forms_mode_short_circuits(self):
        r = make_runner()
        assert r.startup("ANY", 1, called_by_forms=True) is None
        assert r.monitor.latest_states() == []


class TestDependencies:
    def setup_pair(self, dep_type: str) -> BatchRunner:
        r = make_runner()
        register(r.store, 1, "PARENT")
        register(r.store, 2, "CHILD")
        r.store.append(
            "batch_dependency",
            {"child_id": 2, "parent_module_id": 1, "dependency_type": dep_type},
        )
        return r

    def run_parent(self, r: BatchRunner, status: str) -> None:
        ctx = r.startup("PARENT", 1)
        if status != "RUNNING":
            ctx.finish(status)

    def test_parent_success_proceeds(self):
        r = self.setup_pair("MANDATORY")
        self.run_parent(r, "SUCCESS")
        ctx = r.startup("CHILD", 1, exclusive_run_yn="Y")
        assert ctx.run_id == 1
        (child_row,) = [x for x in r.monitor.latest_states() if x["module_id"] == 2]
        assert child_row["run_status"] == "RUNNING"

    def test_mandatory_parent_failure_aborts(self):
        r = self.setup_pair("MANDATORY")
        self.run_parent(r, "FAILURE")
        with pytest.raises(DependencyFail):
            r.startup("CHILD", 1, exclusive_run_yn="Y")
        child_rows = [x for x in r.monitor.latest_states() if x["module_id"] == 2]
        assert child_rows[0]["run_status"] == "DEPENDENCY FAILURE"
        assert child_rows[0]["records_processed"] == 0

    def test_optional_parent_failure_proceeds(self):
        r = self.setup_pair("OPTIONAL")
        self.run_parent(r, "FAILURE")
        ctx = r.startup("CHILD", 1, exclusive_run_yn="Y")
        assert ctx.run_id == 1

    def test_wait_parent_failure_polls_forever_then_times_out(self):
        # WAIT + failed parent → DECODE gives 1 → poll loop; bounded by
        # max_polls in the engine (the reference would spin at 120 s/poll).
        # The injected limit surfaces as a raw TimeoutError — NOT swallowed
        # by the WHEN OTHERS parity net into DEPENDENCY FAILURE — and the
        # WAITING row finalizes under its own status
        r = self.setup_pair("WAIT")
        self.run_parent(r, "FAILURE")
        with pytest.raises(TimeoutError, match="dependency poll limit"):
            r.startup("CHILD", 1, exclusive_run_yn="Y")
        assert len(r.clock.sleeps) >= 5
        child_rows = [x for x in r.monitor.latest_states() if x["module_id"] == 2]
        assert child_rows[0]["run_status"] == "DEPENDENCY TIMEOUT"

    def test_running_parent_polled_until_success(self):
        r = self.setup_pair("MANDATORY")
        parent_ctx = r.startup("PARENT", 1)  # leave RUNNING

        # finish the parent after 3 polls via a scripted clock
        original_sleep = r.clock.sleep
        count = {"n": 0}

        def sleep_and_finish(seconds):
            original_sleep(seconds)
            count["n"] += 1
            if count["n"] == 3:
                parent_ctx.finish("SUCCESS")

        r.clock.sleep = sleep_and_finish
        ctx = r.startup("CHILD", 1, exclusive_run_yn="Y")
        assert ctx.run_id == 1
        assert count["n"] == 3

    def test_no_parent_monitor_row_polls(self):
        # parent registered but never ran on the control date → NO_DATA_FOUND
        # path: sleep and retry until the bounded poll limit times out
        r = self.setup_pair("MANDATORY")
        with pytest.raises(TimeoutError, match="dependency poll limit"):
            r.startup("CHILD", 1, exclusive_run_yn="Y")
        assert len(r.clock.sleeps) >= 5

    def test_parent_missing_from_master_is_skipped(self):
        r = make_runner()
        register(r.store, 2, "CHILD")
        r.store.append(
            "batch_dependency",
            {"child_id": 2, "parent_module_id": 999, "dependency_type": "MANDATORY"},
        )
        ctx = r.startup("CHILD", 1, exclusive_run_yn="Y")  # body.sql:334-337
        assert ctx.run_id == 1

    def test_unknown_dependency_type_gives_status_3(self):
        r = self.setup_pair("BOGUS")
        self.run_parent(r, "FAILURE")
        with pytest.raises(DependencyFail):
            r.startup("CHILD", 1, exclusive_run_yn="Y")

    def test_exclusive_waiting_row_recorded(self):
        r = self.setup_pair("MANDATORY")
        self.run_parent(r, "SUCCESS")
        r.startup("CHILD", 1, exclusive_run_yn="Y")
        child_events = [
            x for x in r.store.rows("batch_monitor") if x["module_id"] == 2
        ]
        # first event WAITING run_id=0, later RUNNING with allocated id
        assert child_events[0]["run_status"] == "WAITING"
        assert child_events[0]["run_id"] == 0
        assert child_events[-1]["run_status"] == "RUNNING"
        assert child_events[-1]["run_id"] == 1


class TestTimers:
    def test_capture_and_elapsed_last_match_wins(self):
        clock = FakeClock(datetime(2026, 1, 1, 0, 0, 0))
        t = Timer(clock)
        t.capture("load")
        clock.advance(3600)
        t.capture("LOAD")  # case-insensitive; later capture wins
        clock.advance(3725)  # 1:2:5
        assert t.show_elapsed("Load took ", "load") == "Load took 1:2:5"

    def test_no_prefix_message(self):
        clock = FakeClock()
        t = Timer(clock)
        t.capture("x")
        clock.advance(61)
        assert t.show_elapsed(None, "x") == "Total Time Taken 0:1:1"

    def test_unknown_context_logs_none(self):
        t = Timer(FakeClock())
        assert t.show_elapsed("p", "missing") is None


class TestEnvVar:
    def test_latest_write_wins(self):
        store = ControlStore()
        env = EnvVarService(store)
        env.update("K", "1")
        env.update("K", "2")
        assert env.get("K") == "2"
        assert env.get("MISSING") is None

    def test_control_date_from_env(self):
        store = ControlStore()
        env = EnvVarService(store)
        clock = FakeClock(datetime(2026, 3, 2, 14, 30))
        env.update("BATCH_CONTROL_DATE", "01-MAR-2026")
        assert env.control_date(clock) == datetime(2026, 3, 1)

    def test_control_date_fallback_truncates_today(self):
        store = ControlStore()
        env = EnvVarService(store)
        clock = FakeClock(datetime(2026, 3, 2, 14, 30))
        assert env.control_date(clock) == datetime(2026, 3, 2)
        env.update("BATCH_CONTROL_DATE", "garbage")
        assert env.control_date(clock) == datetime(2026, 3, 2)


class TestLoader:
    def fill(self, store: ControlStore, batch: str, files: list[tuple[str, int]]):
        for name, seq in files:
            store.append(
                "tmp_run_loader", {"batch_name": batch, "file_name": name, "file_seq": seq}
            )

    def test_day_template_and_ordering(self):
        store = ControlStore()
        self.fill(store, "B1", [("b_${DAY}.dat", 2), ("a_${DAY}.dat", 1)])
        assert get_loader_file_name(store, "b1", "MONDAY") == "a_MONDAY.dat b_MONDAY.dat"

    def test_no_rows_returns_zero_string(self):
        assert get_loader_file_name(ControlStore(), "NONE", "MONDAY") == "0"

    def test_eisu242_saturday_excludes_avg(self):
        store = ControlStore()
        self.fill(store, "EISU242", [("AVG_${DAY}_VDN", 1), ("OTHER_${DAY}", 2)])
        assert get_loader_file_name(store, "EISU242", "SATURDAY") == "OTHER_SATURDAY"

    def test_eisu242_weekday_only_avg(self):
        store = ControlStore()
        self.fill(store, "EISU242", [("AVG_${DAY}_VDN", 1), ("OTHER_${DAY}", 2)])
        assert get_loader_file_name(store, "EISU242", "MONDAY") == "AVG_MONDAY_VDN"

    def test_run_command_sentinel(self):
        store = ControlStore()
        assert get_run_command(store, "X") == "0"
        store.append("tmp_run_batch", {"batch_name": "X", "run_command": "run.sh"})
        assert get_run_command(store, "X") == "run.sh"


class CollectingTransport:
    def __init__(self):
        self.sent: list[MailMessage] = []

    def send(self, msg: MailMessage) -> None:
        self.sent.append(msg)


class TestNotifier:
    def make(self, store: ControlStore) -> tuple[Notifier, CollectingTransport]:
        t = CollectingTransport()
        n = Notifier(store=store, user="OPS$JDOE", transport=t, clock=FakeClock())
        store.append(
            "mail_addr_lookup", {"stf_id": "JDOE", "forename": "jane", "name": "doe"}
        )
        return n, t

    def test_gated_off(self):
        store = ControlStore()
        env = EnvVarService(store)
        env.update("SEND_MAIL", "N")
        n, t = self.make(store)
        assert n.send_mail_group("a@x.com", "s", "b") is None
        assert t.sent == []

    def test_sends_with_derived_sender(self):
        store = ControlStore()
        EnvVarService(store).update("SEND_MAIL", "Y")
        n, t = self.make(store)
        msg = n.send_mail_group("a@x.com b@x.com", "subj", "body")
        assert msg.sender == "Jane.Doe@example.com"
        assert msg.recipients == ["a@x.com", "b@x.com"]
        assert len(t.sent) == 1

    def test_test_override_and_audit(self):
        store = ControlStore()
        env = EnvVarService(store)
        env.update("SEND_MAIL", "Y")
        env.update("SEND_MAIL_TEST", "Y")
        env.update("SEND_MAIL_AUD", "Y")
        n, t = self.make(store)
        msg = n.send_mail_group("real@x.com", "subj", "body")
        assert msg.recipients == ["batch-test@example.com"]
        audit = store.rows("send_mail_audit")
        assert len(audit) == 1
        assert audit[0]["recipient"] == "batch-test@example.com"


class TestDaily000:
    def make_runner_at(self, dt: datetime) -> BatchRunner:
        store = ControlStore()
        clock = FakeClock(dt)
        runner = BatchRunner(store, clock, poll_interval=1.0, user="OPS$BATCH")
        register(store, 1, "DAILY000")
        return runner

    def test_success_sets_control_date_and_sleeps_past_midnight(self):
        # start 23:30 on the run date → remaining ≈ 29:59 + 60 s
        r = self.make_runner_at(datetime(2026, 3, 2, 23, 30, 0))
        assert daily000(r, "02-MAR-2026", "DAILY") == 0
        assert r.env.get("BATCH_CONTROL_DATE") == "02-MAR-2026"
        assert r.clock.now() >= datetime(2026, 3, 3, 0, 0, 59)
        (row,) = r.monitor.latest_states()
        assert row["run_status"] == "SUCCESS"

    def test_sleep_quantum_600(self):
        r = self.make_runner_at(datetime(2026, 3, 2, 23, 0, 0))
        daily000(r, "02-MAR-2026", "DAILY")
        # ~1h remaining → several 600 s quanta then an exact remainder
        assert 600 in r.clock.sleeps

    def test_invalid_date_fails(self):
        r = self.make_runner_at(datetime(2026, 3, 2, 23, 30))
        assert daily000(r, "garbage-date", "DAILY") == 1
        (row,) = r.monitor.latest_states()
        assert row["run_status"] == "FAILURE"

    def test_purges_old_logs(self):
        r = self.make_runner_at(datetime(2026, 3, 2, 23, 59, 30))
        r.store.append(
            "batch_log",
            {"run_date": datetime(2026, 2, 1), "batch_name": "OLD", "package_name": "p",
             "procedure_name": "p", "statement_num": 0, "message": "old"},
        )
        r.store.append(
            "batch_log",
            {"run_date": datetime(2026, 3, 2), "batch_name": "NEW", "package_name": "p",
             "procedure_name": "p", "statement_num": 0, "message": "new"},
        )
        daily000(r, "02-MAR-2026", "DAILY")
        names = [x["batch_name"] for x in r.store.rows("batch_log")]
        assert "OLD" not in names
        assert "NEW" in names

    def test_flag_skips_control_date_update_and_adds_sleep(self):
        r = self.make_runner_at(datetime(2026, 3, 2, 23, 59, 30))
        assert daily000(r, "02-MAR-2026", "DAILY", flag=2) == 0
        assert r.env.get("BATCH_CONTROL_DATE") is None  # flag set → no update
        assert 120 in r.clock.sleeps  # extra flag*60 seconds


class TestSparkViews:
    def test_monitor_latest_df(self, spark):
        r = make_runner()
        r.store.spark = spark
        register(r.store, 1, "B1")
        ctx = r.startup("B1", 1, exclusive_run_yn="N")
        ctx.finish("SUCCESS", 3, 0)
        df = r.store.monitor_latest_df(spark)
        rows = df.collect()
        assert len(rows) == 1
        assert rows[0]["run_status"] == "SUCCESS"
        assert rows[0]["records_processed"] == 3


class TestAuditStamp:
    def test_stamp_carries_run_identity(self, spark):
        runner = make_runner()
        register(runner.store, 7, "STAMPME")
        ctx = runner.startup("STAMPME", exclusive_run_yn="N")
        df = spark.createDataFrame([(1,), (2,)], "x long")
        stamped = ctx.stamp(df)
        rows = stamped.collect()
        assert {r["x"] for r in rows} == {1, 2}
        for r in rows:
            assert r["_run_id"] == ctx.run_id
            assert r["_module"] == "STAMPME"
            assert r["_load_ts"] == ctx.run_date  # snapshotted, not now()
        ctx.success()


class TestDagRunner:
    def _mk(self, names):
        r = make_runner()
        for i, n in enumerate(names, start=1):
            register(r.store, i, n.upper())
        from etl_batch_spark.orchestration.dag import DagRunner

        return r, DagRunner(r, max_workers=3)

    def test_diamond_runs_in_dependency_order(self):
        r, dag = self._mk(["a", "b", "c", "d"])
        seen = []
        lock = __import__("threading").Lock()

        def mod(name):
            def fn(ctx):
                with lock:
                    seen.append(name)
                return (1, 0)
            return fn

        out = dag.run(
            {n: mod(n) for n in "abcd"},
            {"b": ["a"], "c": ["a"], "d": ["b", "c"]},
        )
        assert out == {n: "SUCCESS" for n in "abcd"}
        assert seen[0] == "a" and seen[-1] == "d"
        assert set(seen[1:3]) == {"b", "c"}
        # every module went through the real lifecycle
        assert sorted(x["run_status"] for x in r.monitor.latest_states()) == [
            "SUCCESS"] * 4

    def test_failure_skips_transitive_dependents_only(self):
        r, dag = self._mk(["a", "b", "c", "d", "e"])

        def ok(ctx):
            return (1, 0)

        def boom(ctx):
            raise RuntimeError("module failed")

        out = dag.run(
            {"a": ok, "b": boom, "c": ok, "d": ok, "e": ok},
            {"b": ["a"], "c": ["b"], "d": ["c"], "e": ["a"]},
        )
        assert out == {
            "a": "SUCCESS", "b": "FAILURE", "c": "SKIPPED", "d": "SKIPPED",
            "e": "SUCCESS",
        }
        got = sorted(x["run_status"] for x in r.monitor.latest_states())
        # skipped modules were never admitted: only 3 monitor rows
        assert got == ["FAILURE", "SUCCESS", "SUCCESS"]

    def test_cycle_raises_before_running(self):
        import pytest as _pytest

        from etl_batch_spark.orchestration.dag import DagCycle

        r, dag = self._mk(["a", "b"])
        with _pytest.raises(DagCycle):
            dag.run({"a": lambda c: (1, 0), "b": lambda c: (1, 0)},
                    {"a": ["b"], "b": ["a"]})
        assert r.monitor.latest_states() == []

    def test_admission_failure_is_module_failure(self):
        # module disabled in batch_master -> startup raises BatchDisabled ->
        # DAG marks FAILURE and skips dependents
        r = make_runner()
        register(r.store, 1, "A")
        from datetime import datetime as _dt

        register(r.store, 2, "B", disabled=_dt(2026, 1, 1))
        from etl_batch_spark.orchestration.dag import DagRunner

        dag = DagRunner(r)
        out = dag.run(
            {"a": lambda c: (1, 0), "b": lambda c: (1, 0)}, {"b": ["a"]},
        )
        # a succeeds; b's startup hits BatchDisabled
        assert out == {"a": "SUCCESS", "b": "FAILURE"}

    def test_topological_order_is_lexicographic_among_ready(self):
        from etl_batch_spark.orchestration.dag import topological_order

        # b becomes ready after a; lexicographic-among-ready must place it
        # before z, not behind it (a FIFO would yield [a, z, b])
        assert topological_order({"a": [], "z": [], "b": ["a"]}) == ["a", "b", "z"]

    def test_exclusive_admission_runs_control_table_dependency_gate(self):
        """exclusive_run_yn='Y' admits through the reference's exclusive
        path, so batch_dependency-table edges NOT in the DAG's deps map
        still gate: a MANDATORY parent with no SUCCESS row blocks the
        child even though the DAG itself knows no such edge."""
        r, dag = self._mk(["p", "c"])
        r.store.append(
            "batch_dependency",
            {"child_id": 2, "parent_module_id": 1, "dependency_type": "MANDATORY"},
        )

        # run only c, with NO dag edge to p: the control table alone blocks
        out = dag.run(
            {"c": lambda ctx: (1, 0)}, {}, exclusive_run_yn="Y"
        )
        assert out == {"c": "FAILURE"}

        # once p has a SUCCESS run, c is admitted
        r2, dag2 = self._mk(["p", "c"])
        r2.store.append(
            "batch_dependency",
            {"child_id": 2, "parent_module_id": 1, "dependency_type": "MANDATORY"},
        )
        out2 = dag2.run(
            {"p": lambda ctx: (1, 0), "c": lambda ctx: (1, 0)},
            {"c": ["p"]},
            exclusive_run_yn="Y",
        )
        assert out2 == {"p": "SUCCESS", "c": "SUCCESS"}


# -- latest-state index vs a from-scratch fold of the event log ---------------
def _day(ts):
    return ts.replace(hour=0, minute=0, second=0, microsecond=0) if ts else None


def _fold(store: ControlStore) -> list:
    """Test oracle: the latest event per run_uid by event_seq, folded over
    the whole batch_monitor log, in order of each run_uid's first event."""
    latest: dict = {}
    for row in ControlStore.rows(store, "batch_monitor"):
        uid = row.get("run_uid")
        cur = latest.get(uid)
        if cur is None or row["event_seq"] > cur["event_seq"]:
            latest[uid] = row
    return list(latest.values())


def _running(states, module_id, run_id=None):
    rows = [r for r in states if r["module_id"] == module_id and r["run_status"] == "RUNNING"
            and (run_id is None or r["run_id"] == run_id)]
    return max(rows, key=lambda r: (r["run_date"], r["event_seq"])) if rows else None


def _parent_code(states, parent_id, dep_type, control_date):
    rows = [r for r in states if r["module_id"] == parent_id
            and _day(r["control_date"]) == _day(control_date)]
    if not rows:
        return None
    status = max(rows, key=lambda r: r["run_id"] or 0)["run_status"]
    if status == "SUCCESS":
        return 0
    if status in ("RUNNING", "WAITING"):
        return 1
    return {"MANDATORY": 2, "OPTIONAL": 0, "WAIT": 1}.get(dep_type, 3)


def assert_index_matches_fold(runner: BatchRunner, module_ids=(0, 1, 2, 3, 4)) -> None:
    states = _fold(runner.store)
    mon = runner.monitor
    assert mon.latest_states() == states  # contents and order
    now = runner.clock.now()
    control_date = runner.env.control_date(runner.clock)
    for mid in module_ids:
        day_ids = [r["run_id"] or 0 for r in states
                   if r["module_id"] == mid and _day(r["run_date"]) == _day(now)]
        assert mon.next_run_id(mid, now) == max(day_ids, default=0) + 1
        for params in (" Run_level=<1>", "X Run_level=<1>", None):
            dup = any(r["module_id"] == mid and r["run_status"] == "RUNNING"
                      and (r["parameters"] or " ") == (params or " ") for r in states)
            assert mon.duplicate_run_check(mid, params) == int(dup)
        assert mon.latest_running(mid) == _running(states, mid)
        for run_id in range(4):
            assert mon.find_running(mid, run_id) == _running(states, mid, run_id)
        for dep_type in ("MANDATORY", "OPTIONAL", "WAIT", "BOGUS"):
            assert mon.parent_status_code(
                parent_module_id=mid, dependency_type=dep_type, control_date=control_date,
                child_module_name="CHILD", parent_module_name="PARENT",
                child_parameters=None,
            ) == _parent_code(states, mid, dep_type, control_date)


class NoLogScanStore(ControlStore):
    """A store whose full batch_monitor read fails, to prove no admission,
    dependency or finish path reads the whole log."""

    scanned = False

    def rows(self, table):
        if table == "batch_monitor":
            self.scanned = True
            raise AssertionError("full batch_monitor scan")
        return super().rows(table)


def _dag_days(runner: BatchRunner, *, days: int, max_workers: int, seed: int, check) -> None:
    """Run a seeded 12-module DAG, with every edge also in batch_dependency,
    once per control date through exclusive admission; ``check`` runs
    after each date."""
    from etl_batch_spark.orchestration.dag import DagRunner

    rng = random.Random(seed)
    names = [f"m{i:02d}" for i in range(12)]
    deps = {n: rng.sample(names[:i], min(i, rng.randint(0, 2))) for i, n in enumerate(names)}
    failing = set(rng.sample(names, 2))
    for i, n in enumerate(names, start=1):
        register(runner.store, i, n.upper())
    for i, n in enumerate(names, start=1):
        for u in deps[n]:
            runner.store.append("batch_dependency", {
                "child_id": i, "parent_module_id": names.index(u) + 1,
                "dependency_type": rng.choice(["MANDATORY", "OPTIONAL"])})
    expected: dict = {}
    for n in names:  # names are in a topological order already
        if any(expected[u] != "SUCCESS" for u in deps[n]):
            expected[n] = "SKIPPED"
        else:
            expected[n] = "FAILURE" if n in failing else "SUCCESS"

    def body(name):
        def fn(ctx):
            if name in failing:
                raise RuntimeError("injected")
            return (len(name), 0)
        return fn

    dag = DagRunner(runner, max_workers=max_workers)
    for day in range(days):
        runner.env.update("BATCH_CONTROL_DATE",
                          (datetime(2026, 3, 2) + timedelta(days=day)).strftime("%d-%b-%Y").upper())
        runner.clock.advance(86400)
        got = dag.run({n: body(n) for n in names}, deps, exclusive_run_yn="Y")
        check()
        assert got == expected


class TestMonitorIndex:
    @pytest.mark.parametrize("seed", [1, 2, 3, 4])
    def test_random_lifecycle_matches_fold(self, seed):
        rng = random.Random(seed)
        r = make_runner(max_polls=2)
        register(r.store, 1, "A")
        register(r.store, 2, "B")
        register(r.store, 3, "C")
        for child, parent, kind in ((2, 1, "OPTIONAL"), (3, 1, "MANDATORY")):
            r.store.append("batch_dependency", {
                "child_id": child, "parent_module_id": parent, "dependency_type": kind})
        live: list = []
        for _ in range(80):
            step = rng.choice(["start"] * 4 + ["finish"] * 3
                              + ["resume", "advance", "delete", "rekey"])
            if step == "start":
                try:
                    live.append(r.startup(rng.choice(["A", "B", "C", "NOPE"]), 1,
                                          exclusive_run_yn=rng.choice("YN"),
                                          parameters=rng.choice([None, "X"])))
                except (NoRecordBatchMaster, DuplicateRun, DependencyFail, TimeoutError):
                    pass
            elif step == "finish" and live:
                ctx = rng.choice(live)
                ctx.finish(rng.choice(["SUCCESS", "FAILURE"]), rng.randint(0, 9), 0)
                if rng.random() < 0.5:  # otherwise a later double finish
                    live.remove(ctx)
            elif step == "resume" and live:
                ctx = rng.choice(live)
                try:
                    live.append(r.resume(ctx.module["module_name"], 1, ctx.run_id))
                except NoRecordBatchMaster:
                    pass
            elif step == "advance":
                r.clock.advance(rng.choice([600, 5 * 3600, 20 * 3600]))
            elif step == "delete":
                k = rng.randint(2, 5)
                r.store.delete_where("batch_monitor", lambda row, k=k: row["event_seq"] % k == 0)
            elif step == "rekey" and r.monitor.latest_states():
                row = rng.choice(r.monitor.latest_states())
                r.store.append("batch_monitor", {
                    **{c: v for c, v in row.items() if c != "event_seq"},
                    "module_id": rng.choice([1, 2, 3, 4])})
            assert_index_matches_fold(r)

    def test_dag_with_four_workers_matches_fold(self):
        r = make_runner()
        _dag_days(r, days=3, max_workers=4, seed=5,
                  check=lambda: assert_index_matches_fold(r, module_ids=range(14)))

    def test_admission_and_finish_never_scan_the_log(self):
        store = NoLogScanStore()
        r = BatchRunner(store, FakeClock(datetime(2026, 3, 2, 8, 0, 0)),
                        poll_interval=1.0, max_polls=5, user="OPS$BATCHUSR")

        def check():
            assert not store.scanned

        _dag_days(r, days=3, max_workers=2, seed=6, check=check)
        assert {row["run_status"] for row in _fold(store)} <= {"SUCCESS", "FAILURE"}
