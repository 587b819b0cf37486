"""The workloads and the loops that time them.

Every data batch runs the way ``python -m etl_batch_spark run`` does:
``BatchRunner.startup`` -> ``Query.build`` -> noop sink with an
``Observation`` row count -> ``RunContext.finish("SUCCESS", n, 0)``.
The load is a closed loop from one client: batches run back to back,
in a seeded order that is reshuffled every pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from datetime import datetime, timedelta

from perfbench.dagmodel import expected_status, make_dag, rows_for
from perfbench.trace import CpuMeter

HERE = os.path.dirname(os.path.abspath(__file__))

# Build- and dispatch-bound: the Python/Arrow boundary (mm04's two
# MapInPandas nodes behind a broadcast self-join), eager build jobs
# (tx14), a zero-job build with an exchange and aggregate (dd01), and
# the write path through sources.txlog.TxTable (et30: overwrite, append,
# read at a version; et33: append, compact, vacuum, read).  An odd
# number of queries puts the median batch inside one query's cluster of
# latencies, whatever the number of passes.
CURATION_WRITES = [
    "mm04_phash_neardup", "tx14_bm25_search", "dd01_dedup_exact",
    "et30_time_travel", "et33_compaction_invariance",
]

WORKLOADS = ["curation_writes", "control_plane"]
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")


# -- fixtures and expectations (outside every timed window) -----------------
def _row_counts(data_dir: str) -> "dict[str, int]":
    import pyarrow.parquet as pq

    counts = {}
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            counts[name[: -len(".parquet")]] = pq.read_metadata(
                os.path.join(data_dir, name)).num_rows
    return counts


def check_fixtures() -> str:
    """The vendored sf0.01 fixture dir, after checking every table's row
    count against the manifest."""
    with open(os.path.join(HERE, "manifest.json")) as fh:
        manifest = json.load(fh)
    found = _row_counts(FIXTURES)
    if found != manifest:
        raise RuntimeError(f"{FIXTURES}: row counts {found} differ from manifest {manifest}")
    return FIXTURES


def expected_rows(cache_path: str, data_dir: str, names: "list[str]") -> "dict[str, int]":
    """Each query's row count by its DuckDB oracle, cached in
    ``cache_path`` and keyed by the oracle's text."""
    import duckdb

    from etl_batch_spark.catalog import DATA_TABLES, table_path
    from etl_batch_spark.queries import QUERIES

    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    con = None
    out = {}
    for name in names:
        sql = QUERIES[name].oracle
        key = hashlib.sha1(sql.encode()).hexdigest()
        if cache.get(name, {}).get("oracle_sha1") != key:
            if con is None:
                con = duckdb.connect()
                for table in DATA_TABLES:
                    con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                                f"read_parquet('{table_path(data_dir, table)}')")
            rows = con.execute(f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
            cache[name] = {"oracle_sha1": key, "rows": rows}
        out[name] = cache[name]["rows"]
    if con is not None:
        con.close()
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
    return out


# -- data workloads -----------------------------------------------------------
class BatchLoop:
    """Runs one query as one batch through the public lifecycle and checks
    its outcome: monitor status, records_processed against the oracle, and
    no temp directory or warehouse entry left behind."""

    def __init__(self, spark, names, data_dir, expected, tmp_dir, warehouse):
        from etl_batch_spark.orchestration.runner import BatchRunner
        from etl_batch_spark.orchestration.store import ControlStore

        self.spark, self.names, self.data_dir = spark, names, data_dir
        self.expected, self.tmp_dir, self.warehouse = expected, tmp_dir, warehouse
        self.store = ControlStore(spark)
        for i, name in enumerate(names, start=1):
            self.store.append("batch_master", {
                "module_id": i, "module_name": name.upper(), "run_level": 1,
                "sub_system": "PERFBENCH", "disabled_date": None})
        self.runner = BatchRunner(self.store)
        self.seq = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}  # per query, priming included
        self.pass_cpu: list[tuple[float, float]] = []  # CpuMeter laps per pass

    def _leftovers(self) -> "set[str]":
        found = set(os.listdir(self.tmp_dir))
        if os.path.isdir(self.warehouse):
            found |= {f"spark-warehouse/{e}" for e in os.listdir(self.warehouse)}
        return found

    def run(self, name: str, tracer) -> "tuple[float, bool]":
        """One batch: returns (startup-to-finish seconds, outcome as expected)."""
        from etl_batch_spark.__main__ import _sink
        from etl_batch_spark.queries import QUERIES

        self.seq += 1
        batch = f"{name}#{self.seq}"
        before = self._leftovers()
        ctx, n, error = None, None, None
        t0 = time.perf_counter()
        with tracer.span("batch", batch=batch):
            try:
                ctx = self.runner.startup(name.upper(), 1, exclusive_run_yn="N")
                with tracer.span("build", phase="build"):
                    df = QUERIES[name].build(self.spark, self.data_dir)
                with tracer.span("sink", phase="exec"):
                    n = _sink(df, "noop")
                ctx.finish("SUCCESS", n, 0)
            except Exception as exc:  # a failed batch is counted, not fatal
                error = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
                if ctx is not None:
                    ctx.finish("FAILURE", 0, 0)
        latency = time.perf_counter() - t0
        tracer.end_batch(batch)
        if error is None:
            final = next(r for r in reversed(self.store.rows("batch_monitor"))
                         if r["run_uid"] == ctx.run_uid)
            leaked = self._leftovers() - before
            if final["run_status"] != "SUCCESS":
                error = f"{name}: monitor status {final['run_status']}"
            elif final["records_processed"] != self.expected[name]:
                error = (f"{name}: records_processed {final['records_processed']}"
                         f" != oracle {self.expected[name]}")
            elif leaked:
                error = f"{name}: left behind {sorted(leaked)}"
        if error is not None:
            self.errors.append(error)
        self.samples.setdefault(name, []).append(latency)
        return latency, error is None

    def passes(self, rng: random.Random, seconds: float, tracer) -> "list[list[float]]":
        """Whole passes, each in a fresh seeded order, until ``seconds``
        have gone by and more than ten batches ran."""
        out: list[list[float]] = []
        meter = CpuMeter()
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or sum(map(len, out)) <= 10:
            order = list(self.names)
            rng.shuffle(order)
            meter.lap()
            out.append([self.run(name, tracer)[0] for name in order])
            self.pass_cpu.append(meter.lap())
        return out


# -- control plane --------------------------------------------------------------
class ControlPlane:
    """A seeded module DAG run once per control date through
    ``DagRunner.run(..., exclusive_run_yn="Y")`` on a ``FakeClock``.  An
    episode starts from an empty control store and runs ``days`` dates,
    so the run-log history, which every monitor lookup rescans, grows."""

    def __init__(self, spark, seed: int, workers: int, days: int):
        self.spark, self.workers, self.days = spark, workers, days
        self.dag = make_dag(seed)
        self.expected = expected_status(self.dag)
        self.errors: list[str] = []
        self.attempted = 0
        self.latencies: list[float] = []
        self.day_cpu: list[tuple[float, float]] = []  # CpuMeter laps per date
        self.store = self.clock = None

    def _runner(self, clock):
        from etl_batch_spark.orchestration.monitor import RunMonitor
        from etl_batch_spark.orchestration.runner import BatchRunner
        from etl_batch_spark.orchestration.store import ControlStore

        latencies = self.latencies
        started: dict[str, float] = {}

        class TimedMonitor(RunMonitor):
            def finalize(self, run_uid, **kw):
                ok = super().finalize(run_uid, **kw)
                if run_uid in started:
                    latencies.append(time.perf_counter() - started.pop(run_uid))
                return ok

        class TimedRunner(BatchRunner):
            """Times each module from startup to finish, from outside."""

            def startup(self, *args, **kw):
                t0 = time.perf_counter()
                ctx = super().startup(*args, **kw)
                started[ctx.run_uid] = t0
                return ctx

        store = ControlStore(self.spark)
        runner = TimedRunner(store, clock)
        runner.monitor = TimedMonitor(store)
        for i, name in enumerate(self.dag.names, start=1):
            store.append("batch_master", {
                "module_id": i, "module_name": name.upper(), "run_level": 1,
                "sub_system": "PERFBENCH", "disabled_date": None})
        ids = {name: i for i, name in enumerate(self.dag.names, start=1)}
        for (child, parent), kind in sorted(self.dag.edge_types.items()):
            store.append("batch_dependency", {
                "child_id": ids[child], "parent_module_id": ids[parent],
                "dependency_type": kind})
        return runner

    def _body(self, name: str, day: int, tracer):
        def body(ctx):
            with tracer.span("body"):
                ctx.timer.capture("body")
                ctx.progress("load", 0)
                if name in self.dag.failing:
                    raise RuntimeError(f"{name}: injected failure")
                n = rows_for(name, day)
                ctx.progress("load", n)
                ctx.timer.show_elapsed(f"{name} body ", "body")
                return n, 0
        return body

    def episode(self, tracer, days: "int | None" = None) -> "list[float]":
        """Seconds per control date, after checking every outcome."""
        from etl_batch_spark.orchestration.clock import FakeClock
        from etl_batch_spark.orchestration.dag import DagRunner
        from etl_batch_spark.orchestration.envvar import EnvVarService

        clock = FakeClock(datetime(2026, 1, 1, 8, 0, 0))
        runner = self._runner(clock)
        self.store, self.clock = runner.store, clock
        env = EnvVarService(runner.store)
        dag = DagRunner(runner, max_workers=self.workers)
        meter = CpuMeter()
        day_seconds = []
        for day in range(self.days if days is None else days):
            control_date = datetime(2026, 1, 1) + timedelta(days=day)
            env.update("BATCH_CONTROL_DATE", control_date.strftime("%d-%b-%Y").upper())
            clock.advance(86400)
            first_event = len(runner.store.rows("batch_monitor"))
            modules = {name: self._body(name, day, tracer) for name in self.dag.names}
            meter.lap()
            t0 = time.perf_counter()
            with tracer.span("dag.run", batch=f"day{day}", shared=True):
                got = dag.run(modules, self.dag.deps, exclusive_run_yn="Y")
            day_seconds.append(time.perf_counter() - t0)
            self.day_cpu.append(meter.lap())
            self._check(got, runner.store.rows("batch_monitor")[first_event:], day)
        return day_seconds

    def _check(self, got: "dict[str, str]", events: "list[dict]", day: int) -> None:
        self.attempted += len(self.dag.names)
        final = {}  # latest event per module; module_id 0 is an unknown name
        for row in events:
            if row["module_id"]:
                final[self.dag.names[row["module_id"] - 1]] = row
        for name, want in self.expected.items():
            row = final.get(name)
            if got.get(name) != want:
                error = f"day {day} {name}: DagRunner said {got.get(name)}, expected {want}"
            elif want == "SKIPPED":
                error = None if row is None else f"day {day} {name}: skipped module has a monitor row"
            elif row is None or row["run_status"] != want:
                error = f"day {day} {name}: monitor says {row and row['run_status']}, expected {want}"
            elif want == "SUCCESS" and row["records_processed"] != rows_for(name, day):
                error = f"day {day} {name}: records_processed {row['records_processed']}"
            else:
                error = None
            if error is not None:
                self.errors.append(error)

    def episodes(self, seconds: float, tracer) -> "list[float]":
        """Whole episodes until ``seconds`` have gone by."""
        out: list[float] = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or not out:
            out.extend(self.episode(tracer))
        return out
