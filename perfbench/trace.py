"""The traced run: spans around the public calls into each layer, plus
Spark's job tracker and SQL status store read after every batch.

Spans are kept in memory and written when the run ends.  Each has a
name, start, end, parent and batch id; a data batch nests as
batch -> startup, build (-> load_table, txlog.*), sink, finish, and a
control-plane day as dag.run -> startup, body, finish per module.
The wrappers are installed from here and removed by ``restore``; the
package itself is not changed.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import re
import statistics
import sys
import threading
import time

from perfbench.stats import parse_metric

TX_KIND = {
    "append": "commit", "overwrite": "commit", "merge": "commit",
    "read": "read", "read_where": "read", "changes": "read",
    "compact": "maintenance", "vacuum": "maintenance",
}
# status-store metric name -> per-layer metric it is summed into
NODE_METRICS = {
    "scan time": "scan_s", "size of files read": "scan_bytes",
    "shuffle bytes written": "shuffle_bytes",
    "shuffle records written": "shuffle_records",
    "time in aggregation build": "agg_build_s", "sort time": "sort_s",
    "spill size": "spill_bytes",
    "time to build": "broadcast_build_s", "time to collect": "broadcast_collect_s",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_out",
    "data returned from Python workers": "python_bytes_in",
}
_EXPR_ID = re.compile(r"#\d+L?")
_LOCATION = re.compile(r"Location: \w+\(\d+ paths?\)\[([^\]]*)\]")
# thread names, cut to 15 characters by the kernel, of the JVM's service threads
_JVM_SERVICE = re.compile(r"C[12] CompilerThre|GC Thread#|G1 |VM Thread|VM Periodic|Sweeper thread")


def vm_hwm_mb(pid: "int | str" = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def _stat(path: str) -> "tuple[str, list[str]]":
    """A /proc stat file: the command name and the fields after it."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds, user and system, of this process and every live
    descendant (the JVM, the Python workers), counting the children each
    has reaped.  ``lap`` splits the time since the previous lap into
    workload time and the JVM's service threads (JIT compilers, garbage
    collectors, VM operations): those follow warm-up and, on a shared
    host, how long idle collectors spin for descheduled peers.  A vCPU's
    stolen time is kept out of these counters, so on such a host they
    move far less than wall time does."""

    def __init__(self):
        self.tick = os.sysconf("SC_CLK_TCK")
        self._total, self._service = self._read()

    def _read(self) -> "tuple[float, dict[str, float]]":
        parent, fields = {}, {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    fields[entry] = _stat(f"/proc/{entry}/stat")[1]
                except OSError:  # exited since the listing
                    continue
                parent[entry] = fields[entry][1]
        tree, frontier = set(), {str(os.getpid())}
        while frontier:
            frontier = {pid for pid, pp in parent.items() if pp in frontier} - tree
            tree |= frontier
        own = os.times()
        total = time.process_time() + own.children_user + own.children_system
        service = {}
        for pid in tree:
            total += sum(map(int, fields[pid][11:15])) / self.tick  # utime..cstime
            with contextlib.suppress(OSError):
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with contextlib.suppress(OSError):
                        comm, f = _stat(f"/proc/{pid}/task/{tid}/stat")
                        if _JVM_SERVICE.match(comm):
                            service[tid] = (int(f[11]) + int(f[12])) / self.tick
        return total, service

    def lap(self) -> "tuple[float, float]":
        """(workload, JVM service) CPU seconds since the previous lap."""
        total, service = self._read()
        busy = sum(v - self._service.get(tid, 0.0) for tid, v in service.items())
        out = (total - self._total - busy, busy)
        self._total, self._service = total, service
        return out


class NullTracer:
    """Tracing off: every span is a no-op."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def end_batch(self, batch: str) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.batches: dict[str, dict] = {}
        self.root: dict | None = None  # parent of spans opened on DAG threads
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self._executions = self._store().executionsCount()

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, *, batch: "str | None" = None,
             phase: "str | None" = None, shared: bool = False):
        """``phase`` tags the Spark jobs started inside as build or exec;
        a ``shared`` span is the parent of spans opened on other threads
        while it is open (DagRunner's module threads)."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        rec = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "batch": batch or (parent["batch"] if parent else None),
        }
        if phase is not None:
            self.spark.sparkContext.setJobGroup(f"{rec['batch']}|{phase}", phase)
        stack.append(rec)
        if shared:
            self.root = rec
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if shared:
                self.root = None
            with self._lock:
                self.spans.append(rec)

    # -- wrappers around the layers' public entry points --------------------
    def install(self) -> None:
        from etl_batch_spark import catalog
        from etl_batch_spark.orchestration.runner import BatchRunner, RunContext
        from etl_batch_spark.sources.txlog import TxTable

        self._wrap_function(catalog.load_table, "load_table")
        for meth in TX_KIND:
            self._wrap_attr(TxTable, meth, f"txlog.{meth}")
        self._wrap_attr(BatchRunner, "startup", "startup")
        self._wrap_attr(RunContext, "finish", "finish")

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _wrap_attr(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr]
        setattr(owner, attr, self._wrapper(original, name))
        self._undo.append((owner, attr, original))

    def _wrap_function(self, fn, name: str) -> None:
        """Replace ``fn`` in every package module that bound it by name."""
        traced = self._wrapper(fn, name)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("etl_batch_spark"):
                for attr, value in list(vars(mod).items()):
                    if value is fn:
                        setattr(mod, attr, traced)
                        self._undo.append((mod, attr, fn))

    # -- Spark's own bookkeeping, read after each batch ---------------------
    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def end_batch(self, batch: str) -> None:
        """Attribute the batch's jobs, stages, tasks and executed-plan
        metrics to it, tagged build or exec by job group."""
        sc = self.spark.sparkContext
        sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = {phase: set(tracker.getJobIdsForGroup(f"{batch}|{phase}"))
                for phase in ("build", "exec")}
        rec = {"jobs": {p: len(j) for p, j in jobs.items()},
               "stages": 0, "tasks": 0, "failed_tasks": 0,
               "families": {"build": {}, "exec": {}},
               "scans": 0, "rescans": 0, "python_ops": 0, "python_replays": 0}
        for jid in jobs["build"] | jobs["exec"]:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    rec["stages"] += 1
                    rec["tasks"] += stage.numTasks
                    rec["failed_tasks"] += stage.numFailedTasks
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        store = self._store()
        count = store.executionsCount()
        seen_scans: set[str] = set()
        seen_python: set[str] = set()
        for ex in conv.asJava(store.executionsList(self._executions, count - self._executions)):
            ex_jobs = set(conv.asJava(ex.jobs().keys().toList()))
            phase = "build" if ex_jobs & jobs["build"] else "exec"
            fam = rec["families"][phase]
            eid = ex.executionId()
            values = dict(conv.asJava(store.executionMetrics(eid)))
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                name, desc = node.name(), node.desc()
                metrics = {m.name(): values.get(m.accumulatorId())
                           for m in conv.asJava(node.metrics())}
                if name == "Exchange":
                    fam["exchanges"] = fam.get("exchanges", 0) + 1
                if name.startswith("Scan parquet"):
                    loc = _LOCATION.search(desc)
                    key = loc.group(1) if loc else desc
                    rec["scans"] += 1
                    rec["rescans"] += key in seen_scans
                    seen_scans.add(key)
                    if metrics.get("number of output rows"):
                        fam["scan_rows"] = fam.get("scan_rows", 0) + parse_metric(
                            metrics["number of output rows"])
                if "data sent to Python workers" in metrics:
                    key = _EXPR_ID.sub("", f"{name} {desc}")
                    rec["python_ops"] += 1
                    rec["python_replays"] += key in seen_python
                    seen_python.add(key)
                for mname, text in metrics.items():
                    target = NODE_METRICS.get(mname)
                    if target and text:
                        fam[target] = fam.get(target, 0.0) + parse_metric(text)
        self._executions = count
        self.batches[batch] = rec

    # -- per-layer summary --------------------------------------------------
    def summary(self) -> "dict[str, float]":
        by_id = {s["id"]: s for s in self.spans}
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)

        def dur(s):
            return s["end"] - s["start"]

        def covered(spans):
            """Seconds covered by the union of the spans' intervals."""
            total, end = 0.0, float("-inf")
            for s in sorted(spans, key=lambda s: s["start"]):
                if s["end"] > end:
                    total += s["end"] - max(s["start"], end)
                    end = s["end"]
            return total

        def named(prefix):
            return [s for s in self.spans if s["name"].startswith(prefix)]

        top_tx = [s for s in named("txlog.")
                  if not by_id.get(s["parent"], {"name": ""})["name"].startswith("txlog.")]
        builds = named("build")
        out = {
            "orchestration.startup_ms": 1e3 * statistics.median(map(dur, named("startup"))),
            "orchestration.finish_ms": 1e3 * statistics.median(map(dur, named("finish"))),
            "orchestration.dag_sched_s": sum(
                dur(s) - covered(kids.get(s["id"], [])) for s in named("dag.run")),
            "queries.build_s": sum(map(dur, builds)),
            "queries.build_self_s": sum(
                dur(s) - covered([k for k in kids.get(s["id"], [])
                                  if k["name"] == "load_table" or k["name"].startswith("txlog.")])
                for s in builds),
            "queries.build_nojob_s": sum(
                dur(s) for s in builds if not self.batches[s["batch"]]["jobs"]["build"]),
            "catalog.load_calls": len(named("load_table")),
            "catalog.load_s": sum(map(dur, named("load_table"))),
            "txlog.commits": sum(TX_KIND[s["name"][6:]] == "commit" for s in top_tx),
            "spark.exec_s": sum(map(dur, named("sink"))),
        }
        for kind in ("commit", "read", "maintenance"):
            out[f"txlog.{kind}_s"] = sum(
                dur(s) for s in top_tx if TX_KIND[s["name"][6:]] == kind)
        recs = self.batches.values()
        out["queries.build_jobs"] = sum(r["jobs"]["build"] for r in recs)
        out["spark.jobs"] = sum(r["jobs"]["build"] + r["jobs"]["exec"] for r in recs)
        for key in ("stages", "tasks", "failed_tasks"):
            out[f"spark.{key}"] = sum(r[key] for r in recs)
        for target in ["exchanges", "scan_rows", *NODE_METRICS.values()]:
            out[f"spark.{target}"] = sum(
                r["families"][p].get(target, 0) for r in recs for p in ("build", "exec"))
        scans = sum(r["scans"] for r in recs)
        python_ops = sum(r["python_ops"] for r in recs)
        out["spark.rescan_ratio"] = sum(r["rescans"] for r in recs) / scans if scans else 0.0
        out["spark.python_replay_ratio"] = (
            sum(r["python_replays"] for r in recs) / python_ops if python_ops else 0.0)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        out["spark.jvm_peak_rss_mb"] = vm_hwm_mb(jvm_pid)
        return out

    def families(self) -> "dict[str, dict[str, float]]":
        """Per operator family sums, split into build and exec."""
        out: dict[str, dict[str, float]] = {"build": {}, "exec": {}}
        for rec in self.batches.values():
            for phase, fam in rec["families"].items():
                for key, value in fam.items():
                    out[phase][key] = out[phase].get(key, 0) + value
        return out
