"""Batch-lifecycle benchmark for etl_batch_spark.

    python3 perfbench/run.py --workload curation_writes --seed 1 --seconds 20 --trace 0

Run from the repository root.  ``--workload`` is curation_writes,
control_plane, or ``all`` (each in its own process).
Human-readable lines come first; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` that
carries every ``end_to_end`` metric of BENCHMARK.json with ``--trace 0``
and every ``per_layer`` metric with ``--trace 1``.  The traced run also
writes its spans and all per-layer figures to
``.perfbench/trace/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench.stats import tail_percentile  # noqa: E402
from perfbench.trace import NullTracer, Tracer, vm_hwm_mb  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CURATION_WRITES,
    WORKLOADS,
    BatchLoop,
    ControlPlane,
    check_fixtures,
    expected_rows,
)

CONTROL_DAYS = 10  # control dates per control_plane episode
# DagRunner threads: module bodies are GIL-bound, so more threads only
# queue for the GIL, which tripled the run-to-run spread of makespan_s
CONTROL_WORKERS = 1
PRIMING_PASSES = 6  # JIT compilation keeps speeding the first passes up
ADMISSION_STATUSES = {
    "NO_RECORD_BATCH_MASTER", "TOO_MANY_RECORDS_BATCH_MASTER", "BATCH-DISABLED",
    "RE-RUN FAILURE", "DEPENDENCY FAILURE", "DEPENDENCY TIMEOUT",
}


def configure(run_dir: str) -> "dict[str, str]":
    """Size the session from the machine, give the run its own temp and
    Spark local dirs, and let Python workers import the package from any
    working directory.  Must run before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gib = next(int(line.split()[1]) for line in fh
                       if line.startswith("MemTotal:")) // 2**20
    # the JVMs keep their temp files (native libraries, artifacts) in the
    # run dir, apart from TMPDIR, and write no perf-data file
    jvm_tmp = os.path.join(run_dir, "jvm-tmp")
    java_opts = shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={jvm_tmp}")
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gib // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {java_opts} "
                               "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for path in (settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"], jvm_tmp):
        os.makedirs(path)
    os.environ.update(settings)
    tempfile.tempdir = None
    return {**settings, "log_level": "ERROR"}


def start_spark():
    from etl_batch_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def end_to_end(setup_s: float, passes: "list[float]", latencies: "list[float]",
               pass_cpu: "list[tuple[float, float]]") -> dict:
    pct, tail = tail_percentile(latencies)
    return {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(work for work, _ in pass_cpu),
        "makespan_s": statistics.median(passes),
        "batch_p50_s": statistics.median(latencies),
        "batch_tail_s": tail,
        "peak_rss_mb": vm_hwm_mb(),
        "_tail_note": f"p{pct} of {len(latencies)} batches",
    }


def traced_halves(spark, measure, seconds: float):
    """Half the window untraced, then half with the wrappers installed;
    ``measure(seconds, tracer)`` returns the pass times."""
    untraced = measure(seconds / 2, NullTracer())
    tracer = Tracer(spark)
    tracer.install()
    try:
        traced = measure(seconds / 2, tracer)
    finally:
        tracer.restore()
    return untraced, traced, tracer


def run_data(seed, seconds, trace, settings):
    names = CURATION_WRITES
    from etl_batch_spark import queries  # noqa: F401
    t_import = time.perf_counter()
    # fixtures and oracle row counts are checked outside setup_s
    data_dir = check_fixtures()
    expected = expected_rows(os.path.join(REPO, ".perfbench", "expected.json"),
                             data_dir, names)
    t0 = time.perf_counter()
    spark = start_spark()
    t1 = time.perf_counter()
    try:
        loop = BatchLoop(spark, names, data_dir, expected, settings["TMPDIR"],
                         os.path.join(os.getcwd(), "spark-warehouse"))
        null = NullTracer()
        for name in names * PRIMING_PASSES:  # unrecorded, at the target data
            loop.run(name, null)
        t2 = time.perf_counter()
        setup_s = (t_import - T_START) + (t2 - t0)
        rng = random.Random(seed)
        if not trace:
            passes = loop.passes(rng, seconds, null)
            result = end_to_end(setup_s, [sum(p) for p in passes],
                                [x for p in passes for x in p], loop.pass_cpu)
            result["_passes"] = [round(sum(p), 3) for p in passes]
            result["_pass_cpu"] = [round(c, 3) for c, _ in loop.pass_cpu]
            result["_per_query"] = {k: [round(x, 3) for x in v] for k, v in loop.samples.items()}
        else:
            untraced, traced, tracer = traced_halves(
                spark, lambda s, tr: loop.passes(rng, s, tr), seconds)
            result = tracer.summary()
            result.update(orchestration(loop.store, 0))
            result["session.get_spark_s"] = t1 - t0
            result["session.priming_s"] = t2 - t1
            result["jvm.service_cpu_s"] = statistics.median(s for _, s in loop.pass_cpu)
            result["trace.overhead_s"] = (statistics.median(map(sum, traced))
                                          - statistics.median(map(sum, untraced)))
            result["_tracer"] = tracer
        return result, loop.seq, loop.errors
    finally:
        stop_spark(spark)


def run_control(seed, seconds, trace):
    from etl_batch_spark import queries  # noqa: F401
    t0 = time.perf_counter()
    spark = start_spark()
    t1 = time.perf_counter()
    try:
        cp = ControlPlane(spark, seed, CONTROL_WORKERS, CONTROL_DAYS)
        null = NullTracer()
        cp.episode(null, days=2)  # unrecorded priming episode
        t2 = time.perf_counter()
        setup_s = t2 - T_START
        cp.latencies.clear()
        cp.day_cpu.clear()
        if not trace:
            days = cp.episodes(seconds, null)
            result = end_to_end(setup_s, days, cp.latencies, cp.day_cpu)
            result["_passes"] = [round(d, 3) for d in days[:CONTROL_DAYS]]
            result["_pass_cpu"] = [round(c, 3) for c, _ in cp.day_cpu[:CONTROL_DAYS]]
        else:
            untraced, traced, tracer = traced_halves(spark, cp.episodes, seconds)
            result = tracer.summary()
            result.update(orchestration(cp.store, len(cp.clock.sleeps)))
            result["session.get_spark_s"] = t1 - t0
            result["session.priming_s"] = t2 - t1
            result["jvm.service_cpu_s"] = statistics.median(s for _, s in cp.day_cpu)
            result["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
            result["_tracer"] = tracer
        return result, cp.attempted, cp.errors
    finally:
        stop_spark(spark)


def orchestration(store, poll_sleeps: int) -> dict:
    monitor = store.rows("batch_monitor")
    return {
        "orchestration.monitor_events": len(monitor),
        "orchestration.log_rows": len(store.rows("batch_log")),
        "orchestration.admission_failures": sum(
            r["run_status"] in ADMISSION_STATUSES for r in monitor),
        "orchestration.poll_sleeps": poll_sleeps,
    }


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "etl_batch_spark")):
        print(f"perfbench: no etl_batch_spark package next to {HERE}", file=sys.stderr)
        return 2
    if args.workload == "all":
        codes = [subprocess.run([sys.executable, os.path.abspath(__file__),
                                 "--workload", w, "--seed", str(args.seed),
                                 "--seconds", str(args.seconds),
                                 "--trace", str(args.trace)]).returncode
                 for w in WORKLOADS]
        return max(codes)
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]

    run_dir = os.path.join(REPO, ".perfbench", "run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        settings = configure(run_dir)
        print("settings " + json.dumps(settings, sort_keys=True))
        if args.workload == "control_plane":
            result, attempted, errors = run_control(args.seed, args.seconds, args.trace)
        else:
            result, attempted, errors = run_data(
                args.seed, args.seconds, args.trace, settings)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for error in errors:
        print(f"FAILED {error}")
    tracer = result.pop("_tracer", None)
    notes = {k: result.pop(k) for k in [k for k in result if k.startswith("_")]}
    print(f"{args.workload} seed={args.seed} fail_ratio={len(errors) / attempted} "
          + " ".join(f"{k}={v:.6g}" for k, v in sorted(result.items()))
          + "".join(f" {k[1:]}={v}" for k, v in notes.items()))
    if tracer is not None:
        path = os.path.join(REPO, ".perfbench", "trace",
                            f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "settings": settings, "per_layer": result,
                       "families": tracer.families(), "batches": tracer.batches,
                       "spans": [{**s, "start": s["start"] - T_START,
                                  "end": s["end"] - T_START} for s in tracer.spans]},
                      fh, indent=1, sort_keys=True)
        print(f"trace written to {os.path.relpath(path)}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {m["name"]: {"value": result[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
