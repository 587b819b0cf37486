"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01_pricing_summary": sec, ...}, "sf": <sf>}

Execution is measured with the `noop` sink (full plan runs, no driver
collect), which is what a cluster deployment would look like — results
land in a sink, not on the driver.

Methodology: steady-state timing.  Each query first runs once at
sf0.001 (unrecorded) so JVM class-loading / JIT / codegen warm-up —
fixed per-process costs that vanish over a long-lived cluster
session — don't land in whichever query happens to run first.  The
recorded sf-target runs then measure data-proportional work.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_batch_spark.queries import QUERIES
from etl_batch_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_SF_DIR = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")


def calibration(spark, sf_dir: str, n_runs: int = 3) -> dict[str, float]:
    """Fixed, repo-independent probe suite (min-of-``n_runs`` seconds
    each) pinning the artifact to the machine conditions it was measured
    under.  Query timings only compare across rounds if the host held
    still — and it measurably does not: the round-2 bench commit re-run
    unchanged two days later was 1.43× slower (21.94 s → 31.38 s over
    the same 42 queries) with NO code change.  Probing showed the drift
    lives in per-job fixed overhead (driver scheduling / Py4J
    round-trips), not CPU throughput — which dominates sub-second
    sf0.1 entries — so the suite spans all three cost axes:

    - ``cpu``:  bit_xor(xxhash64) fold over range(64M) — whole-stage
      codegen throughput, no IO (bit_xor: overflow-free under ANSI)
    - ``scan_shuffle``: lineitem groupBy-sum — parquet scan + exchange
    - ``jobs20``: twenty trivial collect() jobs — per-job dispatch
      latency, the axis that actually drifted between rounds 2 and 3

    Compare ``queries[q]`` across rounds relative to the matching probe,
    not as raw seconds."""
    from pyspark.sql import functions as F

    li = os.path.join(sf_dir, "lineitem.parquet")
    probes = {
        "cpu": lambda: spark.range(1 << 26)
        .select(F.expr("bit_xor(xxhash64(id))"))
        .collect(),
        "scan_shuffle": lambda: spark.read.parquet(li)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"))
        .collect(),
        "jobs20": lambda: [spark.range(10).collect() for _ in range(20)],
    }
    out = {}
    for name, fn in probes.items():
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        out[name] = round(min(runs), 3)
    return out


def infer_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def warm_up(spark, builds) -> None:
    """Steady-state warm-up: run every plan once at the tiny SF (see
    the module docstring).  Failures here surface at timing time."""
    for build in builds:
        try:
            build(spark, WARMUP_SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception:
            pass


def measure(spark, build, sf_dir: str, n_runs: int) -> dict:
    """Time ``build(spark, sf_dir)`` plus a noop-sink write: one
    unrecorded priming run, ``n_runs`` timed runs, then one instrumented
    run.  Returns the sorted run seconds as ``runs`` and the instrumented
    run's ``build_sec``/``exec_sec``/``jobs_build``/``jobs_exec``.

    Priming at the target SF: the sf0.001 warm-up covers JIT/codegen but
    not the target data's OS page cache or the plan's first AQE
    re-optimization at real row counts, so the first run used to carry
    a cold-read outlier that dominated max-min spread (round 7:
    spread_total 9.96 s on a 28.5 s headline).

    The build/exec split comes from the extra run so the timed region
    stays untouched: the job-id reads are py4j calls that must not land
    inside it.  A phase's jobs are the DAGScheduler job ids it spans,
    not a job group's: a foreachBatch micro-batch runs its jobs under
    the stream's own group, and measuring is single-threaded, so the id
    window holds exactly the phase's jobs."""
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    t0 = time.perf_counter()
    df = build(spark, sf_dir)
    t1 = time.perf_counter()
    j1 = dag.nextJobId()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    j2 = dag.nextJobId()
    return {
        "runs": sorted(runs),
        "build_sec": round(t1 - t0, 3),
        "exec_sec": round(t2 - t1, 3),
        "jobs_build": j1 - j0,
        "jobs_exec": j2 - j1,
    }


def main() -> None:
    spark = get_spark("bench")
    # the driver tail-captures the last 2,000 chars of output; JVM WARN
    # spam (e.g. the allowlisted bounded-window WindowExec notices)
    # must never be what fills that tail after the JSON line
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    builds = {name: q.bench_build or q.build for name, q in QUERIES.items() if q.bench}
    warm_up(spark, builds.values())

    # min over N timed runs: 5 (was 3) sample the steady state.  min is
    # the headline (continuity with rounds 1–7); median rides along as
    # the robust location estimate.  Each query's job count and
    # build/exec split (round 11) land in BENCH_DETAIL.json only, so
    # round-over-round comparisons can separate dispatch drift (jobs ×
    # host per-job latency) from data work mechanically.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spread: dict[str, float] = {}
    min_gap: dict[str, float] = {}
    jobs_split: dict[str, dict] = {}
    for name, build in builds.items():
        split = measure(spark, build, SF_DIR, n_runs)
        runs = split.pop("runs")
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)
        spread[name] = round(runs[-1] - runs[0], 3)
        # jackknife bound needs a second sample; degenerate n_runs=1
        # (smoke runs) reports 0 rather than crashing
        min_gap[name] = round(runs[1] - runs[0], 3) if len(runs) > 1 else 0.0
        jobs_split[name] = {**split, "jobs": split["jobs_build"] + split["jobs_exec"]}

    # The external driver captures only the LAST 2,000 chars of stdout;
    # round 3's line grew to ~3.2k (per-query spread dict) and the
    # driver recorded BENCH_r03 as parsed:null.  Keep the stdout line
    # compact — aggregate spread stats inline, per-query spread in a
    # local artifact — and hard-assert the budget so it cannot regress.
    spread_vals = sorted(spread.values())
    cal = calibration(spark, SF_DIR)
    # Cross-round comparability, mechanically: ONE official calibrated
    # number, normalized on the SCAN_SHUFFLE axis — the headline total
    # divided by (scan_shuffle_now / 0.203), where 0.203 is the probe
    # recorded in BENCH_r05.json.  The scan axis is authoritative
    # because the headline is a sum of parquet-scan + shuffle + agg
    # plans, which is exactly what the probe exercises; the cpu probe
    # stays RECORDED (diagnostics) but stopped being a normalization
    # axis after it disagreed with the scan axis IN SIGN in both r7 and
    # r8 — single-core throughput over-corrects the per-query fixed
    # scheduler/Py4J overhead, which doesn't scale with it (the jobs20
    # probe swung 2.1× between those rounds while cpu moved 1.5×).
    # SCALE.md ("Cross-round bench comparability") carries the full
    # rationale.  Read `value` movement against `min_gap_total`, and
    # cross-round movement against `calibrated_total` ± min_gap.
    ref_scan = 0.203
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": infer_sf(SF_DIR),
        "runs_per_query": n_runs,
        "median_total": round(sum(medians.values()), 3),
        # the noise bar to read `value` against: `value` is a sum of
        # per-query MINs, and the min's sampling error is bounded by the
        # gap to the second-smallest run (jackknife) — max-min spread
        # includes the GC/compaction tail the min estimator never sees
        "min_gap_total": round(sum(min_gap.values()), 3),
        "spread_total": round(sum(spread_vals), 3),
        "spread_max": spread_vals[-1] if spread_vals else 0.0,
        "spread_p50": spread_vals[len(spread_vals) // 2] if spread_vals else 0.0,
        "calibration": cal,
        "calibration_axis": "scan_shuffle",
        "calibrated_total": round(
            sum(timings.values()) / (cal["scan_shuffle"] / ref_scan), 3
        ),
        "ref_scan_shuffle": ref_scan,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump({**out, "spread": spread, "medians": medians,
                   "min_gaps": min_gap, "jobs_split": jobs_split,
                   "jobs_total": sum(j["jobs"] for j in jobs_split.values())},
                  fh, indent=1, sort_keys=True)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= 1800, (
        f"bench stdout line is {len(line)} chars — past the 1,800 budget "
        "(driver tail capture is 2,000); trim the inline payload"
    )
    print(line)


if __name__ == "__main__":
    main()
