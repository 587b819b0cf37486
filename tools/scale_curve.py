"""Three-point scale curve (sf0.1 → sf1 → sf10) for named queries.

The per-round SCALE.md table's generator.  Each point is timed by
``bench.measure`` after ``bench.warm_up``, so the method is bench.py's:
one unrecorded priming run, N timed runs, min; then one instrumented
run gives the point's build/exec seconds and job counts.  Points whose
fixture directory is missing are skipped, so with only sf0.1 on disk
this is a per-query build/exec/jobs breakdown.

Usage:
    python tools/scale_curve.py st11_torn_crash_sink_replay et39_... [N=2]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402
from etl_batch_spark.queries import QUERIES  # noqa: E402
from etl_batch_spark.session import get_spark  # noqa: E402

POINTS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", str(REPO / ".benchdata" / "sf1")),
    ("sf10", str(REPO / ".benchdata" / "sf10")),
]


def _ratio(t: dict, hi: str, lo: str) -> str:
    return f"{t[hi] / t[lo]:.1f}×" if hi in t and lo in t else "-"


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.isdigit()]
    n_runs = next((int(a) for a in sys.argv[1:] if a.isdigit()), 2)
    points = [(label, d) for label, d in POINTS if os.path.isdir(d)]
    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    builds = {name: QUERIES[name].bench_build or QUERIES[name].build for name in names}
    bench.warm_up(spark, builds.values())
    rows = []
    for name, build in builds.items():
        timings = {}
        for label, sf_dir in points:
            split = bench.measure(spark, build, sf_dir, n_runs)
            timings[label] = round(split.pop("runs")[0], 2)
            print(f"{name} {label}: min {timings[label]}  {split}", flush=True)
        rows.append((name, timings))
    print()
    for name, t in rows:
        cells = " | ".join(str(t.get(label, "-")) for label, _ in POINTS)
        print(f"| {name} | {cells} | {_ratio(t, 'sf1', 'sf0.1')} "
              f"| {_ratio(t, 'sf10', 'sf1')} |")


if __name__ == "__main__":
    main()
