"""Three-point scale curve (sf0.1 → sf1 → sf10) for named queries.

The per-round SCALE.md table's generator: min-of-N noop-sink timing per
point on a quiet machine, same methodology as bench.py (one unrecorded
priming run per query per SF, then N timed runs).

Usage:
    python tools/scale_curve.py st11_torn_crash_sink_replay et39_... [N=2]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from etl_batch_spark.queries import QUERIES  # noqa: E402
from etl_batch_spark.session import get_spark  # noqa: E402

POINTS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", str(REPO / ".benchdata" / "sf1")),
    ("sf10", str(REPO / ".benchdata" / "sf10")),
]


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.isdigit()]
    n_runs = next((int(a) for a in sys.argv[1:] if a.isdigit()), 2)
    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in names:
        q = QUERIES[name]
        build = q.bench_build or q.build
        timings = {}
        for label, sf_dir in POINTS:
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings[label] = round(min(runs), 2)
        r1 = round(timings["sf1"] / timings["sf0.1"], 1)
        r10 = round(timings["sf10"] / timings["sf1"], 1)
        rows.append((name, timings, r1, r10))
        print(f"{name}: {timings}  0.1->1 {r1}x  1->10 {r10}x", flush=True)
    print()
    for name, t, r1, r10 in rows:
        print(f"| {name} | {t['sf0.1']} | {t['sf1']} | {t['sf10']} "
              f"| {r1}× | {r10}× |")


if __name__ == "__main__":
    main()
