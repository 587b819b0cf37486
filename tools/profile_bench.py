"""Per-query cost breakdown for the benched queries (guide §1).

For every benched query, measures separately:

- ``t_build``  — the Python-side ``build()`` call: py4j expression
  construction PLUS any jobs the build itself runs (collects,
  localCheckpoints, staged table writes);
- ``t_exec``   — the noop-sink write of the returned DataFrame (what a
  deployment pays per run of the final plan);
- ``jobs``     — Spark job count triggered by each phase (the
  DAGScheduler job ids it spans, so jobs a ``foreachBatch`` stream runs
  under its own job group count too), the per-job fixed-overhead axis.

Usage: python tools/profile_bench.py [sf_dir] [query ...]
Prints a TSV sorted by total descending, plus a JSON line per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_batch_spark.queries import QUERIES
from etl_batch_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or [n for n, q in QUERIES.items() if q.bench]
    spark = get_spark("profile_bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    # single-threaded: the id window a phase spans holds exactly its jobs
    dag = sc._jsc.sc().dagScheduler()
    spark.range(1).collect()

    # steady-state warm-up (same rationale as bench.py)
    for name in names:
        q = QUERIES[name]
        build = q.bench_build or q.build
        try:
            build(spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    rows = []
    for name in names:
        q = QUERIES[name]
        build = q.bench_build or q.build
        # one unrecorded priming run at the target SF
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()

        best = None
        for _ in range(3):
            j0 = dag.nextJobId()
            t0 = time.perf_counter()
            df = build(spark, sf_dir)
            t1 = time.perf_counter()
            j1 = dag.nextJobId()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            j2 = dag.nextJobId()
            rec = {
                "query": name,
                "t_build": round(t1 - t0, 3),
                "t_exec": round(t2 - t1, 3),
                "t_total": round(t2 - t0, 3),
                "jobs_build": j1 - j0,
                "jobs_exec": j2 - j1,
            }
            if best is None or rec["t_total"] < best["t_total"]:
                best = rec
        rows.append(best)

    rows.sort(key=lambda r: -r["t_total"])
    print("query\tt_total\tt_build\tt_exec\tjobs_build\tjobs_exec")
    for r in rows:
        print(
            f"{r['query']}\t{r['t_total']}\t{r['t_build']}\t{r['t_exec']}"
            f"\t{r['jobs_build']}\t{r['jobs_exec']}"
        )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "profile_latest.json",
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(rows, fh, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
