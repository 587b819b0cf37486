"""Scan-replay audit: count parquet- and checkpoint-scan nodes in every query's plan.

Spark replays a shared lazy subplan once PER CONSUMER — a pipeline that
feeds its deduped corpus to three reports re-reads (and re-dedups) the
corpus three times unless the shared stage is materialized.  At 100 TB
scan count dominates cost, so the round-3 audit hand-rewrote every
multi-pass plan (funnel 6→1 scans, SCD2 9→2, BM25 3→1, pipeline dedup
stages 9–15→1).  This tool re-runs that audit mechanically and
maintains the per-query budget file that pins the wins as a regression
test (tests/test_plans.py::test_scan_count_budgets).

A query's number is the count of ``Scan parquet`` nodes in its
physical plan, subquery plans included (``plans.scan_counts``, the same
count the test pins) — scan NODES in the DAG, so a replayed subplan
shows up even though it reads the same file.  Queries that materialize
a shared stage via ``localCheckpoint`` surface the checkpointed blocks
as ``Scan ExistingRDD``; those scans happened exactly once at build
time, and the reported parquet count covers the post-checkpoint plan
(the build-time scans are one corpus pass by construction — that is the
point of the checkpoint).

Usage:
    python tools/scan_audit.py                # report counts vs budgets
    python tools/scan_audit.py --write        # rewrite tests/scan_budgets.json
    python tools/scan_audit.py q01_pricing_summary pipe03_curation_report
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BUDGET_PATH = REPO / "tests" / "scan_budgets.json"
SF_DIR = "/root/testdata/sf0.001"


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write = "--write" in sys.argv

    from etl_batch_spark.plans import scan_counts
    from etl_batch_spark.queries import QUERIES
    from etl_batch_spark.session import get_spark

    spark = get_spark("scan-audit")
    try:
        old = json.load(open(BUDGET_PATH))
    except FileNotFoundError:
        old = {}

    out: dict[str, dict[str, int]] = {}
    regressions = []
    for name, q in QUERIES.items():
        if args and name not in args:
            continue
        counts = scan_counts(q.build(spark, SF_DIR))
        out[name] = counts
        budget = old.get(name)
        flag = ""
        if budget is not None and any(counts[k] > budget[k] for k in counts):
            flag = f"  REGRESSION (budget {budget['parquet']} parquet, {budget['rdd']} rdd)"
            regressions.append(name)
        print(f"{name}: {counts['parquet']} parquet, {counts['rdd']} rdd{flag}")

    if write:
        # full run replaces the file; a named subset merges into it so
        # `--write <query>` updates just that budget (never silently
        # drops the rest, never no-ops)
        merged = {**old, **out} if args else out
        json.dump(merged, open(BUDGET_PATH, "w"), indent=1, sort_keys=True)
        verb = "merged" if args else "wrote"
        print(f"\n{verb} {len(out)} budgets into {BUDGET_PATH} "
              f"({len(merged)} total)")
    elif regressions:
        print(f"\n{len(regressions)} regressions: {regressions}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
