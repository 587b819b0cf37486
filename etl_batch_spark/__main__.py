"""Command-line entry point: ``python -m etl_batch_spark``.

The shell surface the reference assumes (its batches are launched by
shell scripts that call ``func_batch_startup`` / ``proc_batch_endup``;
pkg_batch_util_spec.sql:39–53) — here a query run is wrapped in the
same lifecycle: register → startup → execute → endup(SUCCESS, n, 0),
with the monitor trail printed at the end.

Commands:
  list                      show every registered query
  run <query> [opts]        run one query under the batch lifecycle
  sql "<statement>" [opts]  run ad-hoc SQL over the fixture views

Options:
  --sf-dir PATH   fixture directory (default $SPARK_GRAFT_SF_DIR or sf0.1)
  --out MODE      noop (default) | show | parquet:<path>
"""

from __future__ import annotations

import argparse
import sys

from etl_batch_spark.catalog import DEFAULT_SF_DIR


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python -m etl_batch_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    run = sub.add_parser("run", help="run one query under the batch lifecycle")
    run.add_argument("query")
    run.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    run.add_argument("--out", default="noop")

    sql = sub.add_parser("sql", help="ad-hoc SQL over the fixture views")
    sql.add_argument("statement")
    sql.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sql.add_argument("--out", default="show")

    ex = sub.add_parser("explain", help="print a query's formatted physical plan")
    ex.add_argument("query")
    ex.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    return p


def _sink(df, out: str) -> int:
    """Materialize ``df`` per ``--out``; returns the row count the
    lifecycle records (counted via the noop write's observed metrics —
    no second scan, no driver collect of data rows)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("cli")
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if out == "show":
        # show(50) runs under CollectLimit, so only displayed rows would
        # flow through the observe node — the lifecycle would record
        # processed=50 for any large result.  Display first, then drive
        # the observed count through a full noop write for the true
        # cardinality.
        df.show(50, truncate=False)
        observed.write.format("noop").mode("overwrite").save()
    elif out.startswith("parquet:"):
        observed.write.mode("overwrite").parquet(out.split(":", 1)[1])
    else:
        observed.write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from etl_batch_spark.queries import QUERIES

    if args.cmd == "list":
        for name, q in sorted(QUERIES.items()):
            oracle = "oracle" if q.oracle else "rows-only"
            print(f"{name:36s} [{oracle}] {q.doc.strip().splitlines()[0] if q.doc else ''}")
        return 0

    from etl_batch_spark.session import get_spark

    spark = get_spark("etl-batch-cli")

    if args.cmd == "sql":
        from etl_batch_spark.catalog import register_views

        register_views(spark, args.sf_dir)
        n = _sink(spark.sql(args.statement), args.out)
        print(f"sql: {n} rows")
        return 0

    if args.query not in QUERIES:
        print(f"unknown query {args.query!r}; try: python -m etl_batch_spark list",
              file=sys.stderr)
        return 2

    if args.cmd == "explain":
        from etl_batch_spark.plans import formatted_plan

        print(formatted_plan(QUERIES[args.query].build(spark, args.sf_dir)))
        return 0

    from etl_batch_spark.orchestration.runner import BatchRunner
    from etl_batch_spark.orchestration.store import ControlStore

    store = ControlStore(spark)
    store.append(
        "batch_master",
        {
            "module_id": 1,
            "module_name": args.query.upper(),
            "run_level": 1,
            "sub_system": "CLI",
            "disabled_date": None,
        },
    )
    runner = BatchRunner(store)
    ctx = runner.startup(args.query.upper(), 1, exclusive_run_yn="N")
    try:
        n = _sink(QUERIES[args.query].build(spark, args.sf_dir), args.out)
    except Exception:
        ctx.finish("FAILURE", 0, 0)
        raise
    ctx.finish("SUCCESS", n, 0)
    for r in runner.monitor.latest_states():
        print(
            f"run_id={r['run_id']} status={r['run_status']} "
            f"processed={r['records_processed']} errors={r['records_in_error']}"
        )
    print(f"{args.query}: {n} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
