"""Local mimic of the driver's t2 correctness gate.

Runs every registered query on Spark and its DuckDB oracle side by side
at a given sf dir, sorts columns by name and rows by value, and compares
cell-by-cell (floats to 1e-9 relative, everything else exactly).

Usage:  python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from etl_batch_spark.catalog import DATA_TABLES, table_path
from etl_batch_spark.queries import QUERIES
from etl_batch_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in DATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, (datetime, date)):
        return ("t", str(v))
    return v


def sort_key(row):
    out = []
    for c in row:
        if isinstance(c, float):
            # IEEE: -0.0 + 0.0 = +0.0 — Spark normalizes -0.0 in group
            # keys where DuckDB preserves it; both are the SAME value
            # (fa == fb below agrees), so the canonical row sort must
            # not split them by string representation
            c = c + 0.0
        out.append((str(type(c)), str(c)))
    return tuple(out)


def compare(name: str, spark_rows, spark_cols, duck_rows, duck_cols):
    """Returns (errors, bit_exact).  The driver's canonicalizer hashes
    values EXACTLY, so the gate here compares bit-exact first and only
    then falls back to 1e-9 relative tolerance for floats — a
    tolerance-only pass is reported as PASS(tol), a near-miss the driver
    hash would flag."""
    errs: list[str] = []
    if sorted(spark_cols) != sorted(duck_cols):
        errs.append(f"columns differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return errs, False
    if len(spark_rows) != len(duck_rows):
        errs.append(f"row count: spark={len(spark_rows)} duck={len(duck_rows)}")
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted(([r[i] for i in order] for r in spark_rows), key=sort_key)
    d = sorted(([r[i] for i in dorder] for r in duck_rows), key=sort_key)
    n_bad = 0
    bit_exact = True
    for ri, (sr, dr) in enumerate(zip(s, d)):
        for ci, (a, b) in enumerate(zip(sr, dr)):
            ok = True
            if a is None or b is None:
                ok = a is None and b is None
            elif isinstance(a, float) or isinstance(b, float):
                try:
                    fa, fb = float(a), float(b)
                    if fa != fb:
                        bit_exact = False
                    ok = (fa == fb) or (
                        math.isfinite(fa)
                        and math.isfinite(fb)
                        and abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
                    )
                except (TypeError, ValueError):
                    ok = False
            elif isinstance(a, (datetime, date)) or isinstance(b, (datetime, date)):
                ok = str(a) == str(b)
            else:
                ok = a == b
            if not ok:
                n_bad += 1
                if n_bad <= 3:
                    col = sorted(spark_cols)[ci]
                    errs.append(f"row {ri} col {col}: spark={a!r} duck={b!r}")
    if n_bad > 3:
        errs.append(f"... {n_bad} mismatched cells total")
    return errs, bit_exact


def main() -> int:
    only = set(sys.argv[2:])
    spark = get_spark("parity")
    con = duck_connect(SF_DIR)
    n_pass = n_fail = 0
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.build(spark, SF_DIR)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"ok   {name}: rows-only ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            res = con.execute(q.oracle)
            duck_cols = [c[0] for c in res.description]
            duck_rows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        errs, bit_exact = compare(name, spark_rows, spark_cols, duck_rows, duck_cols)
        if errs:
            print(f"FAIL {name} ({len(spark_rows)} vs {len(duck_rows)} rows):")
            for e in errs:
                print(f"     {e}")
            n_fail += 1
        elif not bit_exact:
            print(f"PASS(tol) {name}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)"
                  " — floats differ below 1e-9; the driver's exact hash may flag this")
            n_pass += 1
        else:
            print(f"PASS {name}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
