"""Derive a larger scale factor from the driver-shipped sf0.1 fixtures.

The driver only ships sf<=0.1; the scale story above that needs an
empirical leg.  This tool scales every table by FACTOR (default 10x ->
"sf1") via key-shifted replication: copy i shifts every key family by
i * (its max key + 1), with the SAME shift applied to each foreign-key
reference, so join selectivities, group cardinalities per key, and
fanouts are preserved exactly while distinct-key spaces scale linearly
— the standard way to scale a fixed benchmark without re-running its
generator.  region/nation stay fixed (TPC-H dimension tables are
constant-size by spec).  Embedding vectors get a tiny per-copy
deterministic offset so ANN/k-means workloads don't degenerate into
exact 10-way ties; document texts replicate EXACTLY, which is the
realistic shape for dedup workloads (web corpora are full of exact
duplicates) and stresses the dup-group paths.

Usage:
    python tools/gen_sf.py [--factor 10] [--out DIR]   # DIR defaults to <repo>/.benchdata/sf1

Pure DuckDB (no Spark): reads /root/testdata/sf0.1/*.parquet, writes
one parquet per table.  Deterministic — same inputs, same outputs.
"""

from __future__ import annotations

import argparse
import os

import duckdb

SRC = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# key column -> every (table, column) that references it; shift amounts
# are derived from the key's own max so copies can never collide
KEY_FAMILIES = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}
FIXED_TABLES = ["region", "nation"]
SCALED_TABLES = [
    "customer", "orders", "lineitem", "part", "supplier",
    "events", "documents", "embeddings",
]


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default=SRC)
    ap.add_argument("--out", default=os.path.join(REPO, ".benchdata", "sf1"))
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)

    con = duckdb.connect()
    for t in FIXED_TABLES + SCALED_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.src}/{t}.parquet'"
        )

    # per-key-family shift unit = max key + 1 (derived once, from the
    # table that OWNS the key — first entry in the family list)
    shift_unit: dict[str, int] = {}
    for fam, refs in KEY_FAMILIES.items():
        owner_table, owner_col = refs[0]
        mx = con.execute(f"SELECT MAX({owner_col}) FROM {owner_table}").fetchone()[0]
        shift_unit[fam] = int(mx) + 1

    col_shift = {
        (t, c): fam
        for fam, refs in KEY_FAMILIES.items()
        for t, c in refs
    }

    for t in FIXED_TABLES:
        con.execute(
            f"COPY (SELECT * FROM {t}) TO '{args.out}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: copied as-is")

    for t in SCALED_TABLES:
        cols = [
            r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {t}").fetchall()
        ]
        selects = []
        for i in range(args.factor):
            exprs = []
            for c in cols:
                fam = col_shift.get((t, c))
                if fam is not None:
                    exprs.append(f"{c} + {i} * {shift_unit[fam]} AS {c}")
                elif t == "embeddings" and c == "embedding":
                    # break exact ties across copies, deterministically
                    exprs.append(
                        f"list_transform(embedding, "
                        f"x -> CAST(x + {i} * 0.0001 AS FLOAT)) AS embedding"
                    )
                else:
                    exprs.append(c)
            selects.append(f"SELECT {', '.join(exprs)} FROM {t}")
        union = " UNION ALL ".join(selects)
        con.execute(
            f"COPY ({union}) TO '{args.out}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM '{args.out}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows (x{args.factor})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
