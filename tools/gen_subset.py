"""Derive a perturbed subset of a fixture dir for generalization parity.

The driver verifies at exactly sf0.01, so a query whose Spark and
DuckDB forms agree there could still hide a DATA-DEPENDENT divergence —
a tie-break that never ties on that data, an empty-group path never
taken, a boundary a filter never lands on.  This tool derives a
deterministic row-subset of any fixture dir; running the full
``tools/parity.py`` gate over a few seeds exercises every registered
query on data it was never tuned against:

    python tools/gen_subset.py --seed 1
    python tools/parity.py .benchdata/subset/s1

Beyond row-subsetting (and ``--nulls``), three more distribution-shift
classes, each targeting a divergence family the canonical fixtures
cannot exercise:

* ``--ties N``  — coarsens ordering/value columns on N% of rows
  (timestamps to the hour, prices to hundreds, quantities to fives) so
  window functions hit REAL peer groups: a rank/frame that only agreed
  cross-engine because the data never tied surfaces here.
* ``--unicode N`` — replaces N% of ``documents.text`` with strings from
  a fixed multilingual/emoji/control-character palette: tokenization,
  length semantics (code points vs UTF-16 units), regex character
  classes and hash-of-UTF-8 all get exercised on non-ASCII input.
* ``--keep 0``  — every fact table empty (constant dims stay): every
  aggregate/join/window empty-input path must agree on zero rows with
  the right schema instead of erroring.
* ``--emptydims`` — the inverse: customer/supplier/part empty while
  facts keep their rows — empty BROADCAST build sides, every fact key
  dangling, dim-derived thresholds/denominators over zero rows.
* ``--negids N`` — sign-flips N% of ID VALUES, drawn per value within
  a shared value space so every occurrence flips together and joins
  stay consistent: probes %-vs-pmod, residue routing, shift-by-residue
  packings, md5-of-id strings and MIN/MAX keeper picks (round 5:
  found et21/et28 shifting by a negative bit count).
* ``--bigids N`` — offsets N% of ID VALUES by 2^54 + 1 (same
  value-space draw as --negids, joins stay consistent): past 2^53 a
  bigint id no longer round-trips through a double, so any id path
  that silently detours through DOUBLE (division-based bucketing, avg
  of ids, a float cast in either engine) or truncates into an INT
  diverges here and nowhere else.
* ``--oldts N`` — shifts N% of timestamp/date rows back by 4000 weeks
  (~76.6 years, landing pre-1970): negative unix time probes
  floor-vs-truncate in epoch bucketing, date_trunc on pre-epoch
  values, and any window/session arithmetic anchored at 1970.

Sampling is per-row on a hash of (primary key, seed), so it is
deterministic, seed-varied, and REFERENTIALLY RAGGED on purpose:
dropping an order while keeping its lineitems (and vice versa) creates
dangling keys, emptier join groups and removed ties — exactly the
edge-case distribution shift wanted.  Both engines read the same
written parquet, so parity semantics are unchanged.  ``region`` and
``nation`` stay full (5/25-row constant dimensions).

Pure DuckDB, no Spark.  Same layout contract as tools/gen_sf.py.
"""

from __future__ import annotations

import argparse
import os

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# table -> non-key VALUE columns eligible for --nulls injection.  Keys /
# ids stay non-null: their non-null contract is legitimate (the driver
# fixtures guarantee it, and operator-level NULL-key hardening has its
# own tests) — the sweep targets the value/ordering columns where Spark
# and DuckDB NULL semantics (ordering, aggregates, arithmetic) can
# silently diverge.
NULLABLE_COLUMNS = {
    "customer": ["c_acctbal", "c_mktsegment"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice", "p_brand"],
    "orders": ["o_totalprice", "o_orderpriority", "o_orderstatus"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount",
                 "l_shipdate", "l_returnflag"],
    "events": ["value", "props", "ts"],
    "documents": ["lang", "source", "text"],
    "embeddings": ["label"],
}

# table -> primary-key column list (hash input for the keep decision)
PRIMARY_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FULL_TABLES = ["region", "nation"]

# the variable-size dimension tables --emptydims empties (facts stay):
# the INVERSE of --keep 0 — probes empty BROADCAST build sides, joins
# whose dim side vanishes entirely, and dim-derived thresholds/
# denominators computed over zero rows
DIM_TABLES = ["customer", "supplier", "part"]

# table -> columns sign-flipped by --neg: the money/gauge columns whose
# REAL-WORLD domain includes negatives (refund events, debit balances)
# even though the shipped fixtures happen to be positive — probes the
# floor-vs-truncate and round-negative-half family.
NEG_COLUMNS = {
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "events": ["value"],
}

# table -> {column: value-space name} for --negids: sign-flip a
# hash-drawn subset of ID VALUES.  Draws are keyed on the value plus
# its shared value space (custkey 17 flips together in customer AND
# orders, doc_id/vec_id share one space), so joins stay consistent.
# Fixtures ship strictly positive ids; real ingestion promises no such
# thing.  Probes the % -vs- pmod family, residue routing
# (CASE id % k), md5-of-negative-id strings, and MIN/MAX keeper picks.
ID_COLUMNS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    "embeddings": {"vec_id": "docid"},
}

# table -> timestamp/date columns shifted by --oldts (per-row pk draw,
# like --nulls/--ties: a row's whole date context moves together)
TS_COLUMNS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

# table -> {column: coarsening SQL over that column} for --ties: each
# expression collapses many distinct values onto one so ORDER BY peers
# actually tie.  Types are preserved (a coarsened ts is still a ts).
TIE_COLUMNS = {
    "customer": {"c_acctbal": "ROUND(c_acctbal / 500, 0) * 500"},
    "supplier": {"s_acctbal": "ROUND(s_acctbal / 500, 0) * 500"},
    "part": {"p_retailprice": "ROUND(p_retailprice / 100, 0) * 100"},
    "orders": {
        "o_totalprice": "ROUND(o_totalprice / 1000, 0) * 1000",
        "o_orderdate": "date_trunc('month', o_orderdate)",
    },
    "lineitem": {
        "l_quantity": "CAST(CEIL(l_quantity / 5) * 5 AS DECIMAL(15,2))",
        "l_extendedprice": "ROUND(l_extendedprice / 1000, 0) * 1000",
        "l_shipdate": "date_trunc('month', l_shipdate)",
        "l_discount": "CAST(0.05 AS DECIMAL(15,2))",
    },
    "events": {
        "ts": "date_trunc('hour', ts)",
        "value": "ROUND(value / 10, 0) * 10",
    },
    "documents": {},
    "embeddings": {},
}

# Fixed palette for --unicode: multilingual text, emoji (incl. ZWJ
# sequences and supplementary-plane code points), combining accents,
# NBSP / tab / CRLF whitespace, RTL scripts — the inputs where
# character-length vs UTF-16-unit counts, regex \s/\w classes and
# tokenizer splits diverge between engines if either side is sloppy.
UNICODE_PALETTE = [
    "café Ωmega ☕ naïve résumé",
    "日本語テキスト 数据处理 한국어",
    "emoji \U0001f680\U0001f525 zwj \U0001f469\u200d\U0001f4bb pair",
    "line1\r\nline2\tcolumn\ttab",
    "nbsp separated words here",
    "combining é accent à grave",
    "rtl שלום عالم mixed ltr",
    "math \U0001d52a\U0001d51e\U0001d531\U0001d525 gothic \U00010348",
    "",
    "   ",
    # \x0B / \x0C: Java regex \s includes vertical tab, RE2's \s does
    # not — the engine pins oracles to '[\s\x0B]+'; this entry proves it
    "vertical\x0btab and\x0cformfeed runs",
]


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--keep", type=int, default=80, help="percent of rows kept")
    ap.add_argument("--src", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, help="default .benchdata/subset/s<seed>")
    ap.add_argument(
        "--nulls", type=int, default=0,
        help="percent of rows whose NULLABLE_COLUMNS entries are nulled "
             "(per column, independent hash draws)",
    )
    ap.add_argument(
        "--ties", type=int, default=0,
        help="percent of rows whose TIE_COLUMNS entries are coarsened "
             "onto shared values (per column, independent hash draws)",
    )
    ap.add_argument(
        "--unicode", type=int, default=0,
        help="percent of documents.text rows replaced from the fixed "
             "unicode palette",
    )
    ap.add_argument(
        "--dup", type=int, default=0,
        help="percent of (post-perturbation) rows appended a second time "
             "as EXACT duplicates, PKs included — duplicate ingestion: "
             "the strongest full-row tie stress, and the grain probe "
             "that flushes out per-row vs per-key query semantics",
    )
    ap.add_argument(
        "--neg", type=int, default=0,
        help="percent of rows whose NEG_COLUMNS entries are sign-flipped "
             "(refund/debit semantics): probes floor-vs-truncate integer "
             "division, negative ROUND halves and sign-sensitive guards",
    )
    ap.add_argument(
        "--negids", type=int, default=0,
        help="percent of ID VALUES sign-flipped, drawn per value within "
             "its shared value space so every occurrence flips together "
             "and joins stay consistent — negative-id ingestion: probes "
             "%% -vs- pmod, residue routing, hash-of-id strings and "
             "MIN/MAX keeper picks",
    )
    ap.add_argument(
        "--bigids", type=int, default=0,
        help="percent of ID VALUES offset by 2^54 + 1 (same value-space "
             "draw as --negids): ids past double precision probe any id "
             "path that silently detours through DOUBLE or INT",
    )
    ap.add_argument(
        "--oldts", type=int, default=0,
        help="percent of rows whose TS_COLUMNS entries shift back 4000 "
             "weeks (pre-1970): negative unix time probes epoch "
             "bucketing, date_trunc and 1970-anchored windows",
    )
    ap.add_argument(
        "--emptydims", action="store_true",
        help="empty the variable-size dimension tables (customer/"
             "supplier/part) while FACTS keep their rows — the inverse "
             "of --keep 0: every fact row dangles, broadcast build "
             "sides are zero-row, dim-derived aggregates/thresholds "
             "compute over nothing",
    )
    ap.add_argument(
        "--hot", type=int, default=0,
        help="skew factor: replicate one deterministic hot entity per "
             "fact table HOT-1 extra times with FRESH primary keys — "
             "hot join keys (one supplier's lines, one customer's "
             "orders, one user's events), hot CONTENT (copies of the "
             "same document text under new doc_ids) and identical "
             "embeddings under new vec_ids.  Probes df-caps, join "
             "fanout, window peer groups and ties at identical "
             "distances — skew no uniform perturbation creates",
    )
    args = ap.parse_args(argv)
    out = args.out or os.path.join(REPO, ".benchdata", "subset", f"s{args.seed}")
    if not 0 <= args.keep <= 100:
        raise SystemExit(f"--keep must be in [0, 100], got {args.keep}")
    for name in ("nulls", "ties", "unicode", "dup", "neg", "negids",
                 "bigids", "oldts"):
        v = getattr(args, name)
        if not 0 <= v <= 100:
            raise SystemExit(f"--{name} must be in [0, 100], got {v}")
    if args.hot < 0:
        raise SystemExit(f"--hot must be >= 0, got {args.hot}")
    os.makedirs(out, exist_ok=True)

    con = duckdb.connect()
    for t in FULL_TABLES:
        con.execute(
            f"COPY (SELECT * FROM '{args.src}/{t}.parquet') "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: copied full")
    if args.unicode:
        con.execute("CREATE TEMP TABLE _palette (i INT, txt VARCHAR)")
        con.executemany(
            "INSERT INTO _palette VALUES (?, ?)",
            list(enumerate(UNICODE_PALETTE)),
        )
    for t, pk in PRIMARY_KEYS.items():
        key = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in pk)
        proj = "*"
        if (args.nulls or args.ties or args.unicode or args.neg
                or args.negids or args.bigids or args.oldts):
            described = con.execute(
                f"DESCRIBE SELECT * FROM '{args.src}/{t}.parquet'"
            ).fetchall()
            exprs = []
            for c, dtype, *_ in described:
                e = c
                # composition order: id flips first (ids are disjoint
                # from the value columns below), coarsen, unicode swap,
                # then NULL (a NULL draw always wins).  The keep/dup
                # draws hash the SOURCE pk columns, so id flips never
                # change which rows a seed keeps.
                if args.oldts and c in TS_COLUMNS.get(t, []):
                    e = (
                        f"CASE WHEN hash({key} || '|{c}~oldts#{args.seed}') "
                        f"% 100 < {args.oldts} "
                        f"THEN CAST({e} - INTERVAL 4000 WEEK AS {dtype}) "
                        f"ELSE {e} END"
                    )
                if args.negids and c in ID_COLUMNS.get(t, {}):
                    space = ID_COLUMNS[t][c]
                    e = (
                        f"CASE WHEN hash(CAST({c} AS VARCHAR) "
                        f"|| '~negid.{space}#{args.seed}') % 100 "
                        f"< {args.negids} THEN CAST(-({c}) AS {dtype}) "
                        f"ELSE {e} END"
                    )
                if args.bigids and c in ID_COLUMNS.get(t, {}):
                    # 2^54 + 1: odd (residues shift) and past the last
                    # double-exact integer.  Draw on the ORIGINAL value
                    # (same space salt), so it composes with --negids:
                    # a flipped id offsets iff its original would.
                    space = ID_COLUMNS[t][c]
                    e = (
                        f"CASE WHEN hash(CAST({c} AS VARCHAR) "
                        f"|| '~bigid.{space}#{args.seed}') % 100 "
                        f"< {args.bigids} THEN CAST(({e}) + 18014398509481985 "
                        f"AS {dtype}) ELSE {e} END"
                    )
                if args.ties and c in TIE_COLUMNS.get(t, {}):
                    coarse = TIE_COLUMNS[t][c]
                    e = (
                        f"CASE WHEN hash({key} || '|{c}~tie#{args.seed}') % 100 "
                        f"< {args.ties} THEN CAST(({coarse}) AS {dtype}) "
                        f"ELSE {e} END"
                    )
                if args.neg and c in NEG_COLUMNS.get(t, []):
                    e = (
                        f"CASE WHEN hash({key} || '|{c}~neg#{args.seed}') % 100 "
                        f"< {args.neg} THEN CAST(-({e}) AS {dtype}) "
                        f"ELSE {e} END"
                    )
                if args.unicode and t == "documents" and c == "text":
                    n = len(UNICODE_PALETTE)
                    e = (
                        f"CASE WHEN hash({key} || '|text~uni#{args.seed}') % 100 "
                        f"< {args.unicode} THEN (SELECT txt FROM _palette WHERE "
                        f"i = hash({key} || '|pick#{args.seed}') % {n}) "
                        f"ELSE {e} END"
                    )
                if args.unicode and t == "documents" and c == "n_chars":
                    # keep the derived fixture column consistent with
                    # the swapped text (same hash draw as the text case)
                    n = len(UNICODE_PALETTE)
                    e = (
                        f"CASE WHEN hash({key} || '|text~uni#{args.seed}') % 100 "
                        f"< {args.unicode} THEN length((SELECT txt FROM _palette "
                        f"WHERE i = hash({key} || '|pick#{args.seed}') % {n})) "
                        f"ELSE {e} END"
                    )
                if args.nulls and c in NULLABLE_COLUMNS.get(t, []):
                    e = (
                        f"CASE WHEN hash({key} || '|{c}#{args.seed}') % 100 "
                        f"< {args.nulls} THEN NULL ELSE {e} END"
                    )
                exprs.append(f"{e} AS {c}" if e != c else c)
            proj = ", ".join(exprs)
        keep = 0 if (args.emptydims and t in DIM_TABLES) else args.keep
        sel = (
            f"SELECT {proj} FROM '{args.src}/{t}.parquet' "
            f"WHERE hash({key} || '#{args.seed}') % 100 < {keep}"
        )
        if args.dup:
            # exact duplicates of the already-perturbed rows (dup is the
            # LAST stage so copies are bit-identical to their originals)
            sel = (
                f"WITH base AS ({sel}) SELECT * FROM base UNION ALL "
                f"SELECT * FROM base "
                f"WHERE hash({key} || '~dup#{args.seed}') % 100 < {args.dup}"
            )
        con.execute(
            f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        n_src = con.execute(f"SELECT count(*) FROM '{args.src}/{t}.parquet'").fetchone()[0]
        n_out = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n_src} -> {n_out} rows")

    if args.hot > 1:
        # skew pass: replicate one hot entity per fact table with FRESH
        # primary keys (hot-1 extra copies).  Runs last, over the
        # already-perturbed output, so every copy carries the same
        # perturbations as its original.
        h = args.hot - 1
        specs = {
            "lineitem": (
                "l_suppkey = (SELECT MIN(l_suppkey) FROM cur)",
                "cur.* REPLACE (CAST(l_linenumber + 10000 * g.i AS INTEGER)"
                " AS l_linenumber)",
            ),
            "orders": (
                "o_custkey = (SELECT MIN(o_custkey) FROM cur)",
                "cur.* REPLACE (o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM cur)"
                " * g.i AS o_orderkey)",
            ),
            "events": (
                "user_id = (SELECT MIN(user_id) FROM cur)",
                "cur.* REPLACE (event_id + (SELECT MAX(event_id) + 1 FROM cur)"
                " * g.i AS event_id)",
            ),
            # hot CONTENT: same text under fresh doc_ids (dedup/df-cap probe)
            "documents": (
                "doc_id IN (SELECT doc_id FROM cur ORDER BY doc_id LIMIT 3)",
                "cur.* REPLACE (doc_id + (SELECT MAX(doc_id) + 1 FROM cur)"
                " * g.i AS doc_id)",
            ),
            # identical embeddings under fresh vec_ids (tie-break probe)
            "embeddings": (
                "vec_id = (SELECT MIN(vec_id) FROM cur)",
                "cur.* REPLACE (vec_id + (SELECT MAX(vec_id) + 1 FROM cur)"
                " * g.i AS vec_id)",
            ),
        }
        for t, (pred, proj) in specs.items():
            path = f"{out}/{t}.parquet"
            con.execute(f"CREATE OR REPLACE TEMP TABLE cur AS SELECT * FROM '{path}'")
            if con.execute("SELECT count(*) FROM cur").fetchone()[0] == 0:
                continue
            con.execute(f"""
                COPY (
                  SELECT * FROM cur
                  UNION ALL
                  SELECT {proj}
                  FROM cur, (SELECT UNNEST(generate_series(1, {h})) AS i) g
                  WHERE {pred}
                ) TO '{path}' (FORMAT PARQUET)
            """)
            n = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
            print(f"{t}: hot-replicated -> {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
