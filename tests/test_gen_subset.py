"""tools/gen_subset.py: the perturbed-subset generator behind the
generalization-parity sweep (run every registered query's Spark/DuckDB
pair on data it was never tuned against) must be deterministic,
schema-preserving, and genuinely seed-varied."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def subsets(tmp_path_factory):
    from gen_subset import main

    base = tmp_path_factory.mktemp("subsets")
    out1, out1b, out2 = str(base / "s1"), str(base / "s1b"), str(base / "s2")
    main(["--seed", "1", "--src", SRC, "--out", out1])
    main(["--seed", "1", "--src", SRC, "--out", out1b])
    main(["--seed", "2", "--src", SRC, "--out", out2])
    return out1, out1b, out2


def _one(con, sql):
    return con.execute(sql).fetchone()[0]


class TestGenSubset:
    def test_help_exits_zero(self, capsys):
        from gen_subset import main

        # argparse %-formats help strings: a bare % in one crashes --help
        with pytest.raises(SystemExit) as exit_:
            main(["--help"])
        assert exit_.value.code == 0
        assert "pmod" in capsys.readouterr().out

    def test_deterministic_per_seed(self, subsets):
        out1, out1b, _ = subsets
        con = duckdb.connect()
        for t in ("orders", "lineitem", "documents"):
            diff = _one(con, f"""
                SELECT count(*) FROM (
                  SELECT * FROM '{out1}/{t}.parquet'
                  EXCEPT SELECT * FROM '{out1b}/{t}.parquet')
            """)
            assert diff == 0, t

    def test_seeds_differ(self, subsets):
        out1, _, out2 = subsets
        con = duckdb.connect()
        only_s1 = _one(con, f"""
            SELECT count(*) FROM (
              SELECT o_orderkey FROM '{out1}/orders.parquet'
              EXCEPT SELECT o_orderkey FROM '{out2}/orders.parquet')
        """)
        assert only_s1 > 0

    def test_rows_are_a_subset_and_roughly_keep_pct(self, subsets):
        out1, _, _ = subsets
        con = duckdb.connect()
        for t in ("customer", "orders", "lineitem", "events", "documents"):
            foreign = _one(con, f"""
                SELECT count(*) FROM (
                  SELECT * FROM '{out1}/{t}.parquet'
                  EXCEPT SELECT * FROM '{SRC}/{t}.parquet')
            """)
            assert foreign == 0, t
            n_src = _one(con, f"SELECT count(*) FROM '{SRC}/{t}.parquet'")
            n_out = _one(con, f"SELECT count(*) FROM '{out1}/{t}.parquet'")
            # hash sampling at 80%: wide tolerance, just not degenerate
            assert 0.6 * n_src < n_out < n_src, t

    def test_dims_stay_full_and_schema_preserved(self, subsets):
        out1, _, _ = subsets
        con = duckdb.connect()
        for t in ("region", "nation"):
            assert _one(con, f"SELECT count(*) FROM '{out1}/{t}.parquet'") == _one(
                con, f"SELECT count(*) FROM '{SRC}/{t}.parquet'"
            )
        for t in ("lineitem", "documents", "embeddings", "events"):
            src_cols = con.execute(f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()
            out_cols = con.execute(f"DESCRIBE SELECT * FROM '{out1}/{t}.parquet'").fetchall()
            assert src_cols == out_cols, t

    def test_dup_appends_exact_copies(self, tmp_path):
        """--dup N appends bit-identical copies (PKs included) of a
        deterministic slice of the already-perturbed rows: every output
        row must exist in the --dup 0 run of the same seed, surplus rows
        must be exact duplicates, and some duplicate PKs must exist."""
        from gen_subset import main

        base, dup = str(tmp_path / "base"), str(tmp_path / "dup")
        args = ["--seed", "3", "--keep", "90", "--nulls", "5", "--src", SRC]
        main(args + ["--out", base])
        main(args + ["--dup", "25", "--out", dup])
        con = duckdb.connect()
        for t in ("orders", "lineitem", "documents"):
            foreign = _one(con, f"""
                SELECT count(*) FROM (
                  SELECT * FROM '{dup}/{t}.parquet'
                  EXCEPT SELECT * FROM '{base}/{t}.parquet')
            """)
            assert foreign == 0, t
            n_base = _one(con, f"SELECT count(*) FROM '{base}/{t}.parquet'")
            n_dup = _one(con, f"SELECT count(*) FROM '{dup}/{t}.parquet'")
            assert n_base < n_dup <= n_base * 1.35, t
        dup_pks = _one(con, f"""
            SELECT count(*) FROM (
              SELECT o_orderkey FROM '{dup}/orders.parquet'
              GROUP BY 1 HAVING count(*) > 1)
        """)
        assert dup_pks > 0

    def test_hot_replicates_with_fresh_keys(self, tmp_path):
        """--hot N adds N-1 fresh-keyed copies of one hot entity per
        fact table: key cardinality must NOT grow duplicated PKs beyond
        the source's own, the hot supplier must dominate lineitem, and
        hot document CONTENT must repeat under distinct doc_ids."""
        from gen_subset import main

        out = str(tmp_path / "hot")
        main(["--seed", "4", "--keep", "100", "--hot", "10",
              "--src", SRC, "--out", out])
        con = duckdb.connect()
        extra_dup_docs = _one(con, f"""
            SELECT count(*) FROM (
              SELECT doc_id FROM '{out}/documents.parquet'
              GROUP BY 1 HAVING count(*) > 1)
        """)
        assert extra_dup_docs == 0
        top, second = [r[1] for r in con.execute(f"""
            SELECT l_suppkey, count(*) FROM '{out}/lineitem.parquet'
            GROUP BY 1 ORDER BY 2 DESC LIMIT 2
        """).fetchall()]
        assert top >= 5 * second
        hot_texts = _one(con, f"""
            SELECT count(*) FROM (
              SELECT md5(text), count(DISTINCT doc_id) AS c
              FROM '{out}/documents.parquet' GROUP BY 1 HAVING c >= 10)
        """)
        assert hot_texts >= 3

    def test_neg_flips_signs_only_on_neg_columns(self, tmp_path):
        from gen_subset import main

        out = str(tmp_path / "neg")
        main(["--seed", "5", "--keep", "100", "--neg", "40",
              "--src", SRC, "--out", out])
        con = duckdb.connect()
        n_neg = _one(con, f"SELECT count(*) FILTER (value < 0) FROM '{out}/events.parquet'")
        n_all = _one(con, f"SELECT count(*) FROM '{out}/events.parquet'")
        assert 0 < n_neg < n_all
        # magnitudes preserved: |values| multiset identical to source
        diff = _one(con, f"""
            SELECT count(*) FROM (
              SELECT ABS(value) v FROM '{out}/events.parquet' WHERE value IS NOT NULL
              EXCEPT ALL
              SELECT ABS(value) FROM '{SRC}/events.parquet' WHERE value IS NOT NULL)
        """)
        assert diff == 0
        # untouched money columns stay non-negative
        assert _one(con, f"SELECT count(*) FILTER (o_totalprice < 0) FROM '{out}/orders.parquet'") == 0

    def test_negids_flip_consistently_across_tables(self, tmp_path):
        """--negids draws per VALUE within its shared value space, so
        every occurrence of an id flips together and joins survive."""
        from gen_subset import main

        out = str(tmp_path / "negids")
        main(["--seed", "6", "--keep", "100", "--negids", "40",
              "--src", SRC, "--out", out])
        con = duckdb.connect()
        n_neg = _one(con, f"SELECT count(*) FILTER (c_custkey < 0) FROM '{out}/customer.parquet'")
        n_all = _one(con, f"SELECT count(*) FROM '{out}/customer.parquet'")
        assert 0 < n_neg < n_all
        # referential consistency: every order still joins its customer
        dangling = _one(con, f"""
            SELECT count(*) FROM '{out}/orders.parquet' o
            WHERE o.o_custkey NOT IN (SELECT c_custkey FROM '{out}/customer.parquet')
        """)
        assert dangling == 0
        # doc_id and vec_id share one value space
        dv = _one(con, f"""
            SELECT count(*) FROM '{out}/documents.parquet' d
            JOIN '{out}/embeddings.parquet' e ON d.doc_id = e.vec_id
        """)
        n_docs = _one(con, f"SELECT count(*) FROM '{out}/documents.parquet'")
        assert dv == n_docs
        # magnitudes preserved (a flip never invents or collides an id)
        diff = _one(con, f"""
            SELECT count(*) FROM (
              SELECT ABS(c_custkey) v FROM '{out}/customer.parquet'
              EXCEPT ALL
              SELECT c_custkey FROM '{SRC}/customer.parquet')
        """)
        assert diff == 0
        # value columns untouched
        assert _one(con, f"SELECT count(*) FILTER (value < 0) FROM '{out}/events.parquet'") == 0
