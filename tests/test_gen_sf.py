"""tools/gen_sf.py: the derived scale factors must preserve referential
integrity and per-key fanout, or the 10x bench would time different
join selectivities than the shipped fixtures."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))


@pytest.fixture(scope="module")
def sf2x(tmp_path_factory):
    from gen_sf import main

    out = str(tmp_path_factory.mktemp("sf2x"))
    main(["--factor", "2", "--src", "/root/testdata/sf0.001", "--out", out])
    return out


def _one(con, sql):
    return con.execute(sql).fetchone()[0]


class TestGenSf:
    def test_row_counts_scale_and_dims_stay_fixed(self, sf2x):
        con = duckdb.connect()
        for t, factor in [
            ("lineitem", 2), ("orders", 2), ("customer", 2), ("events", 2),
            ("documents", 2), ("embeddings", 2), ("part", 2), ("supplier", 2),
            ("region", 1), ("nation", 1),
        ]:
            n_src = _one(con, f"SELECT count(*) FROM '/root/testdata/sf0.001/{t}.parquet'")
            n_out = _one(con, f"SELECT count(*) FROM '{sf2x}/{t}.parquet'")
            assert n_out == factor * n_src, t

    def test_keys_unique_and_fks_resolve(self, sf2x):
        con = duckdb.connect()
        # shifted copies must not collide
        for t, k in [("customer", "c_custkey"), ("orders", "o_orderkey"),
                     ("part", "p_partkey"), ("supplier", "s_suppkey"),
                     ("documents", "doc_id"), ("embeddings", "vec_id"),
                     ("events", "event_id")]:
            total = _one(con, f"SELECT count(*) FROM '{sf2x}/{t}.parquet'")
            distinct = _one(con, f"SELECT count(DISTINCT {k}) FROM '{sf2x}/{t}.parquet'")
            assert total == distinct, t
        # every FK in the scaled facts resolves in the scaled dims
        for fact, fk, dim, pk in [
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ]:
            dangling = _one(con, f"""
                SELECT count(*) FROM '{sf2x}/{fact}.parquet' f
                WHERE NOT EXISTS (
                  SELECT 1 FROM '{sf2x}/{dim}.parquet' d WHERE d.{pk} = f.{fk})
            """)
            assert dangling == 0, (fact, fk)

    def test_per_key_fanout_preserved(self, sf2x):
        # lines per order must distribute exactly as in the source: the
        # copies shift keys, never merge or split groups
        con = duckdb.connect()
        src_hist = con.execute("""
            SELECT n, count(*) FROM (
              SELECT count(*) AS n FROM '/root/testdata/sf0.001/lineitem.parquet'
              GROUP BY l_orderkey) GROUP BY n ORDER BY n
        """).fetchall()
        out_hist = con.execute(f"""
            SELECT n, count(*) FROM (
              SELECT count(*) AS n FROM '{sf2x}/lineitem.parquet'
              GROUP BY l_orderkey) GROUP BY n ORDER BY n
        """).fetchall()
        assert out_hist == [(n, 2 * c) for n, c in src_hist]

    def test_copy_zero_is_the_original(self, sf2x):
        con = duckdb.connect()
        diff = _one(con, f"""
            SELECT count(*) FROM (
              SELECT * FROM '/root/testdata/sf0.001/orders.parquet'
              EXCEPT
              SELECT * FROM '{sf2x}/orders.parquet')
        """)
        assert diff == 0

    def test_embeddings_differ_across_copies_but_keep_dim(self, sf2x):
        con = duckdb.connect()
        n_src = _one(con, "SELECT count(*) FROM '/root/testdata/sf0.001/embeddings.parquet'")
        # copy-1 vectors are offset, so exact-duplicate vector groups
        # never span copies
        dup_groups = _one(con, f"""
            SELECT count(*) FROM (
              SELECT embedding FROM '{sf2x}/embeddings.parquet'
              GROUP BY embedding HAVING count(*) > 1)
        """)
        assert dup_groups == 0
        dims = con.execute(f"""
            SELECT DISTINCT len(embedding) FROM '{sf2x}/embeddings.parquet'
        """).fetchall()
        src_dims = con.execute("""
            SELECT DISTINCT len(embedding)
            FROM '/root/testdata/sf0.001/embeddings.parquet'
        """).fetchall()
        assert dims == src_dims
        assert _one(con, f"SELECT count(*) FROM '{sf2x}/embeddings.parquet'") == 2 * n_src
