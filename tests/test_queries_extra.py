"""Extra query-surface tests: approximate aggregates vs exact answers,
and registry hygiene."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_batch_spark.catalog import DATA_TABLES, load_table, stage_halves, table_path
from etl_batch_spark.queries import QUERIES


def test_approx_aggregates_close_to_exact(spark, sf_dir):
    approx = {
        r["l_returnflag"]: r for r in QUERIES["q38_approx_aggregates"].build(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("orders"),
            F.countDistinct("l_partkey").alias("parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median"),
        )
        .collect()
    }
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a["approx_orders"] - e["orders"]) <= 0.1 * e["orders"]
        assert abs(a["approx_parts"] - e["parts"]) <= 0.1 * e["parts"]
        assert abs(a["approx_median_price"] - e["median"]) <= 0.15 * e["median"]


def test_registry_names_unique_and_documented():
    assert len(QUERIES) >= 45
    for name, q in QUERIES.items():
        assert q.build is not None
        assert q.doc or q.oracle, f"{name} lacks documentation"


def test_every_bench_query_has_oracle_or_reason():
    for name, q in QUERIES.items():
        if q.bench:
            assert q.oracle is not None, f"bench query {name} must be oracle-checked"


def test_et12_fifo_conserves_quantity(spark, sf_dir):
    """FIFO matching must fully cover every demand line: per demand
    line, allocations sum to exactly its quantity (supply == demand by
    construction, so nothing is left over on either queue)."""
    df = QUERIES["et12_fifo_allocation"].build(spark, sf_dir)
    from etl_batch_spark.catalog import load_table

    per_demand = df.groupBy("partkey", "d_orderkey", "d_linenumber").agg(
        F.round(F.sum("allocated"), 2).alias("got")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 50 == 0)
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_orderkey").alias("d_orderkey"),
            F.col("l_linenumber").alias("d_linenumber"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("want"))
    )
    bad = (
        per_demand.join(li, ["partkey", "d_orderkey", "d_linenumber"], "full_outer")
        .filter((F.col("got").isNull()) | (F.col("want").isNull()) | (F.col("got") != F.col("want")))
        .count()
    )
    assert bad == 0


def test_stage_halves_routes_every_row_to_one_file(spark, tmp_path):
    """Negative ids (``%`` leaves -1, which matches no half) and NULL ids
    (NULL equals nothing) must each land in exactly one half file."""
    df = spark.createDataFrame(
        [(3, "a"), (4, "b"), (-1, "c"), (-2, "d"), (None, "e")],
        "event_id bigint, tag string",
    )
    part0, part1 = stage_halves(df, str(tmp_path))
    assert os.path.isfile(part0) and os.path.isfile(part1)
    half0 = spark.read.schema(df.schema).parquet(part0)
    half1 = spark.read.schema(df.schema).parquet(part1)
    assert sorted(r.tag for r in half0.collect()) == ["b", "d", "e"]  # 4, -2, NULL
    assert sorted(r.tag for r in half1.collect()) == ["a", "c"]  # 3, -1
    both = half0.unionByName(half1)
    assert both.exceptAll(df).count() == 0
    assert df.exceptAll(both).count() == 0


@pytest.mark.parametrize(
    "name", ["et30_time_travel", "st09_incremental_ingest_replay"]
)
def test_scratch_dir_removed_after_build(spark, sf_dir, tmp_path, monkeypatch, name):
    """A scratch-table query leaves no temp dir behind, and the frame it
    returns was materialized before its files were deleted."""
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    df = QUERIES[name].build(spark, sf_dir)
    assert list(scratch.iterdir()) == []
    duck = duckdb.connect()
    for t in DATA_TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    assert df.count() == len(duck.execute(QUERIES[name].oracle).fetchall())
