"""The t2-style correctness gate, run locally at sf0.001: every registered
query's Spark result must match its DuckDB oracle (order-insensitive,
column-name-keyed, floats to 1e-9)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_batch_spark.queries import QUERIES
from tools.parity import compare, duck_connect

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    return duck_connect(SF)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    sdf = q.build(spark, SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        # rows-only check (non-SQL-expressible operator)
        assert spark_rows is not None
        return
    res = duck.execute(q.oracle)
    duck_cols = [c[0] for c in res.description]
    duck_rows = res.fetchall()
    errs, bit_exact = compare(name, spark_rows, spark_cols, duck_rows, duck_cols)
    assert not errs, f"{name}: {errs[:5]}"
    # the driver hashes exactly — tolerance-only passes are latent failures
    assert bit_exact, f"{name}: floats differ below 1e-9 (driver hash risk)"


def test_parity_refuses_unknown_query_names(monkeypatch, capsys):
    """A misspelt query name fails the gate instead of passing zero
    queries; it is refused before any session starts."""
    import tools.parity as parity

    monkeypatch.setattr(
        sys, "argv", ["parity.py", SF, "q01_pricing_summary", "q01_typo"]
    )
    assert parity.main() == 2
    err = capsys.readouterr().err
    assert "q01_typo" in err and "q01_pricing_summary" not in err
