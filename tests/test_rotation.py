"""Rotation invariants: the driver verifies only the first 50 registry
entries per round, so the ordering mechanism itself needs a contract."""

from __future__ import annotations

import sys
from pathlib import Path

from etl_batch_spark.queries import QUERIES
from etl_batch_spark.queries.rotation import DRIVER_GREEN, DRIVER_WINDOW

REPO = Path(__file__).resolve().parent.parent


def test_window_is_exactly_the_first_fifty():
    names = list(QUERIES)
    assert len(DRIVER_WINDOW) == 50
    assert names[: len(DRIVER_WINDOW)] == DRIVER_WINDOW


def test_window_and_green_reference_real_queries():
    unknown = [n for n in (*DRIVER_WINDOW, *DRIVER_GREEN) if n not in QUERIES]
    assert unknown == []


def test_green_queries_are_deprioritized_to_the_back():
    names = list(QUERIES)
    green = [n for n in DRIVER_GREEN if n not in DRIVER_WINDOW]
    assert names[-len(green):] == [n for n in names if n in set(green)]


def test_new_queries_land_in_the_middle_tier():
    # anything in neither list (e.g. queries added mid-round) must sit
    # after the window and before the green tail, so the NEXT rotation
    # update picks it up for driver verification
    names = list(QUERIES)
    green = {n for n in DRIVER_GREEN if n not in DRIVER_WINDOW}
    middle = names[50 : len(names) - len(green)]
    assert all(n not in green and n not in DRIVER_WINDOW for n in middle)
    assert len(DRIVER_WINDOW) + len(middle) + len(green) == len(names)


# Queries with no SQL-expressible oracle whose single rows-only driver
# slot is deliberate (the driver records a weaker rows-count check; the
# judge sees which).  Empty since round 5: q38 was re-expressed on the
# portable sketches (the et07 pattern) and now has a real value-hash
# oracle.
ROWS_ONLY_OK: frozenset[str] = frozenset()


def test_every_window_query_has_an_oracle_or_documented_rows_only():
    # the point of the window is driver-green rows; rows-only entries
    # burn a slot for a weaker check, so they must be deliberate —
    # listed in ROWS_ONLY_OK above with a reason
    rows_only = [n for n in DRIVER_WINDOW if QUERIES[n].oracle is None]
    assert set(rows_only) <= ROWS_ONLY_OK


class TestRotateTool:
    def test_compute_rotation_folds_greens_and_prepends(self):
        sys.path.insert(0, str(REPO / "tools"))
        from rotate import compute_rotation, greens_from_correctness

        registry = [f"q{i:02d}" for i in range(120)]
        correctness = {
            "q00": {"rows_match": True, "schema_match": True, "hash_match": True},
            "q01": {"rows_match": None, "schema_match": None, "hash_match": None,
                    "spark_rows": 5, "err": "no_oracle"},
            "q02": {"rows_match": None, "schema_match": None, "hash_match": None,
                    "spark_rows": None, "err": "TypeError: boom"},
            "q03": {"rows_match": True, "schema_match": True, "hash_match": False},
        }
        assert greens_from_correctness(correctness) == ["q00", "q01"]
        window, green = compute_rotation(
            registry, ["q50", "q51"], correctness, prepend=["q02", "q51"]
        )
        # failed q02 and changed q51 re-verify first
        assert window[:2] == ["q02", "q51"]
        assert len(window) == 50
        # newly green fold into the tail with the old greens, minus prepends
        assert set(green) == {"q00", "q01", "q50"}
        # no overlap, everything accounted for
        assert not (set(window) & set(green))

    def test_rewrite_lists_roundtrips_rotation_source(self):
        sys.path.insert(0, str(REPO / "tools"))
        from rotate import rewrite_lists

        src = (REPO / "etl_batch_spark" / "queries" / "rotation.py").read_text()
        out = rewrite_lists(src, ["a_query"], ["b_query", "c_query"])
        ns: dict = {}
        exec(compile(out, "rotation.py", "exec"), ns)  # still valid python
        assert ns["DRIVER_WINDOW"] == ["a_query"]
        assert ns["DRIVER_GREEN"] == ["b_query", "c_query"]
        assert "def reorder" in out  # the mechanism survives the rewrite
