"""Operator-level tests: salted skew join equivalence, SCD2/CDC merges,
expectations and the other reusable operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_batch_spark import plans
from etl_batch_spark.operators.joins import salted_join


@pytest.fixture()
def skewed(spark):
    # 10k rows on one hot key + a long tail; dim with 50 keys
    big = spark.range(12_000).select(
        F.when(F.col("id") < 10_000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") * 3).alias("payload"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("name")
    )
    return big, dim


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


class TestSaltedJoin:
    def test_inner_matches_plain_join(self, skewed):
        big, dim = skewed
        got = salted_join(big, dim, "k", n_salts=8)
        want = big.join(dim, "k")
        assert _multiset(got.select("k", "payload", "name")) == _multiset(
            want.select("k", "payload", "name")
        )


class TestScd2Merge:
    def test_all_branches(self, spark):
        from etl_batch_spark.operators.scd import scd2_merge
        import datetime as dt

        current = spark.createDataFrame(
            [
                # historical (closed) row for key 1 — must pass through
                (1, "A", dt.date(2020, 1, 1), dt.date(2021, 1, 1), False),
                # open rows: key 1 will change, key 2 won't, key 3 not in updates
                (1, "B", dt.date(2021, 1, 1), None, True),
                (2, "X", dt.date(2020, 1, 1), None, True),
                (3, "Y", dt.date(2020, 1, 1), None, True),
            ],
            "k long, attr string, valid_from date, valid_to date, is_current boolean",
        )
        updates = spark.createDataFrame(
            [(1, "C"), (2, "X"), (4, "NEW")], "k long, attr string"
        )
        out = scd2_merge(
            current, updates, key="k", attrs=("attr",), effective_date="2022-06-01"
        )
        rows = {(r["k"], r["attr"], r["is_current"]): r for r in out.collect()}
        eff = dt.date(2022, 6, 1)
        # changed key: old row closed at eff, new version open
        assert rows[(1, "B", False)]["valid_to"] == eff
        assert rows[(1, "C", True)]["valid_from"] == eff
        assert rows[(1, "C", True)]["valid_to"] is None
        # historical row untouched
        assert rows[(1, "A", False)]["valid_to"] == dt.date(2021, 1, 1)
        # no-op update and absent key pass through open
        assert rows[(2, "X", True)]["valid_from"] == dt.date(2020, 1, 1)
        assert rows[(3, "Y", True)]["valid_from"] == dt.date(2020, 1, 1)
        # brand-new key inserted open
        assert rows[(4, "NEW", True)]["valid_from"] == eff
        assert len(rows) == 6


class TestRollupCascade:
    def test_each_level_matches_direct_aggregate(self, spark, sf_dir):
        from etl_batch_spark.catalog import load_table
        from etl_batch_spark.operators.rollup import read_level, rollup_cascade

        e = load_table(spark, sf_dir, "events")
        levels = rollup_cascade(e, ts_col="ts", key_cols=("event_type",), value_col="value")
        for lv in ("minute", "hour", "day"):
            direct = (
                e.groupBy(F.date_trunc(lv, "ts").alias("bucket"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("value"), 2).alias("sum_value"),
                    F.round(F.min("value"), 4).alias("min_value"),
                    F.round(F.max("value"), 4).alias("max_value"),
                    F.round(F.sum("value") / F.count(F.lit(1)) + F.lit(1e-9), 4).alias("avg_value"),
                )
            )
            cascade = read_level(levels[lv])
            a = {tuple(r) for r in cascade.collect()}
            b = {tuple(r) for r in direct.collect()}
            assert a == b, f"level {lv} diverges"


class TestBfsLevels:
    def test_depths_and_min_depth_on_dag(self, spark):
        from etl_batch_spark.operators.hierarchy import bfs_levels

        # 0 -> 1 -> 3 -> 4, 0 -> 2 -> 4 (4 reachable two ways: depth 2 wins)
        edges = spark.createDataFrame(
            [(1, 0), (2, 0), (3, 1), (4, 3), (4, 2), (9, 8)],  # 9/8 unreachable
            "child long, parent long",
        )
        roots = spark.createDataFrame([(0,)], "node long")
        got = {r["node"]: r["depth"] for r in bfs_levels(edges, roots).collect()}
        assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 2}


class TestAsofJoin:
    def _data(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(7)
        keys = ["a", "b", "c"]
        lrows = [
            (k, (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=int(s))).to_pydatetime(), i)
            for i, (k, s) in enumerate(
                (keys[int(rng.integers(3))], rng.integers(0, 10_000))
                for _ in range(200)
            )
        ]
        rrows = [
            (k, (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=int(s))).to_pydatetime(), float(v))
            for k, s, v in (
                (keys[int(rng.integers(3))], rng.integers(0, 10_000), rng.integers(0, 1000))
                for _ in range(60)
            )
        ]
        # drop duplicate (key, ts) on the right: pandas keeps the last,
        # the window keeps the last — but dedup makes intent explicit
        seen = set()
        rrows = [r for r in rrows if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))]
        ldf = spark.createDataFrame(lrows, "k string, ts timestamp, lid long")
        rdf = spark.createDataFrame(rrows, "k string, ts timestamp, price double")
        import pandas as pd

        lpd = pd.DataFrame(lrows, columns=["k", "ts", "lid"]).sort_values("ts")
        rpd = pd.DataFrame(rrows, columns=["k", "ts", "price"]).sort_values("ts")
        return ldf, rdf, lpd, rpd

    def _check(self, spark, direction, tolerance_s=None):
        import pandas as pd

        from etl_batch_spark.operators.asof import asof_join

        ldf, rdf, lpd, rpd = self._data(spark)
        got = {
            r["lid"]: r["price_right"]
            for r in asof_join(
                ldf, rdf, on="ts", by=["k"], direction=direction,
                tolerance_s=tolerance_s,
            ).collect()
        }
        want_df = pd.merge_asof(
            lpd, rpd, on="ts", by="k", direction=direction,
            tolerance=None if tolerance_s is None else pd.Timedelta(seconds=tolerance_s),
        )
        want = {
            int(r.lid): (None if pd.isna(r.price) else float(r.price))
            for r in want_df.itertuples()
        }
        assert got == want, direction

    def test_backward_matches_pandas(self, spark):
        self._check(spark, "backward")

    def test_forward_matches_pandas(self, spark):
        self._check(spark, "forward")

    def test_nearest_matches_pandas(self, spark):
        self._check(spark, "nearest")

    def test_tolerance_matches_pandas(self, spark):
        self._check(spark, "backward", tolerance_s=300.0)

    def test_null_value_on_matched_row_is_returned_not_skipped(self, spark):
        # merge_asof returns the nearest ROW's values as-is — a NULL value
        # on that row must come back NULL, never be skipped past to an
        # older row's value (and ts_right/value_right must come from the
        # SAME row).  Regression: the per-column last(..., ignorenulls)
        # formulation reached through NULLs.
        from datetime import datetime

        from etl_batch_spark.operators.asof import asof_join

        ldf = spark.createDataFrame(
            [("a", datetime(2024, 1, 1, 0, 0, 30), 1)],
            "k string, ts timestamp, lid long",
        )
        rdf = spark.createDataFrame(
            [
                ("a", datetime(2024, 1, 1, 0, 0, 10), 7.0),   # older, non-null
                ("a", datetime(2024, 1, 1, 0, 0, 20), None),  # nearest, NULL value
            ],
            "k string, ts timestamp, price double",
        )
        row = asof_join(ldf, rdf, on="ts", by=["k"], direction="backward").collect()[0]
        assert row["ts_right"] == datetime(2024, 1, 1, 0, 0, 20)
        assert row["price_right"] is None


class TestPageRank:
    def test_matches_numpy_power_iteration(self, spark):
        import numpy as np
        from etl_batch_spark.operators.graph import pagerank

        rng = np.random.default_rng(3)
        n = 40
        raw = {(int(a), int(b)) for a, b in rng.integers(0, n, size=(150, 2)) if a != b}
        edges = spark.createDataFrame(sorted(raw), "src long, dst long")
        got = {r["node"]: r["rank"] for r in
               pagerank(edges, max_iterations=8).collect()}

        node_ids = sorted({x for e in raw for x in e})
        idx = {v: i for i, v in enumerate(node_ids)}
        m = len(node_ids)
        A = np.zeros((m, m))
        for a, b in raw:
            A[idx[b], idx[a]] = 1.0
        deg = A.sum(axis=0)
        r = np.full(m, 1.0 / m)
        d = 0.85
        for _ in range(8):
            dangling = r[deg == 0].sum()
            contrib = A @ np.divide(r, deg, out=np.zeros(m), where=deg > 0)
            r = (1 - d) / m + d * dangling / m + d * contrib
        for v in node_ids:
            assert abs(got[v] - r[idx[v]]) < 1e-6, v
        assert abs(sum(got.values()) - 1.0) < 1e-3


class TestOverlapJoin:
    @pytest.fixture()
    def intervals(self, spark):
        def mk(rows):
            return spark.createDataFrame(
                [(k, i, f"2024-01-{d1:02d} 00:00:00", f"2024-01-{d2:02d} 00:00:00") for k, i, d1, d2 in rows],
                "k int, id int, start string, stop string",
            ).select(
                "k", "id",
                F.col("start").cast("timestamp").alias("start"),
                F.col("stop").cast("timestamp").alias("stop"),
            )

        left = mk([(1, 1, 1, 5), (1, 2, 10, 20), (2, 3, 1, 31), (3, 4, 5, 6)])
        right = mk([(1, 10, 4, 11), (1, 11, 21, 25), (2, 12, 15, 15), (9, 13, 1, 31)])
        return left, right.select("k", F.col("id").alias("rid"),
                                  F.col("start").alias("rstart"), F.col("stop").alias("rstop"))

    def _pairs(self, df):
        return {tuple(r) for r in df.select("id", "rid").collect()}

    def test_matches_inequality_join(self, spark, intervals):
        from etl_batch_spark.operators.interval import overlap_join

        left, right = intervals
        for bin_seconds in (3600, 86400, 7 * 86400, 90 * 86400):
            got = overlap_join(
                left, right, on=["k"],
                left_start="start", left_end="stop",
                right_start="rstart", right_end="rstop",
                bin_seconds=bin_seconds,
            )
            want = left.join(right, "k").filter(
                (F.col("start") <= F.col("rstop")) & (F.col("rstart") <= F.col("stop"))
            )
            assert self._pairs(got) == self._pairs(want), f"bin={bin_seconds}"
            # exactly-once: no duplicate pairs even when intervals share many bins
            assert got.count() == len(self._pairs(got)), f"bin={bin_seconds}"

    def test_no_key_columns(self, spark, intervals):
        from etl_batch_spark.operators.interval import overlap_join

        left, right = intervals
        got = overlap_join(
            left.drop("k"), right.drop("k"),
            left_start="start", left_end="stop",
            right_start="rstart", right_end="rstop",
            bin_seconds=86400,
        )
        want = left.drop("k").crossJoin(right.drop("k")).filter(
            (F.col("start") <= F.col("rstop")) & (F.col("rstart") <= F.col("stop"))
        )
        assert self._pairs(got) == self._pairs(want)

    def test_rejects_column_collisions(self, intervals):
        from etl_batch_spark.operators.interval import overlap_join

        left, right = intervals
        with pytest.raises(ValueError, match="rename"):
            overlap_join(
                left, left, on=["k"],
                left_start="start", left_end="stop",
                right_start="start", right_end="stop",
            )

    def test_plans_as_hash_join_not_nested_loop(self, intervals):
        from etl_batch_spark.operators.interval import overlap_join

        left, right = intervals
        got = overlap_join(
            left, right, on=["k"],
            left_start="start", left_end="stop",
            right_start="rstart", right_end="rstop",
        )
        plan = plans.formatted_plan(got)
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestExpectations:
    def test_counts_and_single_scan(self, spark):
        from etl_batch_spark.operators import expectations as X

        df = spark.createDataFrame(
            [(1, 10.0, "O"), (2, -5.0, "F"), (None, 2e6, "Z"), (2, None, None)],
            "k long, price double, status string",
        )
        got = {
            r["rule"]: r["violations"]
            for r in X.evaluate(
                df,
                [
                    X.not_null("k"),
                    X.in_range("price", lo=0, hi=1_000_000),
                    X.in_set("status", ["O", "F"]),
                ],
                unique=["k"],
            ).collect()
        }
        assert got == {
            "not_null(k)": 1,
            "in_range(price)": 2,   # -5 below lo, 2e6 above hi; null not counted
            "in_set(status)": 1,    # 'Z'; null not counted
            "unique(k)": 1,         # k=2 twice
        }

    def test_empty_input_all_zero(self, spark):
        from etl_batch_spark.operators import expectations as X

        df = spark.createDataFrame([], "k long, price double")
        got = {
            r["rule"]: r["violations"]
            for r in X.evaluate(df, [X.not_null("k")], unique=["k"]).collect()
        }
        assert got == {"not_null(k)": 0, "unique(k)": 0}

    def test_rejects_empty_rules(self, spark):
        from etl_batch_spark.operators import expectations as X

        with pytest.raises(ValueError):
            X.evaluate(spark.range(1), [])


class TestApplyChangelog:
    def test_upsert_delete_reinsert(self, spark):
        from etl_batch_spark.operators.cdc import apply_changelog

        snap = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
        chg = spark.createDataFrame(
            [
                (2, "b2", 10, "U"),   # update
                (3, "c", 11, "D"),    # delete
                (4, "d", 12, "I"),    # insert new key
                (5, "e", 13, "I"),    # insert then delete
                (5, "e", 14, "D"),
                (6, "f", 15, "D"),    # delete then re-insert
                (6, "f2", 16, "I"),
            ],
            "k long, v string, seq long, op string",
        )
        got = {
            (r["k"], r["v"])
            for r in apply_changelog(snap, chg, keys=["k"], seq_col="seq", op_col="op").collect()
        }
        assert got == {(1, "a"), (2, "b2"), (4, "d"), (6, "f2")}

    def test_rejects_column_mismatch(self, spark):
        from etl_batch_spark.operators.cdc import apply_changelog

        snap = spark.createDataFrame([(1, "a")], "k long, v string")
        chg = spark.createDataFrame([(1, 10, "U")], "k long, seq long, op string")
        with pytest.raises(ValueError):
            apply_changelog(snap, chg, keys=["k"], seq_col="seq", op_col="op")

    def test_map_typed_value_column(self, spark):
        """xxhash64 rejects MapType at analysis time; the tie-break must
        route map columns through their JSON image instead of failing."""
        from etl_batch_spark.operators.cdc import apply_changelog

        snap = spark.createDataFrame(
            [(1, {"a": 1}), (2, {"b": 2})], "k long, props map<string,int>"
        )
        chg = spark.createDataFrame(
            [(2, {"b": 3}, 10, "U"), (3, {"c": 4}, 11, "I"), (1, None, 12, "D")],
            "k long, props map<string,int>, seq long, op string",
        )
        got = {
            (r["k"], tuple(sorted((r["props"] or {}).items())))
            for r in apply_changelog(
                snap, chg, keys=["k"], seq_col="seq", op_col="op"
            ).collect()
        }
        assert got == {(2, (("b", 3),)), (3, (("c", 4),))}


class TestBlockedFuzzyJoin:
    def test_finds_typos_within_block(self, spark):
        from etl_batch_spark.operators.fuzzy import blocked_fuzzy_join

        clean = spark.createDataFrame(
            [("acme widgets inc",), ("globex corporation",), ("initech llc",)],
            "clean string",
        )
        dirty = spark.createDataFrame(
            [("acme widgets inc",),   # exact
             ("acme widgets ink",),   # 1 sub
             ("globex corporatio",),  # 1 del
             ("completely different name",)],
            "dirty string",
        )
        got = {
            (r["clean"], r["dirty"], r["distance"])
            for r in blocked_fuzzy_join(
                clean, dirty, left_text="clean", right_text="dirty", max_distance=2
            ).collect()
        }
        assert got == {
            ("acme widgets inc", "acme widgets inc", 0),
            ("acme widgets inc", "acme widgets ink", 1),
            ("globex corporation", "globex corporatio", 1),
        }

    def test_blocking_confines_candidates(self, spark):
        from etl_batch_spark.operators.fuzzy import blocked_fuzzy_join
        from etl_batch_spark import plans

        clean = spark.createDataFrame([("alpha one",)], "clean string")
        dirty = spark.createDataFrame([("alpha one",)], "dirty string")
        df = blocked_fuzzy_join(clean, dirty, left_text="clean", right_text="dirty")
        plan = plans.formatted_plan(df)
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan

    def test_rejects_shared_columns(self, spark):
        from etl_batch_spark.operators.fuzzy import blocked_fuzzy_join
        import pytest as _pytest

        df = spark.createDataFrame([("x",)], "name string")
        with _pytest.raises(ValueError):
            blocked_fuzzy_join(df, df, left_text="name", right_text="name")


class TestBloomFilter:
    def test_no_false_negatives(self, spark):
        from etl_batch_spark.operators.bloom import build_bloom

        dim = spark.range(0, 500).withColumnRenamed("id", "k")
        bf = build_bloom(dim, "k", num_bits=1 << 14)
        assert bf.n_items == 500
        kept = spark.range(0, 500).filter(bf.might_contain("id")).count()
        assert kept == 500  # every inserted key must pass

    def test_false_positive_rate_bounded(self, spark):
        from etl_batch_spark.operators.bloom import build_bloom

        dim = spark.range(0, 1000).withColumnRenamed("id", "k")
        bf = build_bloom(dim, "k", num_bits=1 << 16)  # ~65 bits/key
        # probe 10k keys disjoint from the inserted set
        fp = spark.range(1_000_000, 1_010_000).filter(bf.might_contain("id")).count()
        assert fp < 100  # < 1% at this sizing

    def test_exact_mode_equals_semi_join(self, spark):
        from etl_batch_spark.operators.bloom import bloom_semi_filter

        fact = spark.createDataFrame(
            [(i, i % 7) for i in range(200)], "row_id long, fk long"
        )
        dim = spark.createDataFrame([(0,), (3,), (5,)], "pk long")
        got = bloom_semi_filter(fact, dim, "fk", "pk", num_bits=64)  # tiny -> many fps
        want = fact.join(dim, fact.fk == dim.pk, "left_semi")
        assert sorted(r["row_id"] for r in got.collect()) == sorted(
            r["row_id"] for r in want.collect()
        )

    def test_inexact_mode_is_join_free(self, spark):
        from etl_batch_spark.operators.bloom import bloom_semi_filter
        from etl_batch_spark import plans

        fact = spark.createDataFrame([(i, i) for i in range(50)], "row_id long, fk long")
        dim = spark.createDataFrame([(1,), (2,)], "pk long")
        pruned = bloom_semi_filter(fact, dim, "fk", "pk", num_bits=1 << 12, exact=False)
        plan = plans.formatted_plan(pruned)
        for node in ("Join", "CartesianProduct", "Exchange"):
            assert node not in plan  # pure scan-side filter
        assert {r["fk"] for r in pruned.collect()} >= {1, 2}

    def test_null_keys_dropped_both_sides(self, spark):
        from etl_batch_spark.operators.bloom import bloom_semi_filter

        fact = spark.createDataFrame([(1, 1), (2, None)], "row_id long, fk long")
        dim = spark.createDataFrame([(1,), (None,)], "pk long")
        got = bloom_semi_filter(fact, dim, "fk", "pk", num_bits=1 << 10)
        assert [r["row_id"] for r in got.collect()] == [1]

    def test_rejects_decimal_precision_mismatch(self, spark):
        """typeName() is 'decimal' for EVERY precision/scale, so a
        typeName-level guard passes decimal(10,2) vs decimal(12,0) while
        xxhash64 hashes different unscaled values (500 vs 5 for 5.00) —
        the silent-false-negative case the guard exists to stop."""
        from etl_batch_spark.operators.bloom import bloom_semi_filter

        fact = spark.sql(
            "SELECT 1L AS row_id, CAST(5.00 AS DECIMAL(10,2)) AS fk"
        )
        dim = spark.sql("SELECT CAST(5 AS DECIMAL(12,0)) AS pk")
        with pytest.raises(ValueError, match="decimal\\(10,2\\)"):
            bloom_semi_filter(fact, dim, "fk", "pk", num_bits=1 << 10)

    def test_integral_width_mismatch_widened_not_rejected(self, spark):
        from etl_batch_spark.operators.bloom import bloom_semi_filter

        fact = spark.createDataFrame([(1, 5), (2, 6)], "row_id long, fk int")
        dim = spark.createDataFrame([(5,)], "pk long")
        got = bloom_semi_filter(fact, dim, "fk", "pk", num_bits=1 << 10)
        assert [r["row_id"] for r in got.collect()] == [1]

    def test_rejects_bad_sizing(self, spark):
        from etl_batch_spark.operators.bloom import build_bloom

        dim = spark.range(1).withColumnRenamed("id", "k")
        with pytest.raises(ValueError):
            build_bloom(dim, "k", num_bits=100)  # not a power of two

    def test_null_fact_keys_dropped_even_inexact(self, spark):
        """xxhash64 ignores NULL children, so without the IsNotNull seed a
        NULL fact key probes a deterministic position and can leak through
        the join-free exact=False path."""
        from etl_batch_spark.operators.bloom import bloom_semi_filter

        fact = spark.createDataFrame(
            [(1, 1), (2, None), (3, None)], "row_id long, fk long"
        )
        dim = spark.range(2000).withColumnRenamed("id", "pk")  # dense bitmap
        got = bloom_semi_filter(fact, dim, "fk", "pk", num_bits=64, exact=False)
        assert [r["row_id"] for r in got.collect()] == [1]

    def test_integral_key_type_mismatch_widened_not_empty(self, spark):
        """hash(5 AS INT) != hash(5 AS BIGINT): a type mismatch must not
        silently empty the result — integral keys widen, others reject."""
        from pyspark.sql import functions as F

        from etl_batch_spark.operators.bloom import bloom_semi_filter

        fact = spark.range(10).select(F.col("id").cast("int").alias("fk"))
        dim = spark.range(10).select(F.col("id").alias("pk"))  # bigint
        got = bloom_semi_filter(fact, dim, "fk", "pk", num_bits=1 << 10)
        assert got.count() == 10
        sfact = spark.range(3).select(F.col("id").cast("string").alias("fk"))
        with pytest.raises(ValueError, match="key types differ"):
            bloom_semi_filter(sfact, dim, "fk", "pk")

    def test_n_items_counted_without_second_scan(self, spark):
        from etl_batch_spark.operators.bloom import build_bloom

        dim = spark.createDataFrame([(1,), (2,), (3,), (None,)], "k long")
        bf = build_bloom(dim, "k", num_bits=1 << 10)
        assert bf.n_items == 3


class TestCogroupInterpolate:
    def _mk(self, spark, rows, schema):
        return spark.createDataFrame(rows, schema)

    def test_linear_interior_and_exact_hits(self, spark):
        from etl_batch_spark.operators.cogroup import cogroup_interpolate

        t = self._mk(
            spark,
            [(1, "2024-01-01 00:00:05"), (1, "2024-01-01 00:00:10")],
            "k long, s string",
        ).select("k", F.to_timestamp("s").alias("ts"))
        s = self._mk(
            spark,
            [(1, "2024-01-01 00:00:00", 10.0), (1, "2024-01-01 00:00:10", 20.0)],
            "k long, s string, v double",
        ).select("k", F.to_timestamp("s").alias("ts"), "v")
        got = {
            str(r["ts"]): r["interp_value"]
            for r in cogroup_interpolate(
                t, s, key_col="k", ts_col="ts", value_col="v"
            ).collect()
        }
        assert got["2024-01-01 00:00:05"] == 15.0  # midpoint
        assert got["2024-01-01 00:00:10"] == 20.0  # exact sample hit

    def test_outside_hull_and_missing_key_are_null(self, spark):
        from etl_batch_spark.operators.cogroup import cogroup_interpolate

        t = self._mk(
            spark,
            [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 01:00:00"), (2, "2024-01-01 00:30:00")],
            "k long, s string",
        ).select("k", F.to_timestamp("s").alias("ts"))
        s = self._mk(
            spark,
            [(1, "2024-01-01 00:10:00", 1.0), (1, "2024-01-01 00:20:00", 2.0)],
            "k long, s string, v double",
        ).select("k", F.to_timestamp("s").alias("ts"), "v")
        rows = cogroup_interpolate(t, s, key_col="k", ts_col="ts", value_col="v").collect()
        vals = {(r["k"], str(r["ts"])): r["interp_value"] for r in rows}
        assert vals[(1, "2024-01-01 00:00:00")] is None  # before hull
        assert vals[(1, "2024-01-01 01:00:00")] is None  # after hull
        assert vals[(2, "2024-01-01 00:30:00")] is None  # key has no samples

    def test_self_lineage_keeps_sample_columns(self, spark, sf_dir):
        """Both sides carved from ONE scan: the exprId-dedup trap that
        silently dropped right-side columns before re-aliasing."""
        from etl_batch_spark.operators.cogroup import cogroup_interpolate
        from etl_batch_spark.catalog import load_table

        e = load_table(spark, sf_dir, "events")
        t = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        s = (
            e.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.avg("value").alias("v"))
        )
        out = cogroup_interpolate(t, s, key_col="user_id", ts_col="ts", value_col="v")
        rows = out.limit(50).collect()
        assert len(rows) == 50
        assert any(r["interp_value"] is not None for r in out.collect())

    def test_rejects_bad_columns(self, spark):
        from etl_batch_spark.operators.cogroup import cogroup_interpolate

        df = spark.createDataFrame([(1, 1.0)], "k long, interp_value double")
        with pytest.raises(ValueError):
            cogroup_interpolate(df, df, key_col="k", ts_col="k", value_col="k")
        df2 = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError):
            cogroup_interpolate(df2, df2, key_col="k", ts_col="missing", value_col="k")


class TestGroupedMadOutliers:
    def test_flags_only_extremes(self, spark):
        from etl_batch_spark.operators.outliers import grouped_mad_outliers

        rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 100]] + [
            ("b", 5.0), ("b", 5.0), ("b", 5.0)  # constant group: MAD 0
        ]
        df = spark.createDataFrame(rows, "g string, x double")
        got = grouped_mad_outliers(df, group_col="g", value_col="x", k=3.0).collect()
        assert [(r["g"], r["x"]) for r in got] == [("a", 100.0)]
        assert got[0]["group_median"] == 12.5
        assert got[0]["group_mad"] == 1.5

    def test_rejects_missing_columns(self, spark):
        from etl_batch_spark.operators.outliers import grouped_mad_outliers

        df = spark.createDataFrame([("a", 1.0)], "g string, x double")
        with pytest.raises(ValueError):
            grouped_mad_outliers(df, group_col="nope", value_col="x")


class TestMergeUpsert:
    def test_update_insert_delete_carry(self, spark, tmp_path):
        import os

        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "dim"))
        t.overwrite(spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, name string, v double",
        ))
        updates = spark.createDataFrame(
            [(2, "b2", 21.0, False),   # update
             (4, "d", 40.0, False),    # insert
             (3, None, None, True)],   # delete
            "k long, name string, v double, is_deleted boolean",
        )
        t.merge(updates, ["k"], delete_col="is_deleted")
        v0, v1 = t.versions()
        assert v0.n_rows == 3
        # a merge counts the rows it rewrote, not the snapshot
        assert v1.n_rows == spark.read.parquet(
            *[os.path.join(t.path, f) for f in v1.added]
        ).count()
        got = {r["k"]: (r["name"], r["v"]) for r in t.read().collect()}
        assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 4: ("d", 40.0)}

    def test_rejects_bad_inputs(self, spark):
        from etl_batch_spark.operators.merge import merge_dataframes

        t = spark.createDataFrame([(1, "a")], "k long, name string")
        u = spark.createDataFrame([(1, "a", 1.0)], "k long, name string, extra double")
        with pytest.raises(ValueError):
            merge_dataframes(t, u, ["k"])
        with pytest.raises(ValueError):
            merge_dataframes(t, t, [])

    def test_crash_before_swap_leaves_target(self, spark, tmp_path, monkeypatch):
        """A fault at the commit's visibility point (the log entry's
        ``os.link``) leaves the previous version as the head."""
        from etl_batch_spark.sources import txlog
        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "dim2"))
        t.overwrite(spark.createDataFrame([(1, "a")], "k long, name string"))
        updates = spark.createDataFrame([(1, "CHANGED")], "k long, name string")

        def boom(src, dst):
            raise OSError("simulated crash at commit")
        monkeypatch.setattr(txlog.os, "link", boom)
        with pytest.raises(OSError):
            t.merge(updates, ["k"])
        monkeypatch.undo()
        assert t.latest_version() == 0
        assert [r["name"] for r in t.read().collect()] == ["a"]


class TestTriangleCount:
    def test_k4_plus_pendant(self, spark):
        from etl_batch_spark.operators.graph import triangle_count

        # K4 (4 triangles) + pendant edge 4-5; edges given in mixed
        # orientation with a duplicate and a self-loop to exercise
        # canonicalization
        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (4, 2), (3, 4), (4, 5), (3, 3)],
            "a long, b long",
        )
        row = triangle_count(edges).first()
        assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (5, 7, 4)

    def test_triangle_free(self, spark):
        from etl_batch_spark.operators.graph import triangle_count

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 1)], "a long, b long"  # C4: no triangles
        )
        row = triangle_count(edges).first()
        assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 4, 0)


class TestLttb:
    @staticmethod
    def _reference_lttb(points, n_out):
        # independent textbook implementation (Steinarsson 2013)
        m = len(points)
        if n_out >= m:
            return points
        every = (m - 2) / (n_out - 2)
        out = [points[0]]
        a = 0
        for i in range(n_out - 2):
            lo = int(i * every) + 1
            hi = int((i + 1) * every) + 1
            nlo, nhi = hi, min(int((i + 2) * every) + 1, m)
            if nlo < nhi:
                ax = sum(p[0] for p in points[nlo:nhi]) / (nhi - nlo)
                ay = sum(p[1] for p in points[nlo:nhi]) / (nhi - nlo)
            else:
                ax, ay = points[-1]
            best, best_area = lo, -1.0
            for j in range(lo, hi):
                area = abs(
                    (points[a][0] - ax) * (points[j][1] - points[a][1])
                    - (points[a][0] - points[j][0]) * (ay - points[a][1])
                )
                if area > best_area:
                    best, best_area = j, area
            out.append(points[best])
            a = best
        out.append(points[-1])
        return out

    def test_matches_reference_replay(self, spark):
        import datetime as dt
        import random

        from etl_batch_spark.operators.downsample import lttb_downsample

        rng = random.Random(7)
        rows = []
        for uid in (1, 2):
            for i in range(100):
                rows.append(
                    (uid, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=3 * i + uid),
                     round(rng.uniform(0, 100), 3))
                )
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        got = {
            uid: [
                (r["ts"], r["value"])
                for r in lttb_downsample(df, n_out=10).filter(f"user_id = {uid}")
                .orderBy("ts").collect()
            ]
            for uid in (1, 2)
        }
        for uid in (1, 2):
            pts = sorted(
                ((ts, v) for u, ts, v in rows if u == uid),
                key=lambda p: (p[0], p[1]),
            )
            scaled = [(ts.timestamp() * 1e6, v) for ts, v in pts]
            want_idx = [scaled.index(p) for p in self._reference_lttb(scaled, 10)]
            want = [pts[i] for i in want_idx]
            assert got[uid] == want

    def test_short_series_pass_through(self, spark):
        from etl_batch_spark.operators.downsample import lttb_downsample

        df = spark.createDataFrame(
            [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0)],
            "user_id long, ts long, value double",
        )
        assert lttb_downsample(df, n_out=10).count() == 3


class TestEwma:
    def test_matches_recursion_replay(self, spark):
        import datetime as dt
        import random

        from etl_batch_spark.operators.downsample import ewma

        rng = random.Random(3)
        rows = [
            (uid, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), rng.uniform(0, 10))
            for uid in (1, 2) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        got = {
            (r["user_id"], r["ts"]): r["ewma"]
            for r in ewma(df, alpha=0.25).collect()
        }
        for uid in (1, 2):
            series = sorted((ts, v) for u, ts, v in rows if u == uid)
            acc = None
            for ts, v in series:
                acc = v if acc is None else 0.25 * v + 0.75 * acc
                assert abs(got[(uid, ts)] - acc) < 1e-12

    def test_rejects_bad_alpha(self, spark):
        import pytest as _pytest

        from etl_batch_spark.operators.downsample import ewma

        df = spark.createDataFrame([(1, 1, 1.0)], "user_id long, ts long, value double")
        with _pytest.raises(ValueError):
            ewma(df, alpha=0.0)


class TestPortableHll:
    def test_estimate_within_hll_error_and_merge_associative(self, spark):
        from pyspark.sql import functions as F

        from etl_batch_spark.operators.sketch import (
            hll_estimate,
            hll_merge,
            hll_partials,
        )

        # 4 groups of 500 distinct keys each (disjoint ranges)
        df = spark.range(2000).select(
            (F.col("id") % 4).alias("g"), F.col("id").alias("k")
        )
        day = hll_partials(df, key_col="k", bucket=F.col("g"))
        est = {r["bucket"]: r["est_distinct"] for r in hll_estimate(day).collect()}
        for g in range(4):
            # m=256 → standard error ~1.04/sqrt(256) = 6.5%; allow 3 sigma
            assert abs(est[g] - 500) / 500 < 0.2, (g, est[g])

        # merging the 4 per-group registers == sketching the union directly
        merged = hll_merge(day, F.lit(0))
        direct = hll_partials(df, key_col="k", bucket=F.lit(0))
        m1 = {(r["idx"]): r["max_rho"] for r in merged.collect()}
        m2 = {(r["idx"]): r["max_rho"] for r in direct.collect()}
        assert m1 == m2
        e_all = hll_estimate(merged).collect()[0]["est_distinct"]
        assert abs(e_all - 2000) / 2000 < 0.2

    def test_null_keys_ignored(self, spark):
        """COUNT DISTINCT semantics: NULL keys contribute no register —
        a phantom idx=NULL row would inflate n_present and null the
        estimate for an all-NULL bucket."""
        from pyspark.sql import functions as F

        from etl_batch_spark.operators.sketch import hll_estimate, hll_partials

        df = spark.range(600).select(
            (F.col("id") % 2).alias("g"),
            F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).alias("k"),
        )
        with_nulls = hll_partials(df, key_col="k", bucket=F.col("g"))
        without = hll_partials(df.filter(F.col("k").isNotNull()), key_col="k",
                               bucket=F.col("g"))
        assert sorted(map(tuple, with_nulls.collect())) == sorted(
            map(tuple, without.collect())
        )
        # an all-NULL bucket yields no registers (and hence no estimate row),
        # never a NULL estimate
        all_null = spark.range(10).select(
            F.lit(0).alias("g"), F.lit(None).cast("long").alias("k")
        )
        assert hll_estimate(hll_partials(all_null, key_col="k",
                                         bucket=F.col("g"))).count() == 0


class TestHistogramQuantiles:
    def test_estimate_within_bin_width_and_merge_associative(self, spark):
        from pyspark.sql import functions as F

        from etl_batch_spark.operators.sketch import (
            hist_merge,
            hist_partials,
            hist_quantiles,
        )

        # uniform 0..999, two halves as "days" to exercise the merge
        df = spark.range(1000).select(
            (F.col("id") % 2).alias("d"), F.col("id").cast("double").alias("v")
        )
        day = hist_partials(df, value_col="v", bucket=F.col("d"), width=8.0)
        merged = hist_merge(day, F.lit(0))
        direct = hist_partials(df, value_col="v", bucket=F.lit(0), width=8.0)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )
        est = {r["q"]: r["est"] for r in hist_quantiles(merged, width=8.0).collect()}
        # uniform true quantiles: 500, 900, 990 — histogram error ≤ width
        for q, true in ((0.5, 500.0), (0.9, 900.0), (0.99, 990.0)):
            assert abs(est[q] - true) <= 8.0, (q, est[q])

    def test_null_values_ignored(self, spark):
        """Aggregate semantics: NULL values bin nowhere — a bin=NULL row
        would lead the cumulative sum and corrupt every quantile."""
        from pyspark.sql import functions as F

        from etl_batch_spark.operators.sketch import hist_partials, hist_quantiles

        df = spark.range(1000).select(
            F.lit(0).alias("d"),
            F.when(F.col("id") % 4 == 0, None)
            .otherwise(F.col("id").cast("double"))
            .alias("v"),
        )
        p = hist_partials(df, value_col="v", bucket=F.col("d"), width=8.0)
        assert p.filter(F.col("bin").isNull()).count() == 0
        clean = hist_partials(
            df.filter(F.col("v").isNotNull()), value_col="v",
            bucket=F.col("d"), width=8.0,
        )
        est = {r["q"]: r["est"] for r in hist_quantiles(p, width=8.0).collect()}
        want = {r["q"]: r["est"] for r in hist_quantiles(clean, width=8.0).collect()}
        assert est == want and all(v is not None for v in est.values())


class TestPsiDrift:
    def test_identical_slices_score_zero(self, spark):
        from etl_batch_spark.operators.drift import psi

        df = spark.createDataFrame(
            [(t,) for t in ["a"] * 50 + ["b"] * 30 + ["c"] * 20], "t string"
        )
        row = psi(df, df, bucket_col="t").first()
        assert row["psi"] == 0.0
        assert row["n_ref"] == row["n_cur"] == 100
        assert row["n_buckets"] == 3

    def test_shift_scores_high_and_smoothing_handles_new_buckets(self, spark):
        from etl_batch_spark.operators.drift import psi

        ref = spark.createDataFrame(
            [(t,) for t in ["a"] * 90 + ["b"] * 10], "t string"
        )
        # mass moved to b, plus a bucket unseen in ref
        cur = spark.createDataFrame(
            [(t,) for t in ["a"] * 10 + ["b"] * 80 + ["z"] * 10], "t string"
        )
        row = psi(ref, cur, bucket_col="t").first()
        assert row["psi"] > 0.25  # "shifted" by the standard reading
        assert row["n_buckets"] == 3  # union includes the new bucket
        # symmetric-ish sanity: swapping slices still flags the shift
        back = psi(cur, ref, bucket_col="t").first()
        assert back["psi"] > 0.25

    def test_mild_drift_scores_between(self, spark):
        from etl_batch_spark.operators.drift import psi

        ref = spark.createDataFrame(
            [(t,) for t in ["a"] * 60 + ["b"] * 40], "t string"
        )
        cur = spark.createDataFrame(
            [(t,) for t in ["a"] * 52 + ["b"] * 48], "t string"
        )
        row = psi(ref, cur, bucket_col="t").first()
        assert 0.0 < row["psi"] < 0.1  # "stable" band


class TestIvmApplyFeed:
    def _mk(self, spark, rows):
        return spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        )

    def _partials(self, df):
        from etl_batch_spark.operators.rollup import _partials_from_raw

        return _partials_from_raw(
            df, ts_col="ts", key_cols=["event_type"], value_col="value", level="day"
        )

    @staticmethod
    def _as_map(df):
        return {
            (r["bucket"], r["event_type"]): (r["n"], r["sum_v"], r["min_v"], r["max_v"])
            for r in df.collect()
        }

    def _assert_equiv(self, got, want):
        assert set(got) == set(want)
        for k, (n, s, lo, hi) in want.items():
            gn, gs, glo, ghi = got[k]
            assert gn == n and glo == lo and ghi == hi
            assert abs(gs - s) < 1e-9  # float add order differs from rebuild

    def test_insert_only_feed_is_purely_incremental(self, spark, tmp_path):
        import datetime as dt

        from etl_batch_spark.operators.ivm import apply_feed
        from etl_batch_spark.sources.txlog import TxTable

        d = dt.datetime(2024, 3, 1, 10)
        a = [(d, "view", 1.5), (d, "click", 2.0),
             (d + dt.timedelta(days=1), "view", 3.25)]
        b = [(d, "view", 9.0), (d + dt.timedelta(days=2), "buy", 4.0)]
        t = TxTable(spark, str(tmp_path / "t"))
        t.append(self._mk(spark, a))                  # v0
        partials = self._partials(self._mk(spark, a))
        t.append(self._mk(spark, b))                  # v1
        feed = t.changes(0, 1)
        got = apply_feed(
            partials, feed, key_cols=["event_type"], level="day"
        )
        want = self._partials(t.read())
        self._assert_equiv(self._as_map(got), self._as_map(want))

    def test_delete_feed_recomputes_touched_groups_only(self, spark, tmp_path):
        import datetime as dt

        from etl_batch_spark.operators.ivm import apply_feed
        from etl_batch_spark.sources.txlog import TxTable

        d = dt.datetime(2024, 3, 1, 10)
        a = [(d, "view", 1.5), (d, "view", 2.5), (d, "click", 2.0),
             (d + dt.timedelta(days=1), "view", 3.25)]
        t = TxTable(spark, str(tmp_path / "t"))
        t.append(self._mk(spark, a))                  # v0
        partials = self._partials(self._mk(spark, a))
        # overwrite drops one 'view' row (incl. the day-1 min) and adds a buy
        new = [(d, "view", 2.5), (d, "click", 2.0),
               (d + dt.timedelta(days=1), "view", 3.25), (d, "buy", 7.0)]
        t.overwrite(self._mk(spark, new))             # v1
        feed = t.changes(0, 1)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            apply_feed(partials, feed, key_cols=["event_type"], level="day")
        got = apply_feed(
            partials, feed, key_cols=["event_type"], level="day", raw=t.read()
        )
        want = self._partials(t.read())
        self._assert_equiv(self._as_map(got), self._as_map(want))
        # a group whose rows all vanish is gone, like a rebuild
        gone = [(d, "solo", 1.0)]
        t2 = TxTable(spark, str(tmp_path / "t2"))
        t2.append(self._mk(spark, gone))
        p2 = self._partials(self._mk(spark, gone))
        t2.overwrite(self._mk(spark, [(d, "kept", 2.0)]))
        got2 = apply_feed(
            p2, t2.changes(0, 1), key_cols=["event_type"], level="day",
            raw=t2.read(),
        )
        assert self._as_map(got2) == self._as_map(self._partials(t2.read()))

    def test_unknown_level_fails_loudly(self, spark):
        import datetime as dt

        import pytest as _pytest

        from etl_batch_spark.operators.ivm import apply_feed

        d = dt.datetime(2024, 3, 1, 10)
        rows = self._mk(spark, [(d, "view", 1.0)])
        partials = self._partials(rows)
        feed = rows.withColumn("_change_type", F.lit("insert"))
        # Spark's date_trunc returns NULL for unknown units — without the
        # guard every feed row would silently land in one NULL bucket
        with _pytest.raises(KeyError, match="fortnight"):
            apply_feed(partials, feed, key_cols=["event_type"], level="fortnight")

    def test_integer_sum_type_survives_fold(self, spark):
        """The insert-only fold must not coerce a long sum_v to double
        (schema-compatible appends, bit-identical rebuilds) nor turn an
        all-NULL group's sum into 0.0."""
        import datetime as dt

        from etl_batch_spark.operators.ivm import apply_feed
        from etl_batch_spark.operators.rollup import _partials_from_raw

        d = dt.datetime(2024, 3, 1, 10)
        schema = "ts timestamp, event_type string, value long"
        base = spark.createDataFrame([(d, "view", 5), (d, "nullish", None)], schema)
        delta = spark.createDataFrame([(d, "view", 7), (d, "nullish", None)], schema)
        partials = _partials_from_raw(
            base, ts_col="ts", key_cols=["event_type"], value_col="value", level="day"
        )
        feed = delta.withColumn("_change_type", F.lit("insert"))
        got = apply_feed(partials, feed, key_cols=["event_type"], level="day")
        assert dict(got.dtypes)["sum_v"] == dict(partials.dtypes)["sum_v"]
        by_key = {r["event_type"]: (r["n"], r["sum_v"]) for r in got.collect()}
        assert by_key["view"] == (2, 12)
        assert by_key["nullish"] == (2, None)  # rebuild gives NULL, not 0.0


class TestFrequentItems:
    """operators/freq.py — Misra–Gries candidates + exact recount."""

    def _exact(self, df, key, support):
        from pyspark.sql import functions as F

        n = df.select(F.count(key)).first()[0]
        import math

        thr = math.ceil(support * n)
        return {
            (r[key], r["n"])
            for r in df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= thr)
            .collect()
        }

    def test_matches_exact_groupby_on_skewed_keys(self, spark):
        from etl_batch_spark.operators.freq import frequent_items

        rows = (
            [("hot",)] * 400
            + [("warm",)] * 60
            + [(f"tail{i}",) for i in range(540)]
        )
        df = spark.createDataFrame(rows, "k string").repartition(8)
        got = {
            (r["k"], r["n"])
            for r in frequent_items(df, "k", support=0.05).collect()
        }
        assert got == self._exact(df, "k", 0.05) == {("hot", 400), ("warm", 60)}

    def test_partition_layout_invariance(self, spark):
        from etl_batch_spark.operators.freq import frequent_items

        rows = [(f"k{i % 37}",) for i in range(1110)]
        base = spark.createDataFrame(rows, "k string")
        a = frequent_items(base.repartition(1), "k", support=0.02).collect()
        b = frequent_items(base.repartition(16), "k", support=0.02).collect()
        assert sorted((r["k"], r["n"], r["threshold"]) for r in a) == sorted(
            (r["k"], r["n"], r["threshold"]) for r in b
        )
        assert len(a) == 37  # uniform 30/1110 ≈ 2.7% ≥ 2% support

    def test_candidates_are_a_superset_with_bounded_undercount(self, spark):
        from etl_batch_spark.operators.freq import mg_candidates

        import math

        support = 0.1
        cap = math.ceil(1 / support) + 1
        rows = [(f"k{i % 61}",) for i in range(600)] + [("big",)] * 300
        df = spark.createDataFrame(rows, "k string").repartition(4)
        cand = mg_candidates(df, "k", support).collect()
        keys = {r["mg_key"] for r in cand}
        assert "big" in keys  # the only ≥10% key must survive
        # per-partition undercount bound: freq_p - mg_count ≤ mg_rows/(cap+1)
        # (can't see per-partition true freqs here, but counters never
        # exceed truth: global recount of any candidate ≥ its counter sum)
        for r in cand:
            assert 0 < r["mg_count"] <= r["mg_rows"]
            assert len(keys) <= 4 * cap + 1  # ≤ cap rows per partition

    def test_nulls_ignored_and_bad_support_rejected(self, spark):
        import pytest as _pytest

        from etl_batch_spark.operators.freq import frequent_items

        df = spark.createDataFrame(
            [("a",)] * 5 + [(None,)] * 20, "k string"
        )
        got = frequent_items(df, "k", support=0.5).collect()
        # N counts non-null rows only: threshold = ceil(0.5*5) = 3
        assert [(r["k"], r["n"], r["threshold"]) for r in got] == [("a", 5, 3)]
        with _pytest.raises(ValueError):
            frequent_items(df, "k", support=0.0)


class TestCusumFlags:
    """operators/drift.py::cusum_flags — Page's sequential detector."""

    def _mk(self, spark, series):
        rows = [
            (2024, i, x) for i, x in enumerate(series)
        ]
        return spark.createDataFrame(rows, "yr int, t int, x long")

    def test_flat_series_never_flags(self, spark):
        from etl_batch_spark.operators.drift import cusum_flags

        df = self._mk(spark, [10] * 60)
        out = cusum_flags(
            df, group_col="yr", order_col="t", value_col="x",
            drift=1, threshold=5,
        )
        assert out.filter("flagged").count() == 0
        assert out.count() == 60

    def test_sustained_shift_flags_and_single_spike_does_not(self, spark):
        from etl_batch_spark.operators.drift import cusum_flags

        # mean ≈ 10; k_hi ≈ ceil(mean)+1.  A one-day spike of +4 cannot
        # cross threshold 5, but a sustained +3 shift accumulates.
        spike = [10] * 30 + [14] + [10] * 29
        shift = [10] * 30 + [16] * 30
        out_spike = cusum_flags(
            self._mk(spark, spike), group_col="yr", order_col="t",
            value_col="x", drift=1, threshold=5,
        )
        assert out_spike.filter("flagged").count() == 0
        out_shift = cusum_flags(
            self._mk(spark, shift), group_col="yr", order_col="t",
            value_col="x", drift=1, threshold=5,
        ).orderBy("t").collect()
        flagged_ts = [r["t"] for r in out_shift if r["flagged"]]
        # the reference level is the pooled year mean (13), so BOTH
        # regimes deviate and accumulate — the detector must flag, and
        # cumulative state keeps the final shifted day flagged
        assert flagged_ts and flagged_ts[-1] == 59
        assert any(r["flagged"] and r["s_plus"] > 5 for r in out_shift)

    def test_downward_shift_trips_s_minus(self, spark):
        from etl_batch_spark.operators.drift import cusum_flags

        series = [20] * 30 + [12] * 30
        out = cusum_flags(
            self._mk(spark, series), group_col="yr", order_col="t",
            value_col="x", drift=1, threshold=5,
        ).orderBy("t").collect()
        # s_minus accumulates through the low regime and trips; s_plus
        # peaks in the high regime then decays — both flag against the
        # pooled mean, which is the honest level-shift reading
        assert any(r["flagged"] and r["s_minus"] > 5 for r in out)
        assert any(r["flagged"] and r["s_plus"] > 5 and r["t"] < 30 for r in out)

    def test_groups_reset_state(self, spark):
        from etl_batch_spark.operators.drift import cusum_flags

        rows = [(2023, i, 10 + (6 if i > 20 else 0)) for i in range(40)] + [
            (2024, i, 10) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "yr int, t int, x long")
        out = cusum_flags(
            df, group_col="yr", order_col="t", value_col="x",
            drift=1, threshold=5,
        )
        assert out.filter("flagged AND yr = 2023").count() > 0
        assert out.filter("flagged AND yr = 2024").count() == 0


class TestOperatorNullAndEdgeHardening:
    """Round-3 review fixes: NULL-keyed groups, escaped partitions,
    deterministic ties, empty-input contracts, name escaping."""

    def test_apply_feed_nullsafe_insert_and_delete_paths(self, spark, tmp_path):
        import datetime

        from etl_batch_spark.operators.ivm import apply_feed
        from etl_batch_spark.operators.rollup import _partials_from_raw

        t = datetime.datetime(2024, 1, 1, 12, 0, 0)
        schema = "ts timestamp, event_type string, value double"
        base = spark.createDataFrame(
            [(t, None, 1.0), (t, None, 2.0), (t, "click", 5.0)], schema
        )
        partials = _partials_from_raw(
            base, ts_col="ts", key_cols=["event_type"], value_col="value",
            level="day",
        )
        # insert path: a NULL-keyed group must fold into the existing
        # NULL-keyed partial row, exactly as a rebuild would
        ins = spark.createDataFrame([(t, None, 4.0)], schema).withColumn(
            "_change_type", F.lit("insert")
        )
        got = apply_feed(partials, ins, key_cols=["event_type"], level="day")
        rebuilt = _partials_from_raw(
            base.unionByName(ins.drop("_change_type")),
            ts_col="ts", key_cols=["event_type"], value_col="value", level="day",
        )
        key = lambda r: tuple(map(str, r))
        assert sorted(map(tuple, got.collect()), key=key) == sorted(
            map(tuple, rebuilt.collect()), key=key
        )
        # delete path: deleting a NULL-keyed row must drop it from the
        # NULL group, not leave the stale pre-delete partial behind
        post = spark.createDataFrame([(t, None, 1.0), (t, "click", 5.0)], schema)
        dele = spark.createDataFrame([(t, None, 2.0)], schema).withColumn(
            "_change_type", F.lit("delete")
        )
        got2 = apply_feed(
            partials, dele, key_cols=["event_type"], level="day", raw=post
        )
        rebuilt2 = _partials_from_raw(
            post, ts_col="ts", key_cols=["event_type"], value_col="value",
            level="day",
        )
        assert sorted(map(tuple, got2.collect()), key=key) == sorted(
            map(tuple, rebuilt2.collect()), key=key
        )

    def test_mad_outliers_null_value_does_not_poison_group(self, spark):
        from etl_batch_spark.operators.outliers import grouped_mad_outliers

        rows = [("g", float(v)) for v in [10, 11, 9, 10, 11, 9, 1000]]
        rows.append(("g", None))  # one NULL must not NaN the group stats
        df = spark.createDataFrame(rows, "grp string, v double")
        got = grouped_mad_outliers(df, group_col="grp", value_col="v", k=3.0).collect()
        assert [r["v"] for r in got] == [1000.0]

    def test_apply_changelog_seq_tie_delete_beats_upsert(self, spark):
        from etl_batch_spark.operators.cdc import apply_changelog

        snap = spark.createDataFrame([(1, "old")], "k long, v string")
        chg = spark.createDataFrame(
            [(1, "new", 100, "U"), (1, "gone", 100, "D")],
            "k long, v string, seq long, op string",
        )
        for _ in range(3):  # deterministic across runs
            out = apply_changelog(
                snap, chg.repartition(4), keys=["k"], seq_col="seq", op_col="op"
            ).collect()
            assert out == []  # the tied delete wins, every time

    def test_psi_both_slices_empty_keeps_one_row_contract(self, spark):
        from etl_batch_spark.operators.drift import psi

        empty = spark.createDataFrame([], "b string")
        row = psi(empty, empty, bucket_col="b").collect()
        assert len(row) == 1
        assert row[0]["psi"] is None
        assert (row[0]["n_ref"], row[0]["n_cur"], row[0]["n_buckets"]) == (0, 0, 0)

    def test_asof_empty_value_cols_means_none(self, spark):
        import datetime

        from etl_batch_spark.operators.asof import asof_join

        t = datetime.datetime(2024, 1, 1)
        left = spark.createDataFrame([(1, t)], "k long, ts timestamp")
        right = spark.createDataFrame([(1, t, 9.0)], "k long, ts timestamp, px double")
        got = asof_join(left, right, on="ts", by=["k"], right_value_cols=[])
        assert "px" not in got.columns  # explicit [] != default-all

    def test_expectations_rule_name_with_quote(self, spark):
        from etl_batch_spark.operators.expectations import Rule, evaluate

        df = spark.createDataFrame([(1,), (None,)], "x int")
        rules = [Rule("not_null(o'brien_id)", F.col("x").isNull())]
        got = evaluate(df, rules).collect()
        assert got[0]["rule"] == "not_null(o'brien_id)"
        assert got[0]["violations"] == 1

    def test_cms_partials_excludes_null_keys(self, spark):
        from etl_batch_spark.operators.sketch import CMS_DEPTH, cms_partials

        df = spark.createDataFrame(
            [("a",), ("a",), (None,)], "k string"
        ).withColumn("ts", F.lit("2024-01-01").cast("timestamp"))
        got = cms_partials(df, bucket=F.date_trunc("day", "ts"), key_col="k").collect()
        assert all(r["c"] is not None for r in got)
        assert sum(r["cnt"] for r in got) == 2 * CMS_DEPTH  # 2 non-null rows x depth
