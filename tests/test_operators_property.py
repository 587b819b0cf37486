"""Property-based parity for the round-2 operators: each distributed
implementation must agree with an independent pure-Python/numpy replay
on arbitrary generated inputs, not just fixtures.

Examples are kept small-count (each one runs real Spark jobs); every
property evaluates ONE DataFrame per example.
"""

from __future__ import annotations

import hashlib

from hypothesis import given, settings, strategies as st
from pyspark.sql import Window, functions as F


class TestGlobalRowNumberProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 9) | st.none(), st.integers(0, 4) | st.none()),
            min_size=1,
            max_size=60,
        ),
        st.integers(min_value=2, max_value=8),
    )
    def test_matches_window_semantics(self, spark, rows, nparts):
        from etl_batch_spark.operators.ranks import global_row_number

        df = spark.createDataFrame(
            [(k, g, i) for i, (k, g) in enumerate(rows)],
            "k int, g int, id long",
        )
        got = global_row_number(
            df,
            [F.col("k").asc_nulls_last(), F.col("id").asc()],
            "rk",
            partition_cols=["g"],
            num_partitions=nparts,
        )
        want = df.withColumn(
            "rk",
            F.row_number()
            .over(
                Window.partitionBy("g").orderBy(
                    F.col("k").asc_nulls_last(), F.col("id").asc()
                )
            )
            .cast("int"),
        )
        assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)


def _py_hot_spans(docs: "list[list[str]]", n: int, min_count: int):
    """Independent replay of hot_span_scrub semantics."""
    from collections import Counter

    grams = Counter()
    for toks in docs:
        for i in range(max(0, len(toks) - n + 1)):
            grams[tuple(toks[i : i + n])] += 1
    out = []
    for toks in docs:
        flagged = [
            i
            for i in range(max(0, len(toks) - n + 1))
            if grams[tuple(toks[i : i + n])] >= min_count
        ]
        spans = []
        for pos in flagged:
            if spans and pos <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], pos + n)
            else:
                spans.append([pos, pos + n])
        scrubbed = sum(e - s for s, e in spans)
        out.append((len(toks), len(spans), scrubbed))
    return out


class TestHotSpanScrubProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from("abcde"), min_size=0, max_size=25),
            min_size=1,
            max_size=12,
        ),
        st.integers(min_value=2, max_value=4),
    )
    def test_matches_python_replay(self, spark, docs, n):
        from etl_batch_spark.llmops.dedup import hot_span_scrub

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_spans"], r["n_scrubbed"])
            for r in hot_span_scrub(df, n=n, min_count=2).collect()
        }
        want = dict(enumerate(_py_hot_spans(docs, n, 2)))
        assert got == want


class TestPortableHllProperty:
    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.integers(-1000, 1000), min_size=1, max_size=80))
    def test_registers_match_md5_replay(self, spark, keys):
        from etl_batch_spark.operators.sketch import hll_partials

        df = spark.createDataFrame([(k,) for k in keys], "k long")
        got = {
            r["idx"]: r["max_rho"]
            for r in hll_partials(df, key_col="k", bucket=F.lit(0)).collect()
        }
        want: dict[int, int] = {}
        for k in keys:
            h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
            idx, w = h % 256, h // 256
            rho = 53 if w == 0 else 53 - w.bit_length()
            want[idx] = max(want.get(idx, 0), rho)
        assert got == want


class TestHistogramQuantilesProperty:
    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.floats(0, 1000, allow_nan=False, allow_infinity=False),
            min_size=1,
            max_size=80,
        ),
        st.sampled_from([4.0, 8.0, 16.0]),
    )
    def test_matches_python_replay(self, spark, values, width):
        from collections import Counter

        from etl_batch_spark.operators.sketch import hist_partials, hist_quantiles

        df = spark.createDataFrame([(v,) for v in values], "v double")
        part = hist_partials(df, value_col="v", bucket=F.lit(0), width=width)
        got = {
            r["q"]: r["est"]
            for r in hist_quantiles(part, width=width, qs=(0.5, 0.9)).collect()
        }
        bins = Counter(int(v // width) for v in values)
        total = len(values)
        want = {}
        for q in (0.5, 0.9):
            target = q * total
            cum = 0
            for b in sorted(bins):
                if cum + bins[b] >= target:
                    want[q] = round(b * width + width * (target - cum) / bins[b], 4)
                    break
                cum += bins[b]
        assert got == want


class TestCountMinProperty:
    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.integers(0, 40), min_size=1, max_size=120))
    def test_never_undercounts_and_matches_replay(self, spark, keys):
        from collections import Counter

        from etl_batch_spark.operators.sketch import cms_estimate, cms_partials

        df = spark.createDataFrame([(k,) for k in keys], "k long")
        part = cms_partials(df, key_col="k", bucket=F.lit(0))
        probes = spark.createDataFrame([(k,) for k in set(keys)], "k long")
        got = {
            r["k"]: r["est_count"]
            for r in cms_estimate(part, probes, key_col="k").collect()
        }
        truth = Counter(keys)
        # python replay of the d=4 x w=256 counters
        counters: dict[tuple[int, int], int] = {}
        for k in keys:
            for r in range(4):
                h = int(hashlib.md5(f"{r}|{k}".encode()).hexdigest()[:15], 16)
                counters[(r, h % 256)] = counters.get((r, h % 256), 0) + 1
        for k, n in truth.items():
            est = min(
                counters.get(
                    (r, int(hashlib.md5(f"{r}|{k}".encode()).hexdigest()[:15], 16) % 256),
                    0,
                )
                for r in range(4)
            )
            assert got[k] == est
            assert got[k] >= n  # CMS never under-counts

    def test_merge_equals_rebuild(self, spark):
        from etl_batch_spark.operators.sketch import cms_merge, cms_partials

        df = spark.createDataFrame(
            [(d, k) for d in (1, 2, 3) for k in range(d * 10)], "day int, k long"
        )
        fine = cms_partials(df, key_col="k", bucket=F.col("day"))
        merged = {
            (r["r"], r["c"]): r["cnt"]
            for r in cms_merge(fine, F.lit(0)).collect()
        }
        rebuilt = {
            (r["r"], r["c"]): r["cnt"]
            for r in cms_partials(df, key_col="k", bucket=F.lit(0)).collect()
        }
        assert merged == rebuilt  # SUM-merge associativity


class TestSaltedJoinProperty:
    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(st.integers(0, 5), min_size=1, max_size=50),
        st.lists(st.tuples(st.integers(0, 5), st.integers(0, 99)), max_size=10),
    )
    def test_result_identical_to_plain_join(self, spark, big_keys, small_rows):
        from etl_batch_spark.operators.joins import salted_join

        big = spark.createDataFrame(
            [(k, i) for i, k in enumerate(big_keys)], "k int, row long"
        )
        small = spark.createDataFrame(
            list(set(small_rows)) or [(None, None)], "k int, v int"
        ).filter(F.col("k").isNotNull())
        got = sorted(salted_join(big, small, "k").collect(), key=str)
        want = sorted(big.join(small, "k").collect(), key=str)
        assert got == want


class TestAsofJoinProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 10_000)),
            min_size=1,
            max_size=40,
        ),
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 10_000), st.integers(0, 99)),
            min_size=1,
            max_size=40,
        ),
        st.sampled_from([None, 500.0, 2000.0]),
    )
    def test_matches_pandas_merge_asof(self, spark, lrows, rrows, tol):
        """pandas.merge_asof is the semantics contract (independent
        implementation) for the engine's backward as-of join."""
        import pandas as pd

        from etl_batch_spark.operators.asof import asof_join

        # dedupe (by, ts) on the right: with equal keys the matched VALUE
        # is implementation-defined in both engines; keep the max value
        # (deterministic) by building a dict keyed on (k, ts)
        rmap = {}
        for k, ts, v in rrows:
            rmap[(k, ts)] = max(v, rmap.get((k, ts), -1))
        rrows = [(k, ts, v) for (k, ts), v in sorted(rmap.items())]

        ldf = spark.createDataFrame(
            [(k, ts, i) for i, (k, ts) in enumerate(lrows)],
            "k int, tsl long, lid long",
        ).select("k", F.timestamp_micros("tsl").alias("ts"), "lid")
        rdf = spark.createDataFrame(
            rrows, "k int, tsl long, v int"
        ).select("k", F.timestamp_micros("tsl").alias("ts"), "v")

        got = {
            r["lid"]: r["v_right"]
            for r in asof_join(
                ldf, rdf, on="ts", by=["k"], direction="backward",
                tolerance_s=(tol / 1e6 if tol else None),
                right_value_cols=["v"],
            ).collect()
        }

        lp = pd.DataFrame(
            [(k, ts, i) for i, (k, ts) in enumerate(lrows)],
            columns=["k", "ts", "lid"],
        ).sort_values("ts", kind="mergesort")
        rp = pd.DataFrame(rrows, columns=["k", "ts", "v"]).sort_values(
            "ts", kind="mergesort"
        )
        merged = pd.merge_asof(
            lp, rp, on="ts", by="k", direction="backward",
            tolerance=int(tol) if tol else None,
        )
        want = {
            int(r.lid): (None if pd.isna(r.v) else int(r.v))
            for r in merged.itertuples()
        }
        assert got == want


class TestTxTableModelProperty:
    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.tuples(st.just("append"), st.integers(1, 5)),
                st.tuples(st.just("overwrite"), st.integers(1, 5)),
                st.tuples(st.just("compact"), st.just(0)),
            ),
            min_size=1,
            max_size=5,
        )
    )
    def test_every_version_matches_model(self, spark, tmp_path_factory, ops):
        """Model-based check: after an arbitrary commit sequence, EVERY
        version's snapshot equals an in-memory replay of the log."""
        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path_factory.mktemp("tx")))
        model: list[list[int]] = []  # version -> expected ids
        next_id = 0
        for op, n in ops:
            if op == "append":
                rows = list(range(next_id, next_id + n))
                next_id += n
                t.append(spark.range(rows[0], rows[-1] + 1))
                model.append((model[-1] if model else []) + rows)
            elif op == "overwrite":
                rows = list(range(next_id, next_id + n))
                next_id += n
                t.overwrite(spark.range(rows[0], rows[-1] + 1))
                model.append(rows)
            else:
                if not model:
                    continue  # compact on an empty table is undefined
                t.compact(target_files=1)
                model.append(model[-1])
        for v, want in enumerate(model):
            got = sorted(r["id"] for r in t.read(version=v).collect())
            assert got == sorted(want), f"version {v}"


class TestFrequentItemsProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(st.integers(0, 15), min_size=1, max_size=120),
        st.sampled_from([0.05, 0.1, 0.25]),
        st.integers(min_value=1, max_value=8),
    )
    def test_matches_exact_counting(self, spark, keys, support, nparts):
        import math
        from collections import Counter

        from etl_batch_spark.operators.freq import frequent_items

        df = spark.createDataFrame(
            [(f"k{k}",) for k in keys], "k string"
        ).repartition(nparts)
        got = {
            (r["k"], r["n"])
            for r in frequent_items(df, "k", support=support).collect()
        }
        thr = math.ceil(support * len(keys))
        want = {
            (f"k{k}", n) for k, n in Counter(keys).items() if n >= thr
        }
        assert got == want


class TestGlobalPrefixAggProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(st.integers(-5, 5), min_size=1, max_size=60),
        st.integers(min_value=2, max_value=8),
        st.sampled_from(["sum", "max"]),
        st.booleans(),
    )
    def test_matches_window_semantics(self, spark, vals, nparts, agg, inclusive):
        from etl_batch_spark.operators.ranks import global_prefix_agg

        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vals)], "v int, id long"
        )
        got = global_prefix_agg(
            df,
            [F.col("id").asc()],
            F.col("v"),
            "run",
            agg=agg,
            inclusive=inclusive,
            num_partitions=nparts,
        )
        fn = F.sum if agg == "sum" else F.max
        end = 0 if inclusive else -1
        want = df.withColumn(
            "run",
            fn("v").over(
                Window.orderBy(F.col("id").asc()).rowsBetween(
                    Window.unboundedPreceding, end
                )
            ),
        )
        assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
