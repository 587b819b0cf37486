"""Physical-plan contract tests: the performance properties the engine
relies on at 100 TB (pushdown, pruning, broadcast) are asserted, not
assumed."""

from __future__ import annotations

import pytest

from etl_batch_spark import plans
from etl_batch_spark.queries import QUERIES


def _file_scans(nodes) -> list:
    return [n for _, n in nodes if n.getClass().getSimpleName() == "FileSourceScanExec"]


def pushed_filters(df) -> list[str]:
    """All pushed-down data-source filters across the plan's file scans."""
    return [
        f.toString()
        for scan in _file_scans(plans.walk(df))
        for f in plans._seq(scan.pushedDownFilters())
    ]


def read_schemas(df) -> list[list[str]]:
    """Column lists actually read by each file scan (pruning check)."""
    return [list(scan.requiredSchema().fieldNames()) for scan in _file_scans(plans.walk(df))]


def unpartitioned_windows(plan) -> int:
    """Window and WindowGroupLimit nodes with NO partition spec: the
    `WindowExec: No Partition Defined` single-task shape.  ``plan`` is a
    DataFrame or its ``plans.walk``."""
    nodes = plan if isinstance(plan, list) else plans.walk(plan)
    return sum(
        name in ("Window", "WindowGroupLimit") and node.partitionSpec().isEmpty()
        for name, node in nodes
    )


def assert_filter_pushed(df, column: str) -> None:
    filters = pushed_filters(df)
    assert any(column in f for f in filters), f"no pushed filter on {column!r}; pushed: {filters}"


def assert_broadcast(df, at_least: int = 1) -> None:
    nodes = plans.walk(df)
    n = plans.count_ops(nodes, "BroadcastHashJoin") + plans.count_ops(
        nodes, "BroadcastNestedLoopJoin"
    )
    assert n >= at_least, f"expected ≥{at_least} broadcast joins, plan has {n}"


def assert_columns_pruned(df, table_width: int) -> None:
    """No scan reads all ``table_width`` columns (pruning active)."""
    for cols in read_schemas(df):
        assert len(cols) < table_width, f"scan reads {len(cols)} columns — pruning lost: {cols}"


def test_q01_filter_pushed_and_columns_pruned(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"].build(spark, sf_dir)
    assert_filter_pushed(df, "l_shipdate")
    # lineitem has 11 columns; q01 needs 7
    assert_columns_pruned(df, table_width=11)


def test_plan_checks_see_what_explain_text_hides(spark, tmp_path):
    """Shapes the explain text garbles: a window with neither partition
    nor order, an IN list among the pushed filters, a nested column
    before the last field of a scan's schema, a scan inside a scalar
    subquery, and a plan that already ran (its operators sit under AQE
    query stages)."""
    from pyspark.sql import Window, functions as F

    w = spark.range(10).select(F.sum("id").over(Window.partitionBy()).alias("s"))
    assert unpartitioned_windows(w) == 1

    events = str(tmp_path / "events")
    spark.createDataFrame(
        [("click", 2.0), ("view", 0.5)], "event_type string, value double"
    ).write.parquet(events)
    ev = spark.read.parquet(events).filter(
        F.col("event_type").isin("click", "purchase") & (F.col("value") > 1)
    )
    filters = pushed_filters(ev)
    assert "In(event_type, [click,purchase])" in filters, filters
    assert "GreaterThan(value,1.0)" in filters, filters
    sub = spark.sql(f"SELECT (SELECT max(value) FROM parquet.`{events}`) AS m")
    assert plans.scan_counts(sub) == {"parquet": 1, "rdd": 0}

    embeddings = str(tmp_path / "embeddings")
    spark.createDataFrame(
        [(1, [0.5, 1.5], 3)], "vec_id long, embedding array<float>, label int"
    ).write.parquet(embeddings)
    scan = spark.read.parquet(embeddings)
    assert read_schemas(scan) == [["vec_id", "embedding", "label"]]

    g = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    assert plans.count_ops(g, "Exchange") == 1
    g.collect()
    assert plans.count_ops(g, "Exchange") == 1


def test_q09_broadcasts_dimensions(spark, sf_dir):
    df = QUERIES["q09_multiway_join_revenue"].build(spark, sf_dir)
    assert_broadcast(df, at_least=2)  # nation + region at minimum
    assert_filter_pushed(df, "o_orderdate")


def test_q02_point_lookup_pushdown(spark, sf_dir):
    df = QUERIES["q02_point_lookup"].build(spark, sf_dir)
    # the segment equality is pushable (upper() folds on literal side
    # is not — but IsNotNull + custkey arithmetic guard the scan)
    assert pushed_filters(df), "point lookup should push something to the scan"


def test_q12_topk_uses_take_ordered(spark, sf_dir):
    df = QUERIES["q12_topk_orders"].build(spark, sf_dir)
    assert plans.count_ops(df, "TakeOrderedAndProject") == 1


def test_semi_and_anti_join_operators(spark, sf_dir):
    semi = QUERIES["q07_exists_semi_join"].build(spark, sf_dir)
    anti = QUERIES["q08_not_exists_anti_join"].build(spark, sf_dir)
    assert "LeftSemi" in plans.formatted_plan(semi)
    assert "LeftAnti" in plans.formatted_plan(anti)


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    df = QUERIES["q23_range_join_bands"].build(spark, sf_dir)
    assert plans.count_ops(df, "BroadcastNestedLoopJoin") == 1


def test_q42_broadcasts_filtered_part_side(spark, sf_dir):
    df = QUERIES["q42_small_qty_revenue"].build(spark, sf_dir)
    assert_broadcast(df)
    assert_filter_pushed(df, "p_brand")


def test_q45_broadcasts_region_nation(spark, sf_dir):
    df = QUERIES["q45_local_supplier_volume"].build(spark, sf_dir)
    assert plans.count_ops(df, "BroadcastHashJoin") >= 2
    assert_filter_pushed(df, "r_name")


def test_q47_plans_semi_and_anti(spark, sf_dir):
    df = QUERIES["q47_multi_supplier_returns"].build(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir):
    """Every registry query built and walked once; the registry-wide
    checks below read their numbers from here."""
    out = {}
    for name, q in QUERIES.items():
        nodes = plans.walk(q.build(spark, sf_dir))
        out[name] = {
            "cartesian": plans.count_ops(nodes, "CartesianProduct"),
            "unpartitioned_windows": unpartitioned_windows(nodes),
            "scans": plans.scan_counts(nodes),
        }
    return out


def test_no_query_plans_a_cartesian_product(registry_plans):
    """Global invariant: candidate pairs, salts and seeds always fan out
    via broadcast or equi-join keys — a CartesianProduct of two big
    sides would be quadratic at any scale."""
    offenders = [name for name, p in registry_plans.items() if p["cartesian"] > 0]
    assert offenders == []


def test_q55_q58_broadcast_dims_single_fact_exchange(spark, sf_dir):
    from etl_batch_spark.queries import QUERIES

    for name in ("q55_volume_shipping", "q58_returned_items"):
        df = QUERIES[name].build(spark, sf_dir)
        assert plans.count_ops(df, "CartesianProduct") == 0
        assert plans.count_ops(df, "BroadcastHashJoin") >= 3, name


def test_ev03_day_spine_is_broadcast(spark, sf_dir):
    from etl_batch_spark.queries import QUERIES

    df = QUERIES["ev03_active_users"].build(spark, sf_dir)
    # the non-equi range join must be a broadcast NLJ of the tiny spine,
    # never a cartesian
    assert plans.count_ops(df, "BroadcastNestedLoopJoin") == 1
    assert plans.count_ops(df, "CartesianProduct") == 0


def test_pipe01_composes_without_cartesian_or_python(spark, sf_dir):
    from etl_batch_spark.queries import QUERIES

    df = QUERIES["pipe01_training_mix"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert "BatchEvalPython" not in s  # no row-at-a-time Python in the DAG


def test_q71_overlap_join_is_hash_join(spark, sf_dir):
    """The binned interval join must plan on equi-keys — a nested-loop
    plan here means the bin trick regressed."""
    df = QUERIES["q71_order_window_overlap"].build(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # equi-join of some flavor (broadcast at test scale, SMJ/SHJ at 100 TB)
    n_equi = (
        plans.count_ops(df, "SortMergeJoin")
        + plans.count_ops(df, "ShuffledHashJoin")
        + plans.count_ops(df, "BroadcastHashJoin")
    )
    assert n_equi >= 1


def test_q75_share_window_over_aggregate_only(spark, sf_dir):
    """nation/region broadcast; the ratio window runs on the 25-row
    aggregate — no extra exchange of the fact table."""
    df = QUERIES["q75_revenue_share"].build(spark, sf_dir)
    assert plans.count_ops(df, "BroadcastHashJoin") >= 2
    assert plans.count_ops(df, "CartesianProduct") == 0


def test_et12_fifo_join_is_hash_on_partkey(spark, sf_dir):
    """The pair join must hash on l_partkey (overlap predicate as a
    post-join filter) — a nested loop here means the equi-key was lost."""
    df = QUERIES["et12_fifo_allocation"].build(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tx14_bm25_topk_is_take_ordered(spark, sf_dir):
    df = QUERIES["tx14_bm25_search"].build(spark, sf_dir)
    assert plans.count_ops(df, "TakeOrderedAndProject") == 1
    # corpus stats + df join ride broadcasts, never a fact-side shuffle join
    assert_broadcast(df, at_least=2)


def test_et17_skew_profile_hot_keys_bounded(spark, sf_dir):
    df = QUERIES["et17_skew_profile"].build(spark, sf_dir)
    p = plans.formatted_plan(df)
    assert plans.count_ops(df, "TakeOrderedAndProject") == 1  # top-5, not a sort
    assert "CartesianProduct" not in p  # one-row sides cross via broadcast
    assert_broadcast(df, at_least=1)


def test_ss09_centroids_broadcast_fact_stays_parallel(spark, sf_dir):
    df = QUERIES["ss09_centroid_confusion"].build(spark, sf_dir)
    p = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_et21_bitmap_words_partial_aggregate(spark, sf_dir):
    df = QUERIES["et21_bitmap_distinct"].build(spark, sf_dir)
    # both the word build and the popcount rollup are partial-aggregated
    assert plans.count_ops(df, "HashAggregate") >= 4


def test_q88_union_is_shuffle_free_before_agg(spark, sf_dir):
    df = QUERIES["q88_union_evolving_schema"].build(spark, sf_dir)
    # single global aggregate: exactly one exchange (to the 1-row agg)
    assert plans.count_ops(df, "Exchange") <= 2


def test_tx15_chunking_has_no_exchange(spark, sf_dir):
    df = QUERIES["tx15_rag_chunks"].build(spark, sf_dir)
    assert plans.count_ops(df, "Exchange") == 0  # narrow row expansion


def test_q85_data_windows_are_partitioned(spark, sf_dir):
    # The three rankings over the growing supplier-derived input must NOT
    # plan a `WindowExec: No Partition Defined` over data (single-task at
    # scale).  The only unpartitioned windows allowed are the two slice-
    # offset cumsums inside global_row_number, which run over the bounded
    # num_partitions-row count aggregates (the q92/et18-style exemption).
    df = QUERIES["q85_null_ordering"].build(spark, sf_dir)
    assert unpartitioned_windows(df) <= 2


def test_global_row_number_matches_window_semantics(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from etl_batch_spark.operators.ranks import global_row_number

    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("k"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") % 13).alias("g"),
        F.col("id"),
    )
    got = global_row_number(
        df, [F.col("k").desc_nulls_last(), F.col("id").asc()], "rk"
    )
    want = df.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.col("k").desc_nulls_last(), F.col("id").asc()))
        .cast("int"),
    )
    assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
    # partitioned form, nullable partition key (null-safe offset join)
    got_p = global_row_number(
        df, [F.col("k").asc_nulls_first(), F.col("id").asc()], "rk",
        partition_cols=["g"],
    )
    want_p = df.withColumn(
        "rk",
        F.row_number()
        .over(
            Window.partitionBy("g").orderBy(
                F.col("k").asc_nulls_first(), F.col("id").asc()
            )
        )
        .cast("int"),
    )
    assert sorted(got_p.collect(), key=str) == sorted(want_p.collect(), key=str)


def test_global_prefix_agg_matches_window_semantics(spark, sf_dir):
    from pyspark.sql import Window, functions as F

    from etl_batch_spark.operators.ranks import global_prefix_agg

    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("k"),
        F.when(F.col("id") % 3 == 0, -1).otherwise(1).alias("v"),
        F.col("id"),
    )
    order = [F.col("k").asc(), F.col("id").asc()]
    for agg in ("sum", "max"):
        for inclusive, end in ((True, 0), (False, -1)):
            got = global_prefix_agg(
                df, order, F.col("v"), "run", agg=agg, inclusive=inclusive
            )
            fn = F.sum if agg == "sum" else F.max
            want = df.withColumn(
                "run",
                fn("v").over(
                    Window.orderBy(*order).rowsBetween(
                        Window.unboundedPreceding, end
                    )
                ),
            )
            assert sorted(got.collect(), key=str) == sorted(
                want.collect(), key=str
            ), (agg, inclusive)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        global_prefix_agg(df, order, F.col("v"), "run", agg="avg")


def test_dd11_hot_span_scrub_is_linear(spark, sf_dir):
    # exact-substring dedup must stay linear: no pairwise/cartesian shape,
    # no single-task window (interval merge is per-document), bounded
    # shuffle count (gram count, doc window, span/doc aggs, summary join)
    df = QUERIES["dd11_hot_span_scrub"].build(spark, sf_dir)
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert unpartitioned_windows(df) == 0
    assert plans.count_ops(df, "Exchange") <= 6


def test_no_query_windows_over_unpartitioned_data(registry_plans):
    """Global invariant: no query plans a `WindowExec: No Partition
    Defined` over data that grows with scale (single task at 100 TB).
    The allowlist is exactly the bounded-aggregate exemptions: q85's two
    slice-offset cumsums and sm11's one run over num_partitions-row count
    aggregates (operators/ranks.py), q92's window ranks a months
    aggregate, et18's closes gaps over per-bucket extrema — all O(small),
    never O(rows)."""
    allowed = {
        "q85_null_ordering": 2,
        "q92_period_over_period": 1,
        "et18_sequence_gaps": 1,
        "sm11_shuffle_order": 1,
        "q97_skyline_pareto": 1,
        "ev15_peak_concurrency": 1,
    }
    offenders = {}
    for name, p in registry_plans.items():
        n = p["unpartitioned_windows"]
        if n > allowed.get(name, 0):
            offenders[name] = n
    assert offenders == {}


def test_q95_salted_join_spreads_hot_keys(spark, sf_dir):
    """The join must run on (key + salt) so hot suppkeys spread across
    shuffle partitions; the only nested-loop is the 16-row salt spine
    replicating the lookup side."""
    df = QUERIES["q95_salted_skew_join"].build(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "__salt" in plan  # join keys carry the salt
    assert plans.count_ops(df, "CartesianProduct") == 0


def test_pipe03_composes_without_cartesian_or_python(spark, sf_dir):
    df = QUERIES["pipe03_curation_report"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert "BatchEvalPython" not in s  # all stages native expressions
    assert unpartitioned_windows(df) == 0


def test_ss10_pq_searches_codes_via_broadcast_joins(spark, sf_dir):
    """PQ's whole point is that search touches only codes: the LUT join
    must broadcast (never shuffle the code table against a sort-merge
    join), with no cartesian against data and no Python.  Round 11: the
    ENCODE side no longer joins at all — the per-subspace argmin runs
    row-locally against the plan-literal codebook (array_min over
    transform), so exactly one broadcast (the LUT) remains and the
    codebook appears nowhere as a join."""
    df = QUERIES["ss10_pq_ann"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    assert_broadcast(df, at_least=1)  # LUT join
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert "SortMergeJoin" not in s
    assert "BatchEvalPython" not in s
    # the encode argmin is a row-local expression, not a join
    assert "array_min" in s
    assert unpartitioned_windows(df) == 0  # top-k partitioned by query


def test_dd12_semantic_dedup_pairs_only_within_cluster(spark, sf_dir):
    """Candidate pairs come from an equi-join on the cluster id — the
    only nested-loop is the broadcast of the tiny seed-centroid table."""
    df = QUERIES["dd12_semantic_dedup"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert "BatchEvalPython" not in s
    assert unpartitioned_windows(df) == 0  # argmin windows keyed by id


def test_sm11_shuffle_rank_has_no_global_window(spark, sf_dir):
    """The training-shuffle rank must use range-sliced parallel ranking:
    the only unpartitioned window allowed is the offsets re-base over
    the num_partitions-row count aggregate, never over the data."""
    df = QUERIES["sm11_shuffle_order"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    # ranks.py's offset window runs over the tiny per-slice count table;
    # the data-side window is partitioned by the slice id
    assert s.count("Window") >= 1
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert "__gr_pid" in s  # slice-partitioned local ranking present


def test_pipe04_composes_without_cartesian(spark, sf_dir):
    """The four-stage curation DAG: only the tiny rate/size aggregates
    may broadcast-nest; the one Python stage is the per-shard packing
    walk (applyInPandas), nothing else leaves the JVM."""
    df = QUERIES["pipe04_pretraining_mix"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert plans.count_ops(df, "FlatMapGroupsInPandas") == 1  # pack_nextfit only
    assert "BatchEvalPython" not in s  # no row-at-a-time Python anywhere


def test_ss11_random_projection_is_shuffle_free(spark, sf_dir):
    """JL projection must run at scan speed: a row-local codegen'd
    projection with zero Exchange, zero joins, zero Python."""
    df = QUERIES["ss11_random_projection"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    # the only exchange is fan_out's round-robin spread of the
    # single-split fixture file — never a key (hash/range) shuffle
    assert plans.count_ops(df, "Exchange") == 1
    assert "RoundRobinPartitioning" in s
    assert "hashpartitioning" not in s and "rangepartitioning" not in s
    assert "Join" not in s
    assert "BatchEvalPython" not in s


def test_tx17_bigram_lm_all_native_no_cartesian(spark, sf_dir):
    df = QUERIES["tx17_bigram_lm_score"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    # the only nested-loop input is the broadcast 1-row vocab scalar
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert "BatchEvalPython" not in s
    assert unpartitioned_windows(df) == 0


def test_tx19_recount_broadcasts_candidates_no_wide_shuffle(spark, sf_dir):
    """The operator's point: the only join is a BROADCAST semi join of
    MG candidates against the token stream — no sort-merge join, no
    cartesian; the final groupBy shuffles candidate keys only."""
    df = QUERIES["tx19_vocab_heavy_hitters"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    assert_broadcast(df, at_least=2)  # candidates + n_total
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert "SortMergeJoin" not in s


def test_ss13_multitable_joins_all_broadcast(spark, sf_dir):
    """Round-10 fused plan: ONE corpus scan computes all 3 tables'
    buckets (posexplode) and ONE broadcast equi-join on (table, bucket)
    probes the query side — not 3 unioned scans+joins; the dedup
    aggregate must not introduce a cartesian."""
    df = QUERIES["ss13_multitable_ann"].build(spark, sf_dir)
    assert_broadcast(df, at_least=1)
    assert plans.count_ops(df, "BroadcastHashJoin") == 1
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert plans.count_ops(df, "Scan parquet") <= 2  # corpus + query side


def test_q97_skyline_never_goes_quadratic(spark, sf_dir):
    """The scale plan must be the sort-based one: no cartesian/NLJ
    pair generation, one bounded-aggregate window (the slice offsets),
    price-group aggregation instead of a self-join on dominance."""
    df = QUERIES["q97_skyline_pareto"].build(spark, sf_dir)
    s = plans.formatted_plan(df)
    assert plans.count_ops(df, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in s
    assert unpartitioned_windows(df) <= 1


def test_decode_image_both_modes_are_narrow_maps(spark):
    """The multimodal decode (raise AND quarantine modes) must stay a
    shuffle-free narrow map — payloads never cross an exchange and the
    quarantine column adds no plan cost."""
    from etl_batch_spark import plans
    from etl_batch_spark.llmops.multimodal import decode_image

    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
    for kw in ({"fake": True}, {"fake": False, "errors": "quarantine"}):
        plan = plans.formatted_plan(decode_image(df, **kw))
        assert "MapInPandas" in plan
        for node in ("Exchange", "Join", "Sort"):
            assert node not in plan, (kw, node)


def test_q38_hashes_each_key_once(spark, sf_dir):
    """q38's sketch projection must md5 each key ONCE (hash into a
    named column, derive idx+rho from it).  Spark does not CSE across
    Column objects, so embedding the hash in both coordinate
    expressions doubles the dominant projection cost (measured ~2× at
    sf0.1, round 5) — exactly 2 md5 calls (orderkey, partkey) may
    appear in the plan."""
    df = QUERIES["q38_approx_aggregates"].build(spark, sf_dir)
    detail = plans.formatted_plan(df)
    assert detail.count("md5") == 2, detail.count("md5")


def test_hll_partials_hashes_each_key_once(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_batch_spark.catalog import load_table
    from etl_batch_spark.operators.sketch import hll_partials

    e = load_table(spark, sf_dir, "events")
    day = hll_partials(e, key_col="user_id", bucket=F.date_trunc("DAY", F.col("ts")))
    assert plans.formatted_plan(day).count("md5") == 1


def test_scan_count_budgets(registry_plans):
    """Registry-wide pin of the scan-replay audit: Spark replays a
    shared lazy subplan once PER CONSUMER, so a pipeline feeding one
    deduped corpus to three reports silently re-reads (and re-dedups)
    the corpus three times.  At 100 TB scan count dominates cost; the
    round-3 audit hand-collapsed every multi-pass plan (funnel 6→1
    scans, SCD2 9→2, BM25 3→1, pipeline dedup stages 9–15→1, et15
    12→2, et26 12→1).  tests/scan_budgets.json records each query's
    audited parquet-scan and checkpoint-scan node counts; any future
    lazy-subplan replay fails here instead of waiting for the next
    audit.  Regenerate budgets deliberately with
    `python tools/scan_audit.py --write` after a plan change you have
    verified is scan-minimal.  (Grand-row emptiness probes and other
    limit(1) scans count too — they are bounded at runtime, but the
    budget keeps their number visible.)"""
    import json
    import os

    budgets = json.load(
        open(os.path.join(os.path.dirname(__file__), "scan_budgets.json"))
    )
    missing, over = [], {}
    for name, p in registry_plans.items():
        b = budgets.get(name)
        if b is None:
            missing.append(name)
            continue
        got = p["scans"]
        if got["parquet"] > b["parquet"] or got["rdd"] > b["rdd"]:
            over[name] = {"budget": b, "plan": got}
    assert missing == [], f"queries without a scan budget (run scan_audit --write): {missing}"
    assert over == {}, f"scan-count regressions: {over}"
