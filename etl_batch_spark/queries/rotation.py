"""Driver-window rotation for the correctness gate.

The external driver verifies the FIRST 50 entries of :data:`QUERIES` in
registration order per round (CORRECTNESS_r01 checked exactly
``list(QUERIES)[:50]``).  With 174+ registered queries, a static order
would leave most of the surface driver-unverified forever.  This module
pins an explicit order instead:

1. ``DRIVER_WINDOW`` — the 50 names this round's driver run must check:
   queries whose output or oracle changed this round (must re-verify)
   plus the highest-priority never-checked queries.
2. everything else not yet driver-green (any newly added query lands
   here automatically), in registration order.
3. ``DRIVER_GREEN`` — names already verified green by a previous round's
   driver run, deprioritized to the back.

Update both lists once per round from ``CORRECTNESS_r{N}.json``: move
newly green names into DRIVER_GREEN and refill DRIVER_WINDOW with the
next unchecked batch.  ``tools/parity.py`` still checks ALL queries
locally every run, so rotation never weakens local coverage.
"""

from __future__ import annotations


# Round 11 window (rotated from CORRECTNESS_r10.json, 50/50 green —
# cumulative 251/251 driver-green at latest check).  Leads: the 13
# queries whose EXECUTED PLANS changed in the round-11 optimization
# pass and must re-verify under the driver's stock session — the
# similarity argmin family rewritten to row-local argmin over
# plan-literal codebooks (ss10/ss03/dd12 + the fan_out-trimmed
# ss01/ss02/ss12/ss13), the checkpoint-fused pipelines
# (pipe04/sm03/dd11/tx14), and the session-isolated
# connected-components loop (dd07/sm09).  Then the staleness refill:
# q94 (carried from the round-10 prep note) plus the 36 rows whose
# latest driver check is oldest (q95-q100 block, dd03/dd04/dd08/dd10,
# et01-et20 cohort, ev01-ev12 cohort, mm02-mm07, pipe03/pipe05, q38)
# — computed mechanically from the CORRECTNESS_r* files.
DRIVER_WINDOW: list[str] = [
    "ss10_pq_ann",
    "ss03_ivf_ann",
    "ss01_cosine_topk",
    "ss02_lsh_bucketed_ann",
    "ss12_ann_recall",
    "ss13_multitable_ann",
    "dd12_semantic_dedup",
    "sm03_temperature_mix",
    "pipe04_pretraining_mix",
    "dd11_hot_span_scrub",
    "tx14_bm25_search",
    "dd07_neardup_clusters",
    "sm09_cluster_safe_split",
    "q94_rolling_median",
    "q100_window_rank_surface",
    "q95_salted_skew_join",
    "q96_pandas_udaf_geomean",
    "q98_grouped_regression",
    "q99_merged_order_spans",
    "dd03_ngram_jaccard",
    "dd04_minhash_lsh",
    "dd08_incremental_dedup",
    "dd10_winnow_pairs",
    "et01_scd2_merge",
    "et04_rollup_cascade",
    "et06_table_checksum",
    "et10_apply_changelog",
    "et11_fuzzy_match",
    "et12_fifo_allocation",
    "et13_incremental_agg",
    "et20_point_in_time_join",
    "ev01_funnel",
    "ev02_retention_cohorts",
    "ev03_active_users",
    "ev04_top_paths",
    "ev05_asof_operator",
    "ev07_session_window_builtin",
    "ev08_time_weighted_avg",
    "ev09_ohlc_bars",
    "ev10_markov_transitions",
    "ev11_time_since_purchase",
    "ev12_windowed_funnel",
    "mm02_frame_sample",
    "mm03_window_energy",
    "mm04_phash_neardup",
    "mm06_decode_audio_stats",
    "mm07_media_triage",
    "pipe03_curation_report",
    "pipe05_multimodal_curation",
    "q38_approx_aggregates",
]

# ROUND 10 PREP: once CORRECTNESS_r09.json lands, run
# `python tools/rotate.py CORRECTNESS_r09.json --write --prepend
# <round-10 changed-output queries> q94_rolling_median
# q95_salted_skew_join q96_pandas_udaf_geomean q98_grouped_regression
# q99_merged_order_spans q100_window_rank_surface <oldest r5 rows>`.
# The refill priority after those six r4 leftovers is the round-5
# cohort (et01/et04/et06/et10-et13/et20, ev01..., 50 rows).
# tests/test_rotation.py pins the invariants.

# Driver-green in a previous round's run (rows+schema+hash all true,
# with no output change since).  Deprioritized to the back of the
# registry so the driver window reaches unchecked queries first.
DRIVER_GREEN: list[str] = [
    "dd01_dedup_exact",
    "dd02_fingerprint",
    "dd05_simhash",
    "dd06_embedding_neardup",
    "dd09_containment",
    "dd13_lsh_dedup_recall",
    "dd14_line_dedup",
    "et02_profile_columns",
    "et03_fk_audit",
    "et05_hierarchy_levels",
    "et07_sketch_rollup",
    "et08_snapshot_diff",
    "et09_expectations",
    "et14_mad_outliers",
    "et15_triangle_count",
    "et16_lttb_downsample",
    "et17_skew_profile",
    "et18_sequence_gaps",
    "et19_benford_audit",
    "et21_bitmap_distinct",
    "et22_ewma_smoothing",
    "et23_portable_hll",
    "et24_histogram_quantiles",
    "et25_count_min_freq",
    "et26_psi_drift",
    "et27_cusum_changepoints",
    "et28_audience_bitmap_ops",
    "et29_ivm_apply_feed",
    "et30_time_travel",
    "et31_merge_upsert",
    "et32_change_feed",
    "et33_compaction_invariance",
    "et34_zorder_invariance",
    "et35_incremental_hll_maintenance",
    "et36_partitioned_merge",
    "et37_vacuum_retention",
    "et38_versioned_rollup_maintenance",
    "et39_concurrent_merge_conflict",
    "et40_schema_evolution",
    "et41_log_checkpoint_reads",
    "et42_data_skipping",
    "ev06_interpolate_at_clicks",
    "ev13_last_touch_attribution",
    "ev14_linear_attribution",
    "ev15_peak_concurrency",
    "ev16_ab_test_zscore",
    "ev17_markov_attribution",
    "ev18_rfm_segments",
    "ev19_interarrival_stats",
    "ev20_time_decay_attribution",
    "mm01_decode_resize",
    "mm05_patch_grid",
    "mm08_mp3_frame_census",
    "mm09_ogg_metadata_census",
    "mm10_flac_frame_census",
    "mm11_mp4_track_census",
    "mm12_webp_structure_census",
    "pipe01_training_mix",
    "pipe02_rag_corpus",
    "pipe06_audio_curation",
    "q01_pricing_summary",
    "q02_point_lookup",
    "q03_min_default",
    "q04_next_run_id",
    "q05_date_trunc_daily",
    "q06_latest_order_per_customer",
    "q07_exists_semi_join",
    "q08_not_exists_anti_join",
    "q09_multiway_join_revenue",
    "q10_decode_status_matrix",
    "q11_prefix_match",
    "q12_topk_orders",
    "q13_union_all_branches",
    "q14_string_agg_ordered",
    "q15_window_running",
    "q16_rollup",
    "q17_cube",
    "q18_intersect",
    "q19_except",
    "q20_json_props",
    "q21_explode_words",
    "q22_asof_join",
    "q23_range_join_bands",
    "q24_full_outer_join",
    "q25_pivot_linestatus",
    "q26_percentiles",
    "q27_sessionize",
    "q30_field_counter",
    "q31_nth_field",
    "q32_atoi_priority",
    "q33_datediff_hms",
    "q34_check_date_codes",
    "q35_shipping_priority",
    "q36_forecast_revenue",
    "q37_from_json_map",
    "q39_decimal_exact",
    "q40_grouping_sets",
    "q41_lag_lead",
    "q42_small_qty_revenue",
    "q43_customer_distribution",
    "q44_large_quantity_orders",
    "q45_local_supplier_volume",
    "q46_disjunctive_revenue",
    "q47_multi_supplier_returns",
    "q48_dormant_rich_customers",
    "q49_stats_aggregates",
    "q50_ranking_windows",
    "q51_daily_gap_fill",
    "q52_forward_fill",
    "q53_min_cost_supplier",
    "q54_order_priority_checking",
    "q55_volume_shipping",
    "q56_market_share",
    "q57_product_profit",
    "q58_returned_items",
    "q59_important_parts",
    "q60_priority_class_lines",
    "q61_promo_effect",
    "q62_top_supplier",
    "q63_parts_supplier_count",
    "q64_dominant_shippers",
    "q65_revenue_trend",
    "q66_price_histogram",
    "q67_rolling_30d_revenue",
    "q68_unpivot_status_qty",
    "q69_bag_set_ops",
    "q70_multi_distinct",
    "q71_order_window_overlap",
    "q72_modal_segment",
    "q73_weighted_median",
    "q74_daily_streaks",
    "q75_revenue_share",
    "q76_calendar_breakdown",
    "q77_topk_per_group",
    "q78_bloom_semi_filter",
    "q79_string_surface",
    "q80_null_safe_join",
    "q81_posexplode_words",
    "q82_not_in_null_semantics",
    "q83_variant_props",
    "q84_udtf_split_fields",
    "q85_null_ordering",
    "q86_aggregate_surface",
    "q87_lateral_topn",
    "q88_union_evolving_schema",
    "q89_recursive_cte",
    "q90_xml_roundtrip",
    "q91_running_distinct",
    "q92_period_over_period",
    "q93_try_function_surface",
    "q97_skyline_pareto",
    "sm01_hash_sample",
    "sm02_stratified_sample",
    "sm04_quality_weighted_sample",
    "sm05_fixed_quota_sample",
    "sm06_training_shards",
    "sm07_weighted_topk_sample",
    "sm08_train_val_test_split",
    "sm10_calibrated_quality",
    "sm11_shuffle_order",
    "ss04_kmeans_clusters",
    "ss05_doc_pagerank",
    "ss06_array_lambda_surface",
    "ss07_mmr_topk",
    "ss08_label_centroids",
    "ss09_centroid_confusion",
    "ss11_random_projection",
    "ss14_hard_negatives",
    "st01_streaming_window_counts",
    "st02_streaming_dedup",
    "st03_stream_static_enrich",
    "st04_streaming_sessions",
    "st05_streaming_funnel",
    "st06_stream_stream_attribution",
    "st07_streaming_sliding_windows",
    "st08_streaming_file_sink",
    "st09_incremental_ingest_replay",
    "st10_streaming_upsert_tombstones",
    "st11_torn_crash_sink_replay",
    "st12_streaming_schema_evolution",
    "tx01_text_stats",
    "tx02_langid",
    "tx03_token_count",
    "tx04_quality_score",
    "tx05_winnow_fingerprints",
    "tx06_redact_pii",
    "tx07_repetition_stats",
    "tx08_token_entropy",
    "tx09_decontaminate",
    "tx10_sequence_packing",
    "tx12_batch_inference",
    "tx13_regexp_surface",
    "tx15_rag_chunks",
    "tx16_inverted_postings",
    "tx17_bigram_lm_score",
    "tx18_nextfit_packing",
    "tx19_vocab_heavy_hitters",
    "tx20_feature_hashing",
    "tx21_gopher_rules",
    "tx22_url_curation",
    "tx23_registered_domain_psl",
]


def reorder(queries: dict) -> None:
    """Rebuild the registry dict in driver-window order, in place.

    ``QUERIES`` is imported by name elsewhere, so the dict object must be
    mutated rather than replaced.  Unknown names in the lists are skipped
    (robust to renames); names in neither list form the middle tier,
    sorted SURVEY-core-first (see below), otherwise registration order.
    """
    window = [n for n in DRIVER_WINDOW if n in queries]
    green = {n for n in DRIVER_GREEN if n not in DRIVER_WINDOW}
    middle = [n for n in queries if n not in set(window) and n not in green]
    # SURVEY-core relational mappings (qNN_*) lead the middle tier so the
    # next rotation's refill (tools/rotate.py consumes registry order)
    # verifies the core surface before engine extensions; non-q names
    # keep registration order behind them (stable sort).
    def _prio(n: str) -> tuple:
        num = n[1:].split("_", 1)[0]
        if n[0] == "q" and num.isdigit():
            return (0, int(num))
        return (1, 0)

    middle.sort(key=_prio)
    tail = [n for n in queries if n in green]
    items = {n: queries[n] for n in (*window, *middle, *tail)}
    queries.clear()
    queries.update(items)
