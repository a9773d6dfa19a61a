"""Registry curation invariants.

The correctness driver processes queries in registration order and
records only the FIRST 50 — round 2 lost 17 CORRECTNESS rows purely by
position (every MinHash/ANN/TF-IDF/streaming query registered after the
cut). These tests pin the curation so the window can't silently regress:
an oracle-carrying query may sit past the window ONLY by being named in
the explicit ``_OVERFLOW`` list (its oracle still runs in the pytest
sweep), and everything after the overflow block must be genuinely
rows-only.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.plans import _OVERFLOW, _TAIL

_DRIVER_WINDOW = 50


#: Rows-only queries deliberately holding window slots to earn a
#: modern rows-only driver row. Each spends a round in the window, then
#: rotates back to _TAIL. EMPTY after the r19 rotation: the five
#: streaming-state/sketch and r17-born rows-only queries that held r17
#: slots (rows recorded in CORRECTNESS_r17 and r18) went back to
#: _TAIL. Grow this set consciously — every entry displaces an
#: oracle-checked slot.
_ROWS_ONLY_WINDOWED: set[str] = set()


def test_oracle_queries_fill_the_driver_window_exactly():
    """Positions 0..49 must ALL carry oracles — a rows-only query inside
    the window would waste a driver-checked slot — except the named
    rows-only evidence-refresh set above, each windowed deliberately to
    earn a modern driver artifact."""
    names = list(plans.QUERIES)
    head = names[:_DRIVER_WINDOW]
    unoracled = [
        n
        for n in head
        if plans.QUERIES[n].oracle is None and n not in _ROWS_ONLY_WINDOWED
    ]
    assert unoracled == [], f"rows-only queries wasting window slots: {unoracled}"
    missing = [n for n in _ROWS_ONLY_WINDOWED if n not in head]
    assert missing == [], f"designated rows-only refreshes not in window: {missing}"


def test_oracle_queries_past_the_window_are_explicitly_designated():
    """Pushing an oracle query out of the window must be a conscious,
    named decision (_OVERFLOW), never a silent side effect of a new
    registration. _OVERFLOW entries may still SIT inside the window
    while the current round's new operators accumulate (spare slots
    earn them extra driver evidence — harmless), so the invariant is:
    everything past the window is an _OVERFLOW suffix."""
    names = list(plans.QUERIES)
    late = [
        n
        for i, n in enumerate(names)
        if plans.QUERIES[n].oracle is not None and i >= _DRIVER_WINDOW
    ]
    assert late == _OVERFLOW[len(_OVERFLOW) - len(late):], (
        f"oracle queries beyond the driver window {late} are not the "
        f"designated overflow suffix"
    )


def test_family_witnesses_lead():
    """Each operator family keeps an always-in-window witness at the
    head of the registry. The round-17 witness set pins the three
    rank statistics whose overflow paths were hardened (A66/A67
    decimal widening, the A72 oracle VARCHAR hop) and the single-scan
    substring trim transform as changed-plan witnesses, plus the
    standing family witnesses."""
    head = list(plans.QUERIES)[:10]
    for name in (
        "agg_mann_whitney_u",
        "agg_ks_two_sample",
        "agg_weekday_anova",
        "llm_substring_dedup_trim",
        "flagship_revenue_by_region",
        "ref_extract_functions",
        "stream_true_tumbling_availablenow",
        "llm_exact_dedup_documents",
    ):
        assert name in head, f"{name} not in the registry head: {head}"


#: Round-7 rotation contract (VERDICT r6 "Next round #1"): every query
#: here was BORN in round 6 straight into _OVERFLOW (the window was
#: full) and must now sit inside the driver window so each earns a
#: driver-green CORRECTNESS row at least once.
_ROTATED_IN_R7 = [
    "llm_token_entropy",
    "llm_unigram_surprisal",
    "llm_quality_percentile_by_lang",
    "agg_histogram_prices",
    "funnel_conversion_events",
    "join_asof_tolerance",
    "stream_stream_left_outer",
    "window_rolling_zscore_events",
    "llm_bigram_lm_top",
    "llm_dedup_rate_by_source",
    "llm_heavy_hitters",
    "llm_minhash_estimate_calibration",
]


def test_round7_rotation_queries_have_driver_rows():
    """The 12 queries rotated IN for round 7 earned their driver rows in
    CORRECTNESS_r07 and rotated back out in round 8 to make room for the
    near-full rotation; pin that each of them really is driver-green."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r07.json").read_text()
    )
    for n in _ROTATED_IN_R7:
        r = rows[n]
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-8 rotation contract (VERDICT r7 "Next round #1" — rotate the
#: window nearly in full): all 25 round-6-born overflow residents
#: (including the r6-verdict-missed ``llm_ivf_topk``) plus the first 13
#: round-7-born ones move INTO the driver window, each earning its
#: first driver CORRECTNESS row in round 8.
_ROTATED_IN_R8 = [
    "llm_triangle_counts",
    "llm_pmi_collocations",
    "agg_retention_cohorts",
    "llm_kmeans_lloyd",
    "agg_cumulative_users",
    "llm_kmeans_silhouette",
    "agg_profit_by_nation_type",
    "agg_key_skew_report",
    "window_streaks_gaps_islands",
    "agg_pivot_daily_event_matrix",
    "agg_metric_correlation_daily",
    "llm_chunk_documents_udtf",
    "cdc_point_in_time_join",
    "agg_data_quality_report",
    "llm_ann_recall_report",
    "llm_bm25_batch_topk",
    "llm_decontaminate_multi",
    "llm_containment_pairs",
    "llm_interleave_by_source",
    "llm_cluster_best_representative",
    "llm_corpus_length_report",
    "llm_pps_sample_by_tokens",
    "cdc_scd2_history",
    "llm_pq_topk",
    "llm_ivf_topk",
    "agg_order_count_distribution",
    "agg_small_quantity_revenue",
    "agg_important_parts",
    "agg_parts_supplier_counts",
    "window_ntile_quartiles",
    "agg_mad_outliers",
    "scalar_gapfill_daily_revenue",
    "agg_ohlc_daily_value",
    "llm_edit_distance_pairs",
    "llm_ngram_novelty",
    "llm_semdedup_representatives",
    "llm_mode_token_by_lang",
    "llm_readability_scores",
]


def test_round8_rotation_queries_have_driver_rows():
    """The 38 queries rotated IN for round 8 earned their driver rows in
    CORRECTNESS_r08 and rotated back out in round 9 (making room for the
    full backlog-clearing rotation); pin that each really is
    driver-green."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r08.json").read_text()
    )
    for n in _ROTATED_IN_R8:
        r = rows[n]
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-9 rotation contract (VERDICT r8 "Next round #1" — clear the
#: backlog COMPLETELY): all 36 queries that had never earned a driver
#: CORRECTNESS row — the 13 round-8-born plus the 23 round-7-born,
#: i.e. the whole former _BORN_IN_OVERFLOW set — now sit inside the
#: driver window, each earning its first driver row in round 9.
_ROTATED_IN_R9 = [
    "agg_returned_items_report",
    "agg_cross_nation_volume",
    "agg_market_share_by_year",
    "agg_promo_revenue_share",
    "filter_disjunctive_parts_revenue",
    "window_top_supplier_quarterly",
    "agg_large_volume_customers",
    "agg_shipping_priority_topk",
    "join_late_shipment_priority",
    "agg_event_markov_transitions",
    "agg_rfm_segments",
    "window_session_stats_batch",
    "llm_bigram_surprisal_docs",
    "llm_zipf_slope_report",
    "llm_bpe_train_merges",
    "llm_bpe_segment_vocab",
    "llm_langid_confusion_matrix",
    "window_rolling_7day_revenue",
    "llm_pagerank_candidates",
    "stream_hourly_ohlc",
    "agg_idle_rich_customers",
    "join_excess_quantity_suppliers",
    "llm_bpe_encode_stats",
    "agg_event_type_lift",
    "llm_ivfpq_topk",
    "window_ewma_daily_revenue",
    "llm_curation_pipeline_v2",
    "window_seasonal_naive_mape",
    "agg_weekday_seasonality",
    "llm_curriculum_order",
    "llm_incremental_neardup",
    "llm_simhash_hamming_pairs",
    "agg_rolling_wau",
    "llm_winnow_collisions",
    "llm_kmeans_purity",
    "agg_nation_revenue_yoy",
]


def test_round9_rotation_queries_have_driver_rows():
    """The 36 backlog queries rotated IN for round 9 (plus the four
    round-9-born scale-toolkit queries) earned their driver rows in
    CORRECTNESS_r09/r10 and rotated back out in round 11; pin that
    each really is driver-green."""
    import json
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    rows = json.loads((root / "CORRECTNESS_r09.json").read_text())
    rows.update(
        {
            n: r
            for n, r in json.loads(
                (root / "CORRECTNESS_r10.json").read_text()
            ).items()
            if r.get("hash_match")
        }
    )
    for n in _ROTATED_IN_R9 + [
        "llm_ivfpq_encoded_topk",
        "agg_skewed_revenue_salted",
        "join_hot_key_split_revenue",
        "join_bucketed_priority_revenue",
    ]:
        r = rows[n]
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-11 rotation contract (VERDICT r9+r10 "Next round #1", two
#: rounds owed): the 12 round-9-born queries that sat in _OVERFLOW
#: through round 10 must now hold window slots, each earning its
#: first driver CORRECTNESS row in round 11.
_ROTATED_IN_R11 = [
    "agg_forecast_revenue_change",
    "agg_local_supplier_volume",
    "join_min_cost_supplier",
    "join_lone_late_supplier",
    "llm_kcore_candidates",
    "llm_mattr_lexical_diversity",
    "llm_reservoir_sample_by_lang",
    "llm_weighted_sample_docs",
    "llm_source_kl_divergence",
    "llm_train_split_leakage_aware",
    "llm_embedding_covariance",
    "llm_minhash_lsh_pairs_stored",
]


def test_round11_rotation_queries_have_driver_rows():
    """The 12 round-9-born queries rotated IN for round 11 earned
    their first driver rows in CORRECTNESS_r11 and rotated back out in
    round 12; pin that each really is driver-green."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r11.json").read_text()
    )
    for n in _ROTATED_IN_R11:
        r = rows[n]
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-12 rotation contract (VERDICT r11 "Next round #3"): the 23
#: queries whose newest driver evidence was oldest (the whole r4 and
#: r5 cohorts) hold window slots this round, each re-earning a
#: current-round CORRECTNESS row.
_ROTATED_IN_R12 = [
    "agg_distinct_counts",
    "agg_grouping_shapes",
    "filter_point_lookup",
    "filter_suffix_predicate",
    "filter_type_predicate",
    "join_semi_anti_customers",
    "scalar_date_parts_orders",
    "scalar_math_lineitem",
    "set_ops_customer_keys",
    "topk_orders_by_price",
    "window_lag_lead_first_last",
    "window_rank_variants",
    "window_running_revenue_by_date",
    "window_top3_orders_per_customer",
    "llm_cosine_topk_bruteforce",
    "llm_mix_sample_by_lang",
    "llm_pii_redaction",
    "llm_repetition_signals",
    "llm_tfidf_top_terms",
    "llm_vocab_coverage",
    "scalar_map_explode_props",
    "stream_session_windows",
    "stream_sliding_window_avg",
]


def test_round12_rotation_queries_have_driver_rows():
    """The r4/r5-evidence cohorts rotated IN for round 12 earned their
    refreshed driver rows in CORRECTNESS_r12 and rotated back out in
    round 13; pin that each really is driver-green."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r12.json").read_text()
    )
    for n in _ROTATED_IN_R12:
        r = rows[n]
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-13 rotation contract: the r6-evidence cohort (whole) and the
#: 18 oldest r7-evidence queries hold window slots this round,
#: together with the changed-plan witnesses (Bloom oracle, stored
#: admission) and the r12 overflow-born audits.
_ROTATED_IN_R13 = [
    "llm_bloom_dedup_audit",
    "llm_incremental_embedding_admission_stored",
    "llm_simhash_bit_balance",
    "llm_vocab_coverage_curve",
    "llm_ann_multitable_pairs",
    "llm_duplicate_spans",
    "llm_bm25_topk",
    "llm_stratified_sample",
    "llm_incremental_dedup",
    "llm_gopher_quality_filter",
    "llm_training_order",
    "ref_sources_explode",
    "ref_abi_signature_render",
    "llm_langid_stopword",
    "join_range_event_pairs",
    "stream_dedup_first_event",
    "stream_static_enrich_segments",
    "stream_stream_join_attribution",
    "agg_percentile_prices",
    "llm_knn_join_topk",
    "llm_decontaminate_overlap",
    "llm_sequence_packing",
    "llm_token_budget_per_source",
    "llm_chunk_documents",
    "cdc_merge_latest_snapshot",
    "llm_span_dedup_trim",
    "llm_curation_pipeline",
    "llm_token_entropy",
    "llm_unigram_surprisal",
    # join_asof_tolerance, funnel_conversion_events,
    # llm_quality_percentile_by_lang and agg_histogram_prices were
    # bumped late-round for the burst / media-dedup / weak-link /
    # spend-trend operators (still inside the freshness bound;
    # rotate r14)
]


def test_round13_rotation_queries_have_driver_rows():
    """The r6/r7-evidence cohorts and changed-plan witnesses rotated
    IN for round 13 earned their refreshed driver rows in
    CORRECTNESS_r13 and rotated back out in round 14; pin that each
    really is driver-green."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r13.json").read_text()
    )
    for n in _ROTATED_IN_R13:
        r = rows[n]
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-14 rotation contract (VERDICT r13 "Next round #1" + #8): the
#: two r13 overflow-born audits (first driver rows EVER), the cap-loss
#: audit (pairs_suppressed arithmetic changed in both engines this
#: round), and the whole remaining r7-evidence cohort (23 — the
#: freshness guard's oldest) hold window slots this round.
_ROTATED_IN_R14 = [
    "llm_dedup_quality_interaction",
    "llm_corpus_delta_report",
    "llm_lsh_cap_loss_audit",
    "agg_histogram_prices",
    "agg_pricing_summary",
    "funnel_conversion_events",
    "join_asof_latest_order",
    "join_asof_tolerance",
    "join_order_customer_nation",
    "llm_bigram_lm_top",
    "llm_centroid_by_label",
    "llm_dedup_rate_by_source",
    "llm_fingerprint_dedup_prefix",
    "llm_heavy_hitters",
    "llm_ngram_jaccard_topk",
    "llm_quality_percentile_by_lang",
    "llm_quality_scores",
    "llm_text_stats_by_lang",
    "ref_bundle_hash_by_source",
    "ref_content_id_documents",
    "ref_dedup_documents",
    "ref_error_routing_permissive",
    "ref_etherscan_parse",
    "scalar_json_props_events",
    "stream_stream_left_outer",
    "window_rolling_zscore_events",
]


def test_round14_rotation_queries_have_driver_rows():
    """The r14 window cohort earned its driver rows in CORRECTNESS_r14
    and rotated back out in round 15; pin that each really is
    driver-green."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r14.json").read_text()
    )
    for n in _ROTATED_IN_R14:
        r = rows[n]
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-15 rotation contract (VERDICT r14 "Next round #1" + #4): the
#: three degenerate-corpus parity-fix witnesses, the rows-only
#: evidence-refresh set, 31 of the 41-query r8-evidence cohort, and
#: the 7 round-15-born operators hold window slots this round.
_ROTATED_IN_R15 = [
    "llm_decontaminate_ngram_sweep",
    "llm_upsample_plan_integer",
    "llm_fingerprint_method_agreement",
    "agg_approx_distinct_users",
    "sample_orders_seeded",
    "llm_media_payload_dedup_raw",
    "llm_multimodal_image_features",
    "llm_multimodal_audio_features",
    "agg_cumulative_users",
    "agg_data_quality_report",
    "agg_important_parts",
    "agg_key_skew_report",
    "agg_mad_outliers",
    "agg_metric_correlation_daily",
    "agg_ohlc_daily_value",
    "agg_order_count_distribution",
    "agg_parts_supplier_counts",
    "agg_pivot_daily_event_matrix",
    "agg_profit_by_nation_type",
    "agg_retention_cohorts",
    "agg_small_quantity_revenue",
    "cdc_point_in_time_join",
    "cdc_scd2_history",
    "llm_bm25_batch_topk",
    "llm_chunk_documents_udtf",
    "llm_cluster_best_representative",
    "llm_containment_pairs",
    "llm_corpus_length_report",
    "llm_decontaminate_multi",
    "llm_edit_distance_pairs",
    "llm_hybrid_rrf_fusion",
    "llm_interleave_by_source",
    "llm_mode_token_by_lang",
    "llm_pps_sample_by_tokens",
    "llm_pq_topk",
    "ref_ingest_folder_contracts",
    "ref_sink_roundtrip",
    "stream_tumbling_window_counts",
    "window_ntile_quartiles",
    "llm_substring_dup_mass",
    "llm_substring_run_histogram",
    "llm_substring_pair_maxrun",
    "llm_substring_stopgram_audit",
    "llm_shard_mixing_audit",
    "llm_interleave_run_lengths",
    "stream_session_gap_sweep",
]


def test_round15_rotation_queries_have_driver_rows():
    """The r15 window earned its driver rows in CORRECTNESS_r15 and
    rotated out in round 16; pin that each oracle-carrying member (and
    each rows-only member, rows-recorded) really met the driver."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r15.json").read_text()
    )
    for n in _ROTATED_IN_R15:
        r = rows[n]
        if plans.QUERIES[n].oracle is None:
            assert r["spark_rows"] is not None and r["spark_rows"] >= 0, n
        else:
            assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-16 rotation contract (VERDICT r15 "Next round #1/#6"): the
#: J41 changed-plan witness, the 10-query r8-evidence remainder, the
#: 14 r15-session-2 newborns, the three never-windowed rows-only
#: debuts, and the 18 round-16-born operators hold window slots.
_ROTATED_IN_R16 = [
    "llm_substring_pair_maxrun",
    "llm_ivf_topk",
    "llm_kmeans_lloyd",
    "llm_kmeans_silhouette",
    "llm_ngram_novelty",
    "llm_pmi_collocations",
    "llm_readability_scores",
    "llm_semdedup_representatives",
    "llm_triangle_counts",
    "scalar_gapfill_daily_revenue",
    "window_streaks_gaps_islands",
    "llm_cross_shard_dup_spillover",
    "llm_dedup_transitivity_audit",
    "llm_kanonymity_cell_audit",
    "llm_cluster_separation_audit",
    "agg_theil_inequality_decomposition",
    "skyline_parts_pareto",
    "layout_zonemap_pruning_audit",
    "llm_dp_histogram_release",
    "stream_shard_watermark_skew",
    "llm_incremental_substring_admission",
    "window_fulfillment_latency_percentiles",
    "layout_compaction_plan",
    "agg_return_rate_ztest",
    "sample_neyman_allocation",
    "stream_true_point_in_time",
    "stream_true_scd2_closed",
    "agg_sketch_rollup_users",
    "llm_substring_dedup_trim",
    "llm_dedup_grain_overlap",
    "agg_mann_whitney_u",
    "agg_ks_two_sample",
    "agg_spearman_daily_correlation",
    "agg_chi_square_independence",
    "agg_weekday_anova",
    "agg_poisson_bootstrap_ci",
    "agg_cuped_adjusted_metric",
    "agg_winsorized_spend_stats",
    "window_revenue_drawdown",
    "agg_systematic_sample_estimate",
    "layout_zorder_benefit_audit",
    "llm_quality_dup_calibration",
    "llm_neardup_source_modularity",
    "llm_epoch_mix_schedule",
    "stream_microbatch_size_sweep",
    "stream_dedup_horizon_sweep",
]


def test_round16_rotation_queries_have_driver_rows():
    """The r16 window earned its driver rows in CORRECTNESS_r16 and
    rotated out in round 17; pin that each oracle-carrying member (and
    each rows-only member, rows-recorded) really met the driver."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r16.json").read_text()
    )
    for n in _ROTATED_IN_R16:
        r = rows[n]
        if plans.QUERIES[n].oracle is None:
            assert r["spark_rows"] is not None and r["spark_rows"] >= 0, n
        else:
            assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-17 rotation contract (VERDICT r16 "Next round #1-#3"), as
#: AMENDED by session 2: the four changed-plan/oracle witnesses, 19 of
#: the 40-query r10 cohort (session 2 displaced 7 — the BPE pair,
#: langid confusion, zipf slope, rolling-7day, hourly OHLC, idle-rich
#: — to the r18 forced set to make room for its newborns), the three
#: never-windowed rows-only debuts, the 13 round-17-born operators,
#: and the 7 session-2-born operators held window slots in r17 and r18.
_ROTATED_IN_R17 = [
    "agg_mann_whitney_u",
    "agg_ks_two_sample",
    "agg_weekday_anova",
    "llm_substring_dedup_trim",
    "llm_ann_hyperplane_buckets",
    "llm_ann_bucketed_cosine_pairs",
    "llm_ann_recall_report",
    "llm_simhash_documents",
    "agg_skewed_revenue_salted",
    "join_hot_key_split_revenue",
    "agg_returned_items_report",
    "agg_cross_nation_volume",
    "agg_market_share_by_year",
    "agg_promo_revenue_share",
    "filter_disjunctive_parts_revenue",
    "window_top_supplier_quarterly",
    "agg_large_volume_customers",
    "agg_shipping_priority_topk",
    "join_late_shipment_priority",
    "agg_event_markov_transitions",
    "agg_rfm_segments",
    "window_session_stats_batch",
    "llm_bigram_surprisal_docs",
    "stream_stateful_running_totals",
    "agg_percentile_prices_approx",
    "llm_ml_minhash_join",
    "agg_kendall_tau_daily",
    "agg_theilsen_trend_slope",
    "agg_changepoint_best_split",
    "agg_quantile_treatment_effect",
    "agg_runs_test_daily",
    "agg_autocorr_daily_revenue",
    "agg_seasonal_decomposition_daily",
    "join_er_duplicate_listings",
    "llm_hash_collision_audit",
    "layout_bloom_sizing_audit",
    "llm_source_loo_quality_shift",
    "llm_embedding_top_pc_power",
    "stream_true_neardup_admission",
    "agg_kaplan_meier_reorder",
    "agg_return_rate_fdr_bh",
    "agg_event_weekday_mutual_info",
    "llm_isotonic_quality_calibration",
    "llm_cdc_chunk_dedup",
    "llm_retrieval_eval_report",
    "agg_logrank_reorder_by_segment",
]


def test_round17_rotation_queries_have_driver_rows():
    """The r17 window earned its driver rows in CORRECTNESS_r17 and
    rotated out in round 19 (round 18 kept it); pin that each
    oracle-carrying member (and each rows-only member, rows-recorded)
    really met the driver."""
    import json
    import pathlib

    rows = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r17.json").read_text()
    )
    for n in _ROTATED_IN_R17:
        r = rows[n]
        if plans.QUERIES[n].oracle is None:
            assert r["spark_rows"] is not None and r["spark_rows"] >= 0, n
        else:
            assert r["rows_match"] and r["schema_match"] and r["hash_match"], n


#: Round-19 rotation contract (the r18 ledger in plans/__init__.py):
#: the 21 r10-evidence queries the freshness guard forces at r19 and
#: the first 21 of the 43-query r11-evidence cohort hold window slots
#: beside the eight standing family witnesses.
_ROTATED_IN_R19 = [
    "window_rolling_7day_revenue",
    "stream_hourly_ohlc",
    "agg_idle_rich_customers",
    "llm_bpe_train_merges",
    "llm_bpe_segment_vocab",
    "llm_langid_confusion_matrix",
    "llm_zipf_slope_report",
    "join_excess_quantity_suppliers",
    "llm_bpe_encode_stats",
    "agg_event_type_lift",
    "llm_ivfpq_topk",
    "window_ewma_daily_revenue",
    "llm_curation_pipeline_v2",
    "window_seasonal_naive_mape",
    "agg_weekday_seasonality",
    "llm_curriculum_order",
    "llm_simhash_hamming_pairs",
    "agg_rolling_wau",
    "llm_winnow_collisions",
    "llm_kmeans_purity",
    "agg_nation_revenue_yoy",
    "agg_forecast_revenue_change",
    "agg_local_supplier_volume",
    "join_min_cost_supplier",
    "join_lone_late_supplier",
    "llm_kcore_candidates",
    "llm_mattr_lexical_diversity",
    "llm_reservoir_sample_by_lang",
    "llm_weighted_sample_docs",
    "llm_source_kl_divergence",
    "llm_train_split_leakage_aware",
    "llm_embedding_covariance",
    "llm_minhash_lsh_pairs_stored",
    "llm_ivfpq_encoded_topk",
    "join_bucketed_priority_revenue",
    "llm_minhash_lsh_pairs",
    "llm_neardup_clusters",
    "llm_embedding_neardup_clusters",
    "llm_pagerank_candidates",
    "llm_minhash_estimate_calibration",
    "llm_incremental_neardup",
    "llm_sentence_dedup_fraction",
]


def test_round19_rotation_refreshes_the_stale_cohorts():
    window = list(plans.QUERIES)[:_DRIVER_WINDOW]
    missing = [n for n in _ROTATED_IN_R19 if n not in window]
    assert missing == [], f"r19 rotation set missing from the window: {missing}"


#: Operators registered straight into _OVERFLOW in the round that
#: bore them — now sourced from the registry so the freshness guard
#: shares the same exemption (plans/__init__.py _BORN_IN_OVERFLOW).
from smart_contract_database_builder_spark.plans import (  # noqa: E402
    _BORN_IN_OVERFLOW,
)


def test_rotated_out_queries_have_prior_driver_green_rows():
    """A query may be rotated out only if some earlier round's driver
    CORRECTNESS artifact recorded it fully green (its correctness
    evidence is then history plus the pytest oracle sweep) — or it is a
    brand-new operator explicitly designated as overflow-born."""
    import json
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    green: set[str] = set()
    for artifact in root.glob("CORRECTNESS_r*.json"):
        rows = json.loads(artifact.read_text())
        green |= {
            n
            for n, r in rows.items()
            if r.get("rows_match") and r.get("schema_match") and r.get("hash_match")
        }
    never_green = [
        n for n in _OVERFLOW if n not in green and n not in _BORN_IN_OVERFLOW
    ]
    assert never_green == [], (
        f"rotated out without any prior driver-green row: {never_green}"
    )
    # the exemption list must not hide stale entries: everything in it
    # still has to be a real overflow resident
    assert _BORN_IN_OVERFLOW <= set(_OVERFLOW)


def test_only_genuinely_rows_only_queries_trail_the_overflow():
    names = list(plans.QUERIES)
    trailing = names[-len(_TAIL):]
    assert trailing == _TAIL
    assert all(plans.QUERIES[n].oracle is None for n in trailing)
    # each trailing query documents WHY it has no oracle
    for n in trailing:
        doc = plans.QUERIES[n].doc.lower()
        assert "rows-only" in doc or "rows only" in doc, n
