"""Named query registry — the engine's declared operator surface.

Every operator from SURVEY.md §2 lands here as a named query: a function
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string the driver runs side-by-side for the correctness gate.

Import order populates the registry; the explicit reorder below controls
the order ``queries()`` exposes. The correctness driver processes
queries in registration order and records only the FIRST 50, so the
registry is curated to hold every oracle-carrying query inside that
window: the similarity/streaming family (unchecked in round 2 purely by
position) leads, and the handful of genuinely rows-only queries
(impl-specific RNG/sketches/codecs — pytest-asserted instead) sit last.
"""

from .registry import QUERIES, oracle_sql, queries, register  # noqa: F401

# Registration side effects — each module adds its queries on import.
from . import relational  # noqa: E402,F401
from . import relational_ext  # noqa: E402,F401
from . import reference_model  # noqa: E402,F401
from . import reference_ext  # noqa: E402,F401
from . import llm_ops  # noqa: E402,F401
from . import scale_ops  # noqa: E402,F401
from . import streaming_batch  # noqa: E402,F401

#: Queries the driver window must cover first. ROUND-19 ROTATION —
#: this window executes the r18 ledger: (a) the eight standing family
#: witnesses stay at the head (the three hardened rank statistics and
#: the single-scan trim transform, then core relational, reference
#: family, true streaming and exact dedup), (b) the 21 r10-evidence
#: queries the freshness guard forces at r19 (newest driver row r10,
#: floor r11), (c) the first 21 of the 43-query r11-evidence cohort
#: (floor r12, so the whole cohort would be forced at r20 — pre-split
#: in half, as the r18 ledger asked). 8+21+21 = EXACTLY 50. The r17
#: window's other 42 queries rotated out: 37 oracled ones, each
#: driver-green in CORRECTNESS_r17/r18 with plans unchanged since, head
#: _OVERFLOW, and the five rows-only evidence debuts (rows recorded in
#: CORRECTNESS_r17 and r18) returned to _TAIL.
#:
#: ROUND-20 ROTATION LEDGER: the guard forces the REMAINING 22 r11-
#: evidence queries (the tail of _OVERFLOW's r12-rotation block) at
#: r20 — window them first; after that the oldest evidence is the r12
#: cohort (45 queries, floor r21), so r20 should pre-split it roughly
#: in half.
_PRIORITY = [
    # --- standing family witnesses: the r17 changed-plan witnesses
    # (overflow hardening + the single-scan trim transform), core
    # relational, reference family, true streaming, exact dedup ---
    "agg_mann_whitney_u",
    "agg_ks_two_sample",
    "agg_weekday_anova",
    "llm_substring_dedup_trim",
    "flagship_revenue_by_region",
    "ref_extract_functions",
    "stream_true_tumbling_availablenow",
    "llm_exact_dedup_documents",
    # --- guard-forced at r19: the 21 r10-evidence queries the r18
    # ledger scheduled (newest driver row r10) ---
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
    # --- r20 pre-split: the first 21 of the 43-query r11-evidence
    # cohort (newest driver row r11) ---
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

#: Operators registered straight into _OVERFLOW in the round that
#: bore them (the window was already full). Exempt from the
#: evidence-freshness guard until a later round's rotation windows
#: them; their oracles run in the pytest sweep from birth. EMPTY
#: after the r17 rotation: every r17-born operator was budgeted into
#: the window from birth (as in r16). Grow this set consciously — it
#: defers driver evidence by at least one round.
_BORN_IN_OVERFLOW: set[str] = set()

#: Oracle-CARRYING queries deliberately registered just past the
#: driver's 50-query window (it is full): their oracles still run in
#: pytest (tests/test_oracle_parity.py sweeps every oracle at sf0.01),
#: they just lose the per-round driver row. Every query below is
#: driver-green in some CORRECTNESS_r*.json artifact with plan code
#: unchanged since (pinned by tests/test_registry_window.py). Grow
#: this list consciously — whatever sits here trades driver-visible
#: correctness evidence for a slot.
_OVERFLOW = [
    # r19 rotation: the r17 window minus its standing witnesses and
    # rows-only debuts — every one driver-green in CORRECTNESS_r17
    # and r18 with plans unchanged since
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
    "agg_kaplan_meier_reorder",
    "agg_return_rate_fdr_bh",
    "agg_event_weekday_mutual_info",
    "llm_isotonic_quality_calibration",
    "llm_cdc_chunk_dedup",
    "llm_retrieval_eval_report",
    "agg_logrank_reorder_by_segment",
    # r17 rotation: the r16 window's changed-plan witness, the
    # 10-query r8 remainder, the 14 r15-session-2 newborns, and the
    # 14 other r16-born operators — every one driver-green in
    # CORRECTNESS_r16 with plans unchanged since
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
    "llm_dedup_grain_overlap",
    "agg_spearman_daily_correlation",
    "agg_chi_square_independence",
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
    # r16 rotation: the r15 changed-plan witnesses, the 31 r8-refresh
    # cohort, and the 6 other r15-born operators — every one
    # driver-green in CORRECTNESS_r15 with plans unchanged since
    "llm_decontaminate_ngram_sweep",
    "llm_upsample_plan_integer",
    "llm_fingerprint_method_agreement",
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
    "llm_substring_stopgram_audit",
    "llm_shard_mixing_audit",
    "llm_interleave_run_lengths",
    "stream_session_gap_sweep",
    # r15 rotation: the r14 _PRIORITY minus the four standing
    # witnesses (all driver-green in CORRECTNESS_r14, plans unchanged
    # since)
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
    # r15 rotation: the 17 other r14-born operators (driver-green in
    # CORRECTNESS_r14; the 3 parity-fix witnesses hold window slots)
    "agg_customer_interarrival_burstiness",
    "join_nation_trade_matrix",
    "llm_truncation_loss_curve",
    "llm_filter_ablation_matrix",
    "llm_kmv_distinct_audit",
    "llm_media_length_integrity",
    "llm_ann_bucket_width_sweep",
    "llm_rare_token_tail_mass",
    "llm_bigram_entropy_rate",
    "llm_norm_length_correlation",
    "llm_shard_count_balance_curve",
    "llm_media_sampling_budget",
    "llm_fim_split_plan",
    "llm_padding_waste_curve",
    "llm_decontaminate_token_mass",
    "stream_watermark_state_audit",
    "stream_shard_merge_lateness",
    # r14 rotation: the r13 _PRIORITY (changed-plan witnesses,
    # r12 overflow-born audits, r6/r7-evidence cohorts) — every one
    # driver-green in CORRECTNESS_r13, plans unchanged since
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
    # r14 rotation: the 16 other r13-born operators (all
    # driver-green in CORRECTNESS_r13; the 17th, the cap-loss audit,
    # holds a window slot as this round's changed-plan witness)
    "agg_orders_backlog_timeseries",
    "agg_referential_integrity_audit",
    "agg_brand_affinity_lift",
    "window_cusum_drift_alarm",
    "window_user_burst_rate",
    "agg_customer_spend_trend",
    "llm_dedup_threshold_sweep",
    "llm_semantic_outlier_docs",
    "llm_sign_hamming_topk",
    "llm_cross_source_neardup_matrix",
    "llm_ivf_cell_balance",
    "llm_embedding_coverage_audit",
    "llm_dedup_length_bias",
    "llm_media_payload_dedup",
    "llm_weak_link_edges",
    "stream_watermark_late_audit",
    # r13 rotation: the r12-born cohort — every one driver-green in
    # CORRECTNESS_r12, plans unchanged since
    "llm_heaps_law_by_source",
    "llm_char_class_profile",
    "agg_priority_late_orders",
    "agg_event_daily_anomaly",
    "agg_customer_ltv_cohorts",
    "llm_centroid_shift_by_label",
    "llm_unique_ngram_ratio",
    "llm_incremental_embedding_admission",
    "llm_minhash_bbit_audit",
    "llm_embedding_norm_outliers",
    "llm_js_divergence_source_pairs",
    "agg_reorder_gap_distribution",
    "stream_window_topk_events",
    "agg_supplier_concentration_hhi",
    "agg_customer_pareto_share",
    "llm_embedding_variance_spectrum",
    "llm_shard_balance_report",
    "agg_dau_wau_stickiness",
    "llm_shared_prefix_report",
    # r13 rotation: the r12 _PRIORITY (changed-plan witnesses + the
    # r4/r5-evidence cohorts, all driver-green in CORRECTNESS_r12)
    "llm_contrastive_pairs",
    "agg_benford_first_digit",
    "agg_event_drift_report",
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
    # r12 rotation: the whole round-11 window (12 r9-born + 8 store
    # witnesses + the r11-born operator batches) earned green r11
    # rows with plans unchanged since — rotated out to refresh the
    # r4/r5-evidence cohort. Its first 21 hold r19 window slots; the
    # 22 below are guard-forced at r20 (window them first next round)
    "llm_repetition_ngram_profile",
    "llm_dsir_importance",
    "llm_cluster_size_histogram",
    "llm_ctfidf_by_lang",
    "llm_tokenizer_fertility_by_lang",
    "llm_nb_langid",
    "llm_embedding_sq8_error",
    "llm_cross_source_overlap",
    "llm_boilerplate_sentences",
    "llm_jl_projection_audit",
    "llm_code_switch_docs",
    "llm_matryoshka_audit",
    "llm_domain_mix_temperature",
    "llm_blocklist_policy_filter",
    "llm_lsh_band_coverage",
    "agg_revenue_gini_by_nation",
    "llm_dedup_survivorship",
    "agg_functional_dependencies",
    "llm_incremental_simhash",
    "llm_topic_keyword_assignment",
    "llm_source_lang_entropy",
    "llm_setsim_join_exact",
]

#: Genuinely rows-only queries (no cross-engine oracle can exist:
#: engine-internal RNG streams, HLL sketch internals, spark.ml hash
#: seeds, binary codec stubs) — registered last, beyond the driver
#: window; their assertions live in pytest.
_TAIL = [
    "llm_approx_top_terms_sketch",
    "llm_multimodal_resize",
    "llm_multimodal_frame_sampling",
    "stream_shard_merge_lateness_approx",
    "llm_embedding_mahalanobis",
    # rows-only queries whose window tour is complete (modern driver
    # rows: r15/r16), rotated back to the tail
    "agg_approx_distinct_users",
    "sample_orders_seeded",
    "llm_media_payload_dedup_raw",
    "llm_multimodal_image_features",
    "llm_multimodal_audio_features",
    "stream_true_point_in_time",
    "stream_true_scd2_closed",
    "agg_sketch_rollup_users",
    # the r17/r18 rows-only evidence debuts (rows recorded in
    # CORRECTNESS_r17 and r18), rotated back at r19
    "stream_stateful_running_totals",
    "agg_percentile_prices_approx",
    "llm_ml_minhash_join",
    "llm_embedding_top_pc_power",
    "stream_true_neardup_admission",
]

# A typo'd name here would silently no-op the reorder; fail at import
# instead so a renamed query breaks loudly, not by drifting out of the
# driver's correctness window.
_unknown = [n for n in _PRIORITY + _OVERFLOW + _TAIL if n not in QUERIES]
if _unknown:
    raise RuntimeError(
        f"plans registry reorder names unknown queries: {_unknown}"
    )

_curated = set(_PRIORITY) | set(_OVERFLOW) | set(_TAIL)
_order = (
    _PRIORITY
    + [n for n in QUERIES if n not in _curated]
    + _OVERFLOW
    + _TAIL
)
_resorted = {n: QUERIES[n] for n in _order}
QUERIES.clear()
QUERIES.update(_resorted)
