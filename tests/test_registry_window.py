"""Driver-window rotation invariants (VERDICT r2 "next round" #1).

The driver's correctness harness hash-checks exactly the FIRST 50 entries
of ``queries()`` insertion order. These tests pin the window's
composition so a refactor can't silently rotate an unverified entry out
of driver sight, and assert the rotation leaves the registry itself
intact (same 100+ entries, same callables, every entry still covered by
the local oracle replica in test_oracle_parity.py).
"""

from __future__ import annotations

import pytest

from spacex_data_pipeline_spark.queries import DRIVER_WINDOW, REGISTRY, queries

# r14 window: the steady-state cadence (VERDICT r11 "next round" #1,
# re-prescribed r12 #1 and r13 #1) — the 11 r13 registrations (their
# first driver rows) plus 39 RE-VERIFICATION slots: the oldest
# remaining green rows by (last-green round, registry order), the 30
# remaining r7 rows plus the 9 oldest r8 rows — see the DRIVER_WINDOW
# comment in queries.py for the selection audit.
# NEW_AWAITING_WINDOW holds ONLY entries registered THIS round that
# missed the window; their gate is the local replica
# (tests/test_oracle_parity.py, exactly the driver's strictness: rows +
# schema + canonical value multiset). r15 is an optimization round and
# registers nothing; the 8 r14 registrations rotated INTO the r15
# window, so the set is empty.
# Everything in PREVIOUSLY_DRIVER_GREEN has a fully matching
# CORRECTNESS_r*.json row (r1-r15) under behavior-identical code.
NEW_AWAITING_WINDOW: set[str] = set()

PREVIOUSLY_DRIVER_GREEN = {
    # -- r15 window first-timers (the 8 r14 registrations), all green on
    #    rows, schema and hash (CORRECTNESS_r15) --
    "good_turing_coverage_estimate",
    "horvitz_thompson_strata_estimate",
    "ivfpq_append_recall_drift",
    "lsh_recall_vs_bands",
    "minhash_jaccard_calibration",
    "neardup_transitivity_audit",
    "ratio_estimator_orders",
    "source_epoch_plan",
    # -- r13 window first-timers (the 30 r12 registrations), all green
    #    (CORRECTNESS_r13: 50/50, zero err) --
    "repeat_purchase_curve",
    "priority_mix_shift_monthly",
    "user_event_degree_histogram",
    "weekday_adjusted_daily_volume",
    "median_order_gap_by_priority",
    "supplier_part_breadth",
    "discount_lift_by_year",
    "fixed_size_sample_events",
    "ngram_novelty_by_source",
    "char_class_profile_by_source",
    "split_source_mix_parity",
    "shard_balance_report",
    "neardup_cluster_length_spread",
    "source_curation_scorecard",
    "containment_groupkfold",
    "orders_open_backlog_daily",
    "max_drawdown_daily_revenue",
    "triangle_census_part_graph",
    "weighted_median_price_by_flag",
    "spend_quartile_migration_customers",
    "new_vs_returning_users_weekly",
    "purchase_burst_islands",
    "catalog_entry_curve",
    "quantile_store_monthly_read",
    "shingle_df_cap_loss_curve",
    "dedup_survivorship_shift",
    "sentence_stats_by_lang",
    "containment_chain_depth",
    "source_minhash_overlap",
    "similarity_margin_report",
    # -- r12 window first-timers (the 30 r11 registrations), all green
    #    (CORRECTNESS_r12: 50/50, zero err) --
    "pca_second_direction_embeddings",
    "pca_projection_map_by_label",
    "hll_register_store_users",
    "bitmap_rolling_active_users",
    "bitmap_audience_overlap_types",
    "customer_spend_percentiles_by_nation",
    "pca_explained_energy",
    "k_anonymity_customers",
    "vocab_overlap_langs",
    "hapax_legomena_by_lang",
    "token_rank_frequency_share",
    "yoy_nation_revenue_growth",
    "scd2_priority_version_durations",
    "lines_per_order_histogram",
    "attribution_first_touch",
    "systematic_sample_orders",
    "daily_count_trend_ols",
    "time_decayed_customer_value",
    "rolling_moments_zscore_daily",
    "langid_confusion_docs",
    "symspell_neighbor_pairs_customers",
    "mann_kendall_trend_daily",
    "theil_sen_daily_slope",
    "markov_stationary_event_mix",
    "dup_ngram_coverage_by_source",
    "containment_neardup_docs",
    "activity_streaks_users",
    "interarrival_dispersion_events",
    "trigram_diversity_by_source",
    "containment_prune_report",
    # -- r11 window first-timers (the 14 r10 registrations), all green
    #    (CORRECTNESS_r11: 50/50, zero err) --
    "pca_top_direction_embeddings",
    "pca_projection_scores",
    "attribution_lookback_sweep",
    "classifier_decile_lift",
    "dow_seasonality_events",
    "event_second_order_transitions",
    "ship_lag_percentiles_by_priority",
    "association_rules_parts",
    "moments_store_merge_orders",
    "pca_projection_by_label",
    "weekly_activity_heatmap",
    "order_gap_percentiles",
    "revenue_concentration_hhi",
    "doc_length_percentiles_by_lang",
    # -- r10 window first-timers, all green (CORRECTNESS_r10: 50/50, zero err) --
    "benford_first_digit_orders",
    "ab_funnel_stage_rates",
    "session_pattern_stats",
    "zorder_skipping_report",
    "skyline_parts",
    "time_weighted_value_events",
    "autocorr_daily_events",
    "multimodal_phash_neardup",
    "ohlc_daily_events",
    "resample_user_daily_locf",
    "dedup_threshold_sweep",
    "rolling_median_daily_events",
    "bitmap_distinct_users_daily",
    "event_disorder_report",
    "quantile_normalize_quality",
    "ivf_nprobe_recall_sweep",
    "sorted_layout_footer_report",
    "quantile_treatment_effects",
    "bitmap_retention_lag_curve",
    "pit_join_lineitem_priority",
    "bitmap_growth_accounting",
    "funnel_stage_latency_quantiles",
    # -- r9 window, all 50 green (CORRECTNESS_r09: 50/50, zero err) --
    "winsorized_order_totals",
    "multimodal_resize_meta",
    "multimodal_byte_features",
    "session_sequences_events",
    "conversion_latency_stats",
    "er_entity_golden_records",
    "embedding_gram_matrix",
    "embedding_covariance_matrix",
    "q8_market_share",
    "q13_order_count_distribution",
    "q15_top_supplier_revenue",
    "q17_small_quantity_revenue",
    "q22_dormant_high_balance",
    "q12_late_lines_by_status",
    "q16_supplier_relationship_count",
    "q21_suppliers_kept_waiting",
    "decontaminate_bloom_docs",
    "hll_mergeable_distinct_users",
    "cms_mergeable_user_counts",
    "quantile_sketch_store_orders",
    "dedup_jaccard_prefix_filtered",
    "orders_global_running_total",
    "feature_hash_docs",
    "hashed_nb_lang_classifier",
    "dsir_importance_scores",
    "group_kfold_components",
    "bloom_semi_lineitem_high_value",
    "mad_outliers_orders",
    "gini_customer_spend",
    "bm25_self_retrieval_mrr",
    "join_size_forecast_orders_lineitem",
    "lorenz_curve_customer_spend",
    "vocab_growth_curve",
    "model_curation_report",
    "cusum_changepoint_events",
    "ab_test_purchase_conversion",
    "chi_square_arm_event_mix",
    "cuped_adjusted_lift_spend",
    "mann_whitney_spend_by_arm",
    "distribution_drift_orders",
    "drift_summary_orders",
    "ks_drift_order_prices",
    "attribution_last_touch",
    "snapshot_fingerprint_orders",
    "experiment_power_mde",
    "session_incident_overlap",
    "q2_min_cost_supplier",
    "q11_important_part_share",
    "q20_excess_share_suppliers",
    "partition_coverage_report",
    # -- r8 window, all 50 green (CORRECTNESS_r08: 50/50, zero err) --
    "window_distribution_stats",
    "customer_spend_deciles",
    "window_running_distinct_users",
    "rfm_customer_segments",
    "range_join_event_windows",
    "q10_returned_item_customers",
    "pagerank_word_graph",
    "curriculum_order_docs",
    "quality_percentile_by_source",
    "exact_order_statistics_orders",
    "similarity_ivfpq_topk",
    "hybrid_retrieval_rrf",
    "pq_recall_report",
    "dedup_span_savings",
    "dedup_span_docs",
    "event_transition_matrix",
    "user_retention_cohorts",
    "dedup_span_rates_by_source",
    "text_clean_docs",
    "event_rate_anomalies",
    "text_trigram_typicality_by_lang",
    "bpe_merge_candidates",
    "er_fuzzy_pairs_customers",
    "er_fuzzy_match_stats",
    "key_skew_report_events",
    "heavy_hitters_event_users",
    "weighted_sample_docs",
    "textrank_keywords",
    "phrase_search_docs",
    "unpivot_lineitem_measures",
    "centroid_confusion_embeddings",
    "dau_wau_stickiness",
    "source_overlap_matrix",
    "er_blocking_report",
    "embedding_label_compactness",
    "word_graph_stats",
    "cohort_ltv_matrix",
    "basket_part_pairs",
    "q6_forecast_revenue",
    "q4_late_shipment_priority",
    "q7_nation_trade_volume",
    "q9_product_margin",
    "q14_promo_revenue_share",
    "q18_large_volume_customers",
    "q19_bracket_revenue",
    "semantic_decontaminate_embeddings",
    "cluster_quality_profile",
    "incremental_mart_refresh",
    "pii_rates_by_source",
    "profile_orders_columns",
    # -- r1-r7 rows --
    "anti_customers_without_orders",
    "applyinpandas_zscore",
    "approx_distinct_parts",
    "approx_quantiles_lineitem",
    "array_agg_nations_per_region",
    "array_functions_embeddings",
    "asof_join_last_purchase",
    "asof_join_next_purchase",
    "bigram_collocations_docs",
    "chunk_documents_overlap",
    "coalesce_case_scalar",
    "contrastive_pairs_embeddings",
    "corpus_token_budget",
    "corr_exact_by_flag",
    "count_distinct_customers_by_status",
    "cross_join_region_status",
    "cube_lineitem_flags",
    "data_quality_orders",
    "data_quality_relationships",
    "date_arithmetic_orders",
    "decontaminate_docs",
    "dedup_cluster_representatives",
    "dedup_components_docs",
    "dedup_cross_split_leakage",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_ivf",
    "dedup_exact_docs",
    "dedup_group_size_histogram",
    "dedup_incremental_snapshot",
    "dedup_latest_order_per_customer",
    "dedup_lines_by_source",
    "dedup_lines_docs",
    "dedup_lines_report",
    "dedup_minhash_lsh_verify",
    "dedup_neardup_rates_by_domain",
    "dedup_ngram_jaccard",
    "dedup_ngram_span_stats",
    "dedup_rates_by_domain",
    "dedup_rates_by_source",
    "dedup_reports",
    "dedup_savings_report",
    "dedup_simhash",
    "distinct_status_priority",
    "embedding_quantization_error",
    "embeddings_random_projection",
    "embeddings_unit_norm",
    "events_hourly_rollup",
    "explode_token_table",
    "fct_events_by_day",
    "fct_orders_by_year",
    "filter_pushdown_lineitem",
    "full_outer_year_activity",
    "funnel_conversion_rates",
    "funnel_view_click_purchase",
    "grouping_sets_orders",
    "having_active_customers",
    "histogram_order_totalprice",
    "hopping_window_event_counts",
    "interval_join_view_purchase",
    "knn_label_agreement",
    "left_join_customer_order_stats",
    "length_bucketed_batches_docs",
    "map_functions_events",
    "median_quantity_by_flag",
    "mixture_rebalance_plan",
    "mixture_temperature_sampling",
    "mode_priority_per_status",
    "multimodal_decode",
    "multimodal_frame_sample",
    "multimodal_media_meta",
    "order_nulls_and_offset",
    "pack_documents_token_bins",
    "pipeline_training_data_prep",
    "pivot_priority_by_status",
    "pq_encode_codes",
    "q1_pricing_summary",
    "q3_unshipped_revenue",
    "q5_nation_revenue",
    "quality_filter_funnel",
    "raw_count_orders",
    "resample_user_daily_gapfill",
    "rollup_orders",
    "salted_join_order_nations",
    "sample_orders_deterministic",
    "scalar_dates_orders",
    "scalar_functions_part",
    "scd2_customer_priority",
    "semi_customers_with_open_orders",
    "sessionize_events",
    "setop_except_customers",
    "setop_intersect_customers",
    "setop_union_customers",
    "shard_documents_for_training",
    "shingle_df_stats",
    "similarity_ann_lsh",
    "similarity_ivf_topk",
    "similarity_topk_cosine",
    "similarity_topk_pq",
    "similarity_topk_quantized",
    "snapshot_diff_orders",
    "source_mixture_report",
    "source_token_budget_cap",
    "source_typicality_report",
    "split_contamination_stats",
    "split_documents_train_val_test",
    "sql_api_returned_revenue",
    "stddev_exact_by_flag",
    "stg_events_typed",
    "stratified_sample_orders",
    "string_predicates_part",
    "subquery_above_nation_avg",
    "text_bm25_topk",
    "text_fingerprints_docs",
    "text_langid_docs",
    "text_quality_docs",
    "text_redact_pii",
    "text_repetition_stats",
    "text_stats_docs",
    "text_term_frequencies",
    "text_tfidf_top_terms",
    "text_trigram_typicality",
    "token_mass_models_by_source",
    "top_years_desc",
    "udtf_chunk_documents",
    "union_all_order_events",
    "url_canonicalize_docs",
    "window_lag_lead_first",
    "window_range_frame_events",
    "window_running_customer_spend",
    "window_top3_orders_per_customer",
    "winnowing_fingerprints_docs",
    "winnowing_near_pairs_docs",
    # -- r14 window first-timers (the 11 r13 registrations), all green
    #    (CORRECTNESS_r14: 50/50, zero err) --
    "bitmap_store_monthly_read",
    "bootstrap_poisson_revenue_ci",
    "chao1_vocab_estimate",
    "cms_store_monthly_read",
    "cross_source_copy_matrix",
    "degree_assortativity_part_graph",
    "event_type_diversity_users",
    "ivfpq_nprobe_recall_curve",
    "lsh_band_collision_curve",
    "neyman_allocation_orders",
    "ship_lag_interaction_effects",
}


def test_window_is_the_first_50_entries():
    assert len(DRIVER_WINDOW) == 50
    assert list(queries())[:50] == list(DRIVER_WINDOW)


def test_window_covers_every_never_driver_checked_entry():
    """Everything outside the window must have a prior driver-green row —
    i.e. no entry may end the round with zero driver verification ever
    (the r10 window holds re-verification slots, so window membership
    and PREVIOUSLY_DRIVER_GREEN may overlap; outside the window,
    green-row coverage is mandatory)."""
    outside = set(REGISTRY) - set(DRIVER_WINDOW)
    assert outside - PREVIOUSLY_DRIVER_GREEN <= NEW_AWAITING_WINDOW
    # and the ledger is complete + honest: every registry entry is
    # green, awaiting, or in this round's window — and nothing listed
    # as awaiting is stale (i.e. already green or already windowed)
    assert (
        PREVIOUSLY_DRIVER_GREEN | NEW_AWAITING_WINDOW | set(DRIVER_WINDOW)
        == set(REGISTRY)
    )
    assert not (NEW_AWAITING_WINDOW & PREVIOUSLY_DRIVER_GREEN)
    assert not (NEW_AWAITING_WINDOW & set(DRIVER_WINDOW))


def test_rotation_preserves_the_registry():
    assert len(REGISTRY) >= 100
    assert len(set(DRIVER_WINDOW)) == 50
    # every windowed entry is oracle-backed (the driver records a full
    # rows+schema+hash row for each, never the weaker rows-only check)
    missing_oracle = [n for n in DRIVER_WINDOW if REGISTRY[n].oracle is None]
    assert not missing_oracle


@pytest.mark.slow
def test_no_registry_entry_emits_nested_output(spark, sf_oracle, capfd):
    """The driver's canonicalizer pandas-sorts every output column and
    crashes on unhashable cells (r3: 3 driver-err rows from array-typed
    columns). Registry outputs must therefore be scalar-only — string
    lists get array_join'ed, float arrays get posexplode'd to
    (id, pos, value) rows. Library operators may still return arrays;
    this guards only the ``queries()`` projections the driver hashes.
    Schema inspection builds plans only — except entries composing the
    eagerly-checkpointed dedup intermediates (shingle/signature/
    fingerprint tables, the CC fixpoint), which materialize those at
    build by deliberate design (see ngram_jaccard_pairs' comment)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    capfd.readouterr()  # drain output from earlier tests / JVM startup
    for name, q in REGISTRY.items():
        schema = q.fn(spark, sf_oracle).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, f"nested output columns would crash the driver: {offenders}"

    # Tail-hygiene guard (VERDICT r10 hygiene #1/#2), piggybacked on the
    # one full plan-construction sweep this suite already pays for: a
    # same-name self-join predicate on shared-lineage frames resolves —
    # via Spark's dataset-id disambiguation — but emits
    # "WARN Column: Constructing trivially true equals predicate", and a
    # per-call UDTF registration under a fixed name emits a
    # SimpleTableFunctionRegistry "replaced" WARN; both classes are
    # banned (house rule: rename every side; register once per session).
    # capfd captures at the fd level, so the JVM's synchronous console
    # appender lands in the same buffer.
    err = capfd.readouterr().err
    noisy = [
        ln
        for ln in err.splitlines()
        if "Constructing trivially true equals predicate" in ln
        or "SimpleTableFunctionRegistry" in ln
    ]
    assert not noisy, f"bench-tail WARN classes regressed: {noisy[:5]}"


def test_ledger_artifact_in_sync():
    """LEDGER.md is generated, never hand-edited: it must equal a fresh
    render over the live registry, and the artifact-derived green set
    must equal the hand-maintained PREVIOUSLY_DRIVER_GREEN — tying the
    window-rotation bookkeeping to the recorded driver facts."""
    from pathlib import Path

    from spacex_data_pipeline_spark import ledger

    want = ledger.render(list(REGISTRY))
    have = Path(ledger.REPO_ROOT, "LEDGER.md").read_text()
    assert have == want, "LEDGER.md is stale - regenerate with: python -m spacex_data_pipeline_spark ledger > LEDGER.md"
    greens = set(ledger.green_rounds()) & set(REGISTRY)
    assert greens == PREVIOUSLY_DRIVER_GREEN
    # count header is pinned to the registry, like every coverage doc
    assert f"Registry: {len(REGISTRY)} entries" in have
