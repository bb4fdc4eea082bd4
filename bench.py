#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes through the ``noop`` sink — full pipeline execution
(scan → shuffle → agg), zero driver-side collection cost, which is the
honest way to time a distributed plan. Code paths are warmed at sf0.001
(codegen/classloading), then each query is timed TWICE at the target sf
and the min is reported — the steady-state number (first touch pays OS
page-cache misses the plan doesn't own). The headline set spans the
surface: reference mart, TPC-H-style agg/join, window, sessionization,
dedup (exact + n-gram + MinHash + embedding), similarity top-k, text
stats, multimodal decode, UDTF chunking, and the composed training-data
prep pipeline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "fct_orders_by_year",
    "q1_pricing_summary",
    "q3_unshipped_revenue",
    "q5_nation_revenue",
    "window_top3_orders_per_customer",
    "sessionize_events",
    "events_hourly_rollup",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "similarity_topk_cosine",
    "text_stats_docs",
    "multimodal_decode",
    "udtf_chunk_documents",
    "pipeline_training_data_prep",
]

# New-in-r3 operators, timed in their own section AFTER the headline
# loop: inserting them into HEADLINE would widen the gap between a
# query's two timed passes (more cache/codegen eviction in between) and
# make the shared-set numbers non-comparable with earlier rounds.
EXTENDED = [
    "decontaminate_docs",
    "dedup_savings_report",
    "funnel_view_click_purchase",
    "bigram_collocations_docs",
    # new in r4
    "dedup_cluster_representatives",
    "split_contamination_stats",
    "dedup_cross_split_leakage",
    # new in r5
    "shingle_df_stats",
    "source_mixture_report",
    "quality_filter_funnel",
    "knn_label_agreement",
    "source_token_budget_cap",
    "winnowing_fingerprints_docs",
    "winnowing_near_pairs_docs",
    "dedup_rates_by_source",
    "chunk_documents_overlap",
    "embedding_quantization_error",
    "dedup_group_size_histogram",
    # new in r6
    "similarity_topk_quantized",
    "mixture_rebalance_plan",
    "contrastive_pairs_embeddings",
    "dedup_reports",
    "dedup_lines_docs",
    "dedup_lines_report",
    "dedup_lines_by_source",
    "url_canonicalize_docs",
    "dedup_rates_by_domain",
    "dedup_incremental_snapshot",
    # new in r7 (contrastive_pairs_embeddings above now times the
    # two-level negative rank)
    "token_mass_models_by_source",
    "dedup_neardup_rates_by_domain",
    "text_bm25_topk",
    "dedup_ngram_span_stats",
    "text_trigram_typicality",
    "similarity_topk_pq",
    "mixture_temperature_sampling",
    "similarity_ivfpq_topk",
    "hybrid_retrieval_rrf",
    "dedup_span_docs",
    "user_retention_cohorts",
    "bpe_merge_candidates",
    "er_fuzzy_pairs_customers",
    "textrank_keywords",
    "weighted_sample_docs",
    "key_skew_report_events",
    "phrase_search_docs",
    "centroid_confusion_embeddings",
    "dau_wau_stickiness",
    "source_overlap_matrix",
    "rfm_customer_segments",
    "basket_part_pairs",
    # r7 TPC-H breadth (q1/q3/q5/q10 shapes are in HEADLINE already)
    "q6_forecast_revenue",
    "q4_late_shipment_priority",
    "q7_nation_trade_volume",
    "q9_product_margin",
    "q14_promo_revenue_share",
    "q18_large_volume_customers",
    "q19_bracket_revenue",
    "q8_market_share",
    "q13_order_count_distribution",
    "q15_top_supplier_revenue",
    "q17_small_quantity_revenue",
    "q22_dormant_high_balance",
    "q12_late_lines_by_status",
    "q16_supplier_relationship_count",
    "q21_suppliers_kept_waiting",
    "cms_mergeable_user_counts",
    "quantile_sketch_store_orders",
    "orders_global_running_total",
    "dedup_jaccard_prefix_filtered",
    # r7 semantic curation
    "semantic_decontaminate_embeddings",
    "cluster_quality_profile",
    "range_join_event_windows",
    "incremental_mart_refresh",
    "pii_rates_by_source",
    "profile_orders_columns",
    # r7 late: bloom-prefilter decontamination + resize plumbing
    "decontaminate_bloom_docs",
    "multimodal_resize_meta",
    # new in r8: q10 + iterative PageRank + curriculum schedule, plus the
    # three entries rewired from single-reducer windows onto the
    # two-phase prefix scan (regression watch for the rewrite)
    "q10_returned_item_customers",
    "pagerank_word_graph",
    "curriculum_order_docs",
    "window_distribution_stats",
    "customer_spend_deciles",
    "window_running_distinct_users",
    "quality_percentile_by_source",
    "exact_order_statistics_orders",
    "embedding_gram_matrix",
    "session_sequences_events",
    "embedding_covariance_matrix",
    "er_entity_golden_records",
    "winsorized_order_totals",
    "multimodal_byte_features",
    "conversion_latency_stats",
    # second r8 push: model-based data selection + planning tables
    "feature_hash_docs",
    "hashed_nb_lang_classifier",
    "dsir_importance_scores",
    "group_kfold_components",
    "bloom_semi_lineitem_high_value",
    "mad_outliers_orders",
    "gini_customer_spend",
    "lorenz_curve_customer_spend",
    "bm25_self_retrieval_mrr",
    "join_size_forecast_orders_lineitem",
    "vocab_growth_curve",
    "model_curation_report",
    "cusum_changepoint_events",
    # third r8 push: experiment statistics, drift suite, attribution,
    # fingerprints, interval-overlap, TPC-H q2/q11/q20 adaptations
    "ab_test_purchase_conversion",
    "chi_square_arm_event_mix",
    "cuped_adjusted_lift_spend",
    "mann_whitney_spend_by_arm",
    "experiment_power_mde",
    "distribution_drift_orders",
    "drift_summary_orders",
    "ks_drift_order_prices",
    "attribution_last_touch",
    "snapshot_fingerprint_orders",
    "session_incident_overlap",
    "q2_min_cost_supplier",
    "q11_important_part_share",
    "q20_excess_share_suppliers",
    "partition_coverage_report",
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
    # new in r10
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
    # new in r11 (second push)
    "mann_kendall_trend_daily",
    "theil_sen_daily_slope",
    "markov_stationary_event_mix",
    "dup_ngram_coverage_by_source",
    "containment_neardup_docs",
    "activity_streaks_users",
    "interarrival_dispersion_events",
    "trigram_diversity_by_source",
    "containment_prune_report",
    # new in r12
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
    # new in r12 (second push)
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
    # new in r12 (third push)
    "containment_chain_depth",
    "source_minhash_overlap",
    "similarity_margin_report",
    # new in r13
    "cms_store_monthly_read",
    "ivfpq_nprobe_recall_curve",
    "degree_assortativity_part_graph",
    "lsh_band_collision_curve",
    "cross_source_copy_matrix",
    "bootstrap_poisson_revenue_ci",
    "bitmap_store_monthly_read",
    "event_type_diversity_users",
    "ship_lag_interaction_effects",
    "neyman_allocation_orders",
    "chao1_vocab_estimate",
    # new in r14
    "good_turing_coverage_estimate",
    "horvitz_thompson_strata_estimate",
    "source_epoch_plan",
    "lsh_recall_vs_bands",
    "minhash_jaccard_calibration",
    "ivfpq_append_recall_drift",
    # new in r14, second push
    "ratio_estimator_orders",
    "neardup_transitivity_audit",
]


def _minhash_production(spark, sf_dir):
    """The registry entry is dedup_minhash_lsh_verify — a verification
    harness (it also computes the exact n-gram ground truth to check
    recall against the oracle). The bench times the production operator —
    the same candidate pipeline BENCH_r01 timed under this name — so
    rounds stay comparable."""
    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(catalog.table(spark, sf_dir, "documents"))


OVERRIDES = {"dedup_minhash_lsh": _minhash_production}

# Recorded inside the emitted JSON so round-over-round consumers can tell
# whether two BENCH files were produced the same way (ADVICE r2: the r1→r2
# methodology change — warmup + min-of-2 — made per-query comparisons
# subtly non-apples-to-apples with nothing in the artifact saying so).
METHODOLOGY = {
    "warmup": "one pass per query at sf0.001 (codegen/classloading)",
    "timed_passes": 3,
    "reported": "min of timed passes",
    "sink": "noop (full execution, no driver collect)",
    "skew_bench": (
        "single pass, identical boilerplate page replacing 20% of documents; "
        "the skew_er pair plants one shared name on 2% of customers and runs "
        "at sf0.01 (see _er); the r8 skew_globalrank pair times the "
        "unpartitioned-window NTILE vs the two-phase prefix scan on orders — "
        "at bench sf both fit one task, so the delta is the two-phase form's "
        "constant overhead, not its scale behavior; the r14 "
        "skew_lshband_viral pair runs the banded join on the FOOTER corpus "
        "(shared footer on distinct bodies — viral buckets from partial "
        "overlap, not exact duplication)"
    ),
    "shared_passes": (
        "an entry that rides a per-context shared pass pays the build in "
        "the first consumer's first timed pass, so min-of-3 reports the "
        "ridden (sweep-amortized) cost, not the standalone cost; nothing "
        "persists across bench invocations"
    ),
}


def _skewed_docs(spark, sf_dir):
    """Adversarial corpus: 20% of documents REPLACED by one identical
    boilerplate page (the cookie-wall / error-page shape real crawls are
    full of). Every hot doc shares every shingle with every other →
    C(n/5, 2) pair blowup in the shingle join and one degenerate LSH
    bucket per band — exactly what the df/bucket caps exist for
    (VERDICT r2 'next round' #4)."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog

    boiler = " ".join(f"boilerplate{i} legal notice terms apply" for i in range(9))
    docs = catalog.table(spark, sf_dir, "documents")
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.lit(boiler)).otherwise(F.col("text")),
    )


def _footer_docs(spark, sf_dir):
    """Footer-skew corpus: the boilerplate APPENDED to 20% of documents
    (shared legal footer on distinct bodies) — the shape where hot
    tokens generate quadratic equi-join candidates that almost all FAIL
    a high threshold; prefix filtering's textbook case."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog

    boiler = " ".join(f"boilerplate{i} legal notice terms apply" for i in range(9))
    docs = catalog.table(spark, sf_dir, "documents")
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat_ws(" ", F.col("text"), F.lit(boiler))
        ).otherwise(F.col("text")),
    )


def _er(spark, sf_dir, cap):
    # Runs at sf0.01 regardless of the bench sf: at sf0.1 the UNCAPPED
    # form took 530 s vs 9.5 s capped (56×, measured once) — the gap the
    # guard exists for, but 9 idle minutes per round is not a bench.
    # At sf0.01 the same shape measures ~2× and stays cheap.
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.linkage import blocked_fuzzy_pairs

    sf_dir = "/root/testdata/sf0.01"
    cust = catalog.table(spark, sf_dir, "customer").withColumn(
        "c_name",
        F.when(
            F.col("c_custkey") % 50 == 0, F.lit("Customer#000000000")
        ).otherwise(F.col("c_name")),
    )
    return blocked_fuzzy_pairs(cust, "c_custkey", "c_name", max_gram_df=cap)


def _semijoin(spark, sf_dir, bloom: bool):
    """Plain vs bloom-prefiltered left-semi: lineitems of the very top
    orders (totalprice > 450k ⇒ ~0.6% of orders). The bloom's win is
    probe-shuffle BYTES at cluster scale; single-JVM local[] has no
    network, so this measures the filter's constant overhead against
    whatever shuffle-volume saving survives in-process."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.relational import (
        bloom_prefilter_semi_join,
    )

    li = catalog.table(spark, sf_dir, "lineitem")
    build = (
        catalog.table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    if bloom:
        return bloom_prefilter_semi_join(li, build, "l_orderkey")
    return li.join(build, "l_orderkey", "left_semi")


def _globalrank_naive(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog

    o = catalog.table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", F.ntile(4).over(w).cast("int").alias("price_quartile")
    )


def _globalrank_twophase(spark, sf_dir):
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.relational import (
        global_row_number,
        ntile_from_rank,
    )

    o = catalog.table(spark, sf_dir, "orders")
    rn = global_row_number(
        o,
        grain=F.floor(F.col("o_totalprice") / F.lit(10000.0)),
        order=[F.col("o_totalprice"), F.col("o_orderkey")],
        alias="__rn",
        total_alias="__n",
    )
    return rn.select(
        "o_orderkey",
        ntile_from_rank(F.col("__rn"), F.col("__n"), 4).cast("int").alias(
            "price_quartile"
        ),
    )


def _overlap_inputs(spark, sf_dir):
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.sessionize import sessionize

    ev = catalog.table(spark, sf_dir, "events")
    sessions = sessionize(ev).select("user_id", "session_start", "session_end")
    eh = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n_err"))
    )
    m = eh.agg((F.sum("n_err") / F.count(F.lit(1))).alias("mean_err"))
    inc = (
        eh.crossJoin(F.broadcast(m))
        .filter(F.col("n_err") > F.col("mean_err"))
        .select(
            F.col("h").alias("incident_start"),
            (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("incident_end"),
        )
    )
    return sessions, inc


def _overlap_naive(spark, sf_dir):
    """Bare overlap predicate — Spark plans it as a broadcast nested
    loop: |sessions|·|incidents| comparisons."""
    from pyspark.sql import functions as F

    sessions, inc = _overlap_inputs(spark, sf_dir)
    return sessions.join(
        inc,
        (F.col("session_start") <= F.col("incident_end"))
        & (F.col("incident_start") <= F.col("session_end")),
    )


def _overlap_binned(spark, sf_dir):
    from spacex_data_pipeline_spark.operators.relational import (
        interval_overlap_join_binned,
    )

    sessions, inc = _overlap_inputs(spark, sf_dir)
    return interval_overlap_join_binned(
        sessions,
        inc,
        "session_start",
        "session_end",
        "incident_start",
        "incident_end",
    )


def skew_guard_bench(spark, sf_dir) -> dict[str, float]:
    """Capped-vs-uncapped wall time on the adversarial corpus — the
    timing evidence that the guards pay for themselves under skew."""
    from spacex_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_prefix_filtered,
        line_dedup_flags,
        containment_pairs,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from spacex_data_pipeline_spark.operators.text import winnowing_near_pairs

    docs = _skewed_docs(spark, sf_dir)
    variants = {
        "skew_ngram_uncapped": lambda: ngram_jaccard_pairs(docs, threshold=0.2),
        "skew_ngram_capped": lambda: ngram_jaccard_pairs(
            docs, threshold=0.2, max_shingle_df=50
        ),
        # r11: asymmetric containment on the same replaced-page corpus —
        # the hot boilerplate page makes the 20% identical docs pairwise
        # 100%-contained, the exact quadratic the df cap bounds; same
        # contract as the Jaccard cap (capped pairs subset, lower-bound
        # scores; test_scale_patterns pins it).
        "skew_containment_uncapped": lambda: containment_pairs(docs),
        "skew_containment_capped": lambda: containment_pairs(docs, max_shingle_df=50),
        # r7 late: PPJoin prefix filtering vs the equi-join, both at the
        # t=0.2 corpus threshold (where the replaced-page output is
        # quadratic and equi-join's constant wins) and at t=0.8 on the
        # footer shape (where candidate pruning is the whole game and
        # prefix wins — the literature's high-threshold regime). Exact
        # at any skew: no cap caveat on either prefix row.
        "skew_jaccard_prefix": lambda: jaccard_pairs_prefix_filtered(
            docs, threshold=0.2
        ),
        "skew_jaccard_hi_equijoin": lambda: ngram_jaccard_pairs(
            _footer_docs(spark, sf_dir), threshold=0.8
        ),
        "skew_jaccard_hi_prefix": lambda: jaccard_pairs_prefix_filtered(
            _footer_docs(spark, sf_dir), threshold=0.8
        ),
        "skew_minhash_uncapped": lambda: minhash_lsh_candidates(docs),
        "skew_minhash_capped": lambda: minhash_lsh_candidates(docs, max_bucket_size=50),
        # r14 (VERDICT r13 #5): the VIRAL-BUCKET shape for the banded
        # join itself — the footer corpus plants a shared legal footer on
        # 20% of otherwise-DISTINCT documents, so hot band buckets form
        # from partial overlap (footer-dominated minhash rows) rather
        # than exact duplication; together with the replaced-page pair
        # above this measures both ways an LSH bucket goes viral, and
        # the CAP LEVEL for this pair is what lsh_band_collision_curve
        # (cost) + lsh_recall_vs_bands (yield) calibrate — the full
        # sample → audit → choose → run loop for the banded-join family
        # (runbook: SCALE.md "Hot-bucket caps").
        "skew_lshband_viral_uncapped": lambda: minhash_lsh_candidates(
            _footer_docs(spark, sf_dir)
        ),
        "skew_lshband_viral_capped": lambda: minhash_lsh_candidates(
            _footer_docs(spark, sf_dir), max_bucket_size=50
        ),
        "skew_winnow_uncapped": lambda: winnowing_near_pairs(docs),
        "skew_winnow_capped": lambda: winnowing_near_pairs(docs, max_fp_df=50),
        # r6: 20% identical docs ⇒ their lines are corpus-wide hot keys —
        # window form funnels each hot line's D rows to one reducer; the
        # two-level aggregate+join form bounds every reducer.
        "skew_linededup_window": lambda: line_dedup_flags(docs),
        "skew_linededup_twolevel": lambda: line_dedup_flags(docs, two_level=True),
        # r7: entity resolution under name collisions — 2% of customers
        # share one name ⇒ every positional gram of that name is a hot
        # blocking key with df = n/50; uncapped, each contributes
        # (n/50)² candidate pairs before Levenshtein ever runs. Runs at
        # sf0.01 (see _er — at sf0.1 the uncapped form costs 530 s, and
        # at 20% dup density it did not finish inside 10 minutes).
        "skew_er_uncapped": lambda: _er(spark, sf_dir, cap=10**9),
        "skew_er_capped": lambda: _er(spark, sf_dir, cap=100),
        # r8: exact global rank — ONE unpartitioned window reducer vs the
        # two-phase prefix scan. At bench sf both fit one task, so this
        # measures the two-phase form's constant-factor overhead (the
        # price paid for bounded reducers at 100 TB, where the naive form
        # is a single task sorting the whole table and does not finish).
        "skew_globalrank_naive": lambda: _globalrank_naive(spark, sf_dir),
        "skew_globalrank_twophase": lambda: _globalrank_twophase(spark, sf_dir),
        # r8 late: explicit bloom pre-filter vs the plain left-semi on a
        # highly selective build side (see _semijoin — local[] has no
        # network, so the delta is the filter's constant cost vs the
        # in-process shuffle-volume saving; at cluster scale the saved
        # probe-shuffle bytes are the point).
        "skew_semijoin_plain": lambda: _semijoin(spark, sf_dir, bloom=False),
        "skew_semijoin_bloom": lambda: _semijoin(spark, sf_dir, bloom=True),
        # r8 third push: interval-overlap — bare predicate (nested loop,
        # |sessions|·|incidents| comparisons) vs the binned equi join
        # with responsibility-bin dedup. Same output rows (oracle-pinned
        # on the registry entry); the delta is the join algorithm.
        "skew_overlap_naive": lambda: _overlap_naive(spark, sf_dir),
        "skew_overlap_binned": lambda: _overlap_binned(spark, sf_dir),
    }
    out: dict[str, float] = {}
    for name, build in variants.items():
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def _group_exec_stats(spark, group_id: str) -> dict | None:
    """Per-query job/stage/task counts from the status tracker (r15,
    VERDICT r14 #2a: make core-count scaling legible IN the artifact).
    Every fixture table is one parquet file -> every scan stage is ONE
    task regardless of $SPARK_GRAFT_CPUS, so 8-core and 32-core runs tie
    on scan-bound queries; these counts let a reader attribute a
    scaling ratio ~1 to input layout instead of suspecting the bench
    ignores the cpus contract (bench.py reads it; session.py builds
    local[cpus] and sizes shuffle.partitions from it). Collected OUTSIDE
    the timed region; purely additive to bench_out.json."""
    try:
        t = spark.sparkContext.statusTracker()
        jids = t.getJobIdsForGroup(group_id)
        n_stages = n_tasks = max_stage_tasks = 0
        for j in jids:
            ji = t.getJobInfo(j)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = t.getStageInfo(sid)
                if si is None:
                    continue
                n_stages += 1
                n_tasks += si.numTasks
                max_stage_tasks = max(max_stage_tasks, si.numTasks)
        return {
            "jobs": len(jids),
            "stages": n_stages,
            "tasks": n_tasks,
            "max_stage_tasks": max_stage_tasks,
        }
    except Exception:
        return None


def _input_layout(spark, sf_dir: str) -> dict:
    """File size + planned scan-split count per fixture table — the
    in-artifact proof that every scan stage is single-task at bench SF
    (single parquet file, one row group; catalog's bytes-guarded fan-out
    deliberately never fires below 1 GiB)."""
    import glob as _glob

    from spacex_data_pipeline_spark import catalog

    out: dict[str, dict] = {}
    for tname in catalog.TABLES:
        path = os.path.join(sf_dir, f"{tname}.parquet")
        try:
            nbytes = (
                os.path.getsize(path)
                if os.path.isfile(path)
                else sum(
                    os.path.getsize(p)
                    for p in _glob.glob(os.path.join(path, "*"))
                    if os.path.isfile(p)
                )
            )
            # .rdd only PLANS the scan (no job); its partition count is
            # the split count the parquet source would schedule.
            nparts = catalog.table(spark, sf_dir, tname).rdd.getNumPartitions()
            out[tname] = {"bytes": nbytes, "scan_partitions": nparts}
        except Exception:
            continue
    return out


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i
    return s


def machine_calibration() -> dict:
    """Fixed CPU reference workloads, timed min-of-3 — recorded so
    CROSS-ROUND bench comparisons can separate plan regressions from
    host-speed drift. Round-7 observation: three same-code bench runs
    hours apart moved 12.3 → 14.6 → 16.2 s headline with every query
    (including trivially unchanged scans) scaling by the same factor —
    ambient host variance, invisible in /proc (no steal, fixed
    2.6 GHz, idle). Round-8 finding: the SINGLE-thread loop stayed flat
    (0.32–0.36 s) across a 12 → 16.4 s headline drift, so the drift
    lives in PARALLEL throughput (shared memory bandwidth / L3 /
    neighbor load — a 32-thread Spark stage feels it, a cache-resident
    single loop doesn't; measured 32-way scaling efficiency 0.61 during
    the slow run). Hence the second probe: 32 concurrent copies of the
    same loop — ``par_over_single`` is 1.0 on an idle exclusive host
    and grows with contention. Divide per-query times by the parallel
    factor to compare rounds; a real regression changes the RATIO."""
    best = float("inf")
    s = 0
    for _ in range(3):
        t0 = time.perf_counter()
        s = _burn(10_000_000)
        best = min(best, time.perf_counter() - t0)
    import multiprocessing as mp

    from spacex_data_pipeline_spark.session import default_parallelism

    n = default_parallelism()
    par = float("inf")
    try:
        with mp.Pool(n) as pool:
            for _ in range(2):
                t0 = time.perf_counter()
                pool.map(_burn, [10_000_000] * n)
                par = min(par, time.perf_counter() - t0)
    except Exception:
        par = float("nan")
    return {
        "py_loop_10m_sec": round(best, 4),
        "py_loop_10m_x32_wall_sec": round(par, 4),
        "par_over_single": round(par / best, 3) if par == par else None,
        "loop_check": s,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from spacex_data_pipeline_spark.queries import REGISTRY
    from spacex_data_pipeline_spark.session import build_session

    spark = build_session(
        app_name="spark-graft-bench",
        # keep the driver-parsed stdout tail free of progress-bar noise
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # one giant plan string (the dedup ladder) trips the default
            # 25-field toString truncation and WARNs once into the tail;
            # raising the cap keeps the driver-parsed tail pure signal
            "spark.sql.debug.maxToStringFields": "2000",
            # _group_exec_stats reads the status tracker, which keeps only
            # the most recent retainedJobs/retainedStages (default 1000
            # each). A whole sf0.1 pass runs ~2.2k jobs and ~4k stages, its
            # largest group ~35 jobs and ~60 stages; 10000 keeps every job
            # and stage of any group until its stats are read.
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )

    # Silence the sanctioned 'WindowExec: No Partition Defined' WARNs
    # (VERDICT r9 #4): every unpartitioned window in the registry runs
    # over an audited bounded post-aggregate frame, whitelisted BY NAME
    # in tests/test_plans.py::test_unpartitioned_windows_are_whitelisted
    # — that test is the regression guard, so the bench tail can stay
    # pure signal instead of burying a real warning under dozens of
    # sanctioned ones.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j1 fallback hosts just keep the warnings

    # Contention probe BEFORE the timed passes (VERDICT r9 #7): the r9
    # signature was a ramp (early run 0.976x, closing run 1.102x) only
    # visible across commits; pre+post probes put it inside one artifact.
    calibration_pre = machine_calibration()

    # Warm each query's code path once at the smallest sf (sf0.001 is ~1%
    # of the benchmark data) so the timed runs measure steady-state
    # execution, not first-call whole-stage-codegen compilation and
    # classloading — standard JVM benchmarking practice.
    for name in HEADLINE:
        try:
            fn = OVERRIDES[name] if name in OVERRIDES else REGISTRY[name].fn
            fn(spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass  # warmup is best-effort; the timed run surfaces real errors

    # Two timed passes, report the min: the first sf-target execution of a
    # query pays one-off costs the plan doesn't own (OS page-cache misses
    # on the big parquet files, AQE stats first-touch) — measured ~0.5 s
    # of pure cache noise on the lineitem queries. min-of-2 is the
    # steady-state number and is stable run-to-run.
    timings: dict[str, float] = {}
    exec_stats: dict[str, dict] = {}
    for _pass in range(3):
        for name in HEADLINE:
            fn = OVERRIDES[name] if name in OVERRIDES else REGISTRY[name].fn
            # Job-group label (guide §1.5) — set OUTSIDE the timer; lets
            # the status tracker attribute this query's jobs (including
            # eager-checkpoint jobs run at DataFrame construction, which
            # the timer deliberately includes) for exec_stats.
            group = f"{name}#p{_pass}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)
            stats = _group_exec_stats(spark, group)
            if stats is not None:
                exec_stats[name] = stats

    extended: dict[str, float] = {}
    for name in EXTENDED:
        try:
            REGISTRY[name].fn(spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass
    for _pass in range(3):
        for name in EXTENDED:
            group = f"{name}#p{_pass}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            elapsed = round(time.perf_counter() - t0, 3)
            extended[name] = min(extended.get(name, elapsed), elapsed)
            stats = _group_exec_stats(spark, group)
            if stats is not None:
                exec_stats[name] = stats
    spark.sparkContext.setJobGroup("bench-tail", "skew/calibration")

    skew = skew_guard_bench(spark, sf_dir)
    calibration = machine_calibration()  # post-run probe (kept under the
    # r8-era key so cross-round artifact diffs stay comparable)

    # Cross-round anchor (VERDICT r8 #5): the 12 queries benched since r1
    # (BENCH_r01.json, 10.088 s total at sf0.1) as one pre-computed field,
    # raw and calibration-normalized, so round-over-round comparison is a
    # ratio read, not a judge calculation. Normalization divides this
    # run's shared-12 wall by par_over_single (≈1.0 on an idle host, 2.03
    # during the r8 neighbor-load drift; the r1 run is taken as the ≈1.0
    # reference — its single-thread probe matched idle). Ratios only move
    # when PLANS move.
    r1_anchor = {
        "fct_orders_by_year", "q1_pricing_summary", "q3_unshipped_revenue",
        "q5_nation_revenue", "window_top3_orders_per_customer",
        "sessionize_events", "events_hourly_rollup", "dedup_exact_docs",
        "dedup_minhash_lsh", "similarity_topk_cosine", "text_stats_docs",
        "multimodal_decode",
    }
    _R1_SHARED12_SEC = 10.088
    shared12 = round(sum(t for n, t in timings.items() if n in r1_anchor), 3)
    # ADVICE r9: the calibrated ratio divides the whole wall by a
    # fully-parallel 32-way contention probe, which over-corrects unless
    # the queries saturate all cores exactly like the probe — so the RAW
    # ratio is the headline figure and the calibrated one is an
    # idle-host LOWER-BOUND estimate, computed conservatively with the
    # SMALLER of the pre/post probes (less correction).
    par_pre = calibration_pre.get("par_over_single")
    par_post = calibration.get("par_over_single")
    par = min(p for p in (par_pre, par_post) if p) if (par_pre or par_post) else None
    anchor = {
        "shared12_wall_sec": shared12,
        "shared12_vs_r1": round(shared12 / _R1_SHARED12_SEC, 3),
        "shared12_vs_r1_calibrated_lower_bound": (
            round(shared12 / par / _R1_SHARED12_SEC, 3) if par else None
        ),
        "n_shared": sum(1 for n in timings if n in r1_anchor),
        "calibration_note": (
            "raw ratio is the primary figure; the calibrated value is an "
            "idle-host lower-bound estimate (par_over_single>1 means the "
            "run shared the host with neighbor load; correction uses "
            f"min(pre={par_pre}, post={par_post}) of the two probes)"
        ),
    }

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    core = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    full = json.dumps(
        {
            **core,
            "extended_queries": extended,
            "skew_bench": skew,
            "calibration": calibration,
            "calibration_pre": calibration_pre,
            "calibration_post": calibration,
            "r1_anchor": anchor,
            # r15 (VERDICT r14 #2): per-query job/stage/task counts from
            # the final timed pass + the input file layout, so a cores
            # scaling ratio ~1 is attributable in-artifact (single-file
            # single-row-group fixtures -> every scan stage is 1 task;
            # post-shuffle stages have $SPARK_GRAFT_CPUS tasks).
            "exec_stats": exec_stats,
            "input_layout": _input_layout(spark, sf_dir),
            "methodology": METHODOLOGY,
        }
    )
    # Durable full artifact FIRST (BENCH_r05/r06 both lost their stdout
    # JSON to the driver's bounded tail capture — VERDICT r5 #3, r6 #2).
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
    with open(out_path, "w") as f:
        f.write(full + "\n")
    # The driver parses the stdout TAIL, which r5/r6 showed holds only the
    # last ~few KB — the 4 KB full line started mid-JSON and parsed null.
    # So the LAST stdout line is the compact driver schema alone
    # (metric/value/unit/queries/sf, ~700 bytes — fits any tail window);
    # extended/skew/methodology live in bench_out.json.
    spark.stop()  # flush any JVM stragglers BEFORE the parse-target line
    print(json.dumps(core), flush=True)


if __name__ == "__main__":
    main()
