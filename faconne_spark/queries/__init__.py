"""Query registry: every operator from SURVEY.md §2 as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle producing identical results on identical parquet."""

from __future__ import annotations

import collections
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Unresolved-relation memo for T() (optimization r13, guide §6 file
# listing / §5 driver work): every `spark.read.parquet(path)` builds a
# fresh InMemoryFileIndex — a driver-side file listing plus a parquet
# footer read for schema inference, ~80–190 ms per call — and the
# registry's queries construct their plans with ~1.5 T() calls each, so
# a full bench paid that listing thousands of times for ten immutable
# tables.  The memo stores the LAZY DataFrame (a logical plan: file
# list + schema), keyed by (Spark application, dir, table); every
# action against it still scans the parquet files from disk — no rows,
# no results, no computed intermediates are cached, exactly like a
# catalog table resolving its schema from the metastore instead of
# re-reading footers per query.  Keyed on applicationId so a new
# session never sees a stale JVM's plan.  Bounded by least-recent use
# (many tmp dirs in one test run).
_T_MEMO: collections.OrderedDict = collections.OrderedDict()
_T_MEMO_MAX = 256
_T_MEMO_LOCK = threading.Lock()


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (events.ts normalized to µs TIMESTAMP —
    the parquet column is TIMESTAMP(NANOS), which arrives as bigint
    nanos on Spark ≤ 4.0 + nanosAsLong and as timestamp_ntz on 4.1+).

    Assumes ``<sf_dir>/<name>.parquet`` is immutable for the life of
    the Spark application: the first call's file listing and schema
    are reused, so a table rewritten in place under the same path is
    not re-listed, and reads see the old schema and may hit missing
    files. Write a changed table to a new directory instead."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    with _T_MEMO_LOCK:
        df = _T_MEMO.get(key)
        if df is not None:
            _T_MEMO.move_to_end(key)
            return df
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from faconne_spark.streaming import ensure_event_time

        df = ensure_event_time(df)
    with _T_MEMO_LOCK:
        _T_MEMO[key] = df
        if len(_T_MEMO) > _T_MEMO_MAX:
            _T_MEMO.popitem(last=False)
    return df


# The driver's correctness gate is time-boxed and walks queries() in dict
# order, ~50 keys per round.  Union coverage closed at 108/108 in r3, so the
# order now front-loads the keys whose IMPLEMENTATIONS changed this round —
# the ones whose green row is stale — followed by the rest in r3 order.
#
# ORDERING INVARIANT (learned the hard way in round 4, where positions
# 50-54 fell outside the driver's window and went a round with stale
# rows): keys that are NEW or whose implementation/oracle CHANGED this
# round must (a) number at most 50 and (b) appear before every unchanged
# key.  The block is a SEPARATE list so the window-discipline guard
# (tests/test_window_discipline.py) can mechanically assert both:
# any key whose plan snapshot drifted from the stamped round-close
# manifest must appear here, and the block must fit the window.
_CHANGED_THIS_ROUND = [
    # ================= r13 changed block (count <= 50!) ================
    # Round 13 is the second OPTIMIZATION round: no new keys, no oracle
    # changes — entries here are keys whose SPARK PLAN (hence snapshot
    # stamp) drifted under a performance rewrite.  Results are
    # oracle-identical (canon-proven at each change, per-change evidence
    # in OPTIMIZATION_r13.md); the fresh driver rows re-prove them
    # independently.
    # -- wave 1: spread() on the Poisson-bootstrap explode (the xB
    #    md5 map ran on ONE core off the single-split events scan) --
    "events_value_bootstrap",
    "events_bootstrap_merged",
    # -- wave 1: unrolled dot kernels at the TRUNCATED width in the
    #    matryoshka ablation / RRF prefix probe (the dim=64 size guard
    #    failed on sliced rows and fell back to the interpreted fold;
    #    expression-level change, normalized outline unchanged) --
    "embed_matryoshka_recall",
    "ann_rrf_fusion",
    # -- wave 2: spread() ahead of map-heavy aggregates running on the
    #    single-split scans (expand x4 countDistinct survivorship /
    #    exact-percentile partial buffers) --
    "customer_order_golden",
    "lineitem_unitprice_iqr_outliers",
    # -- wave 3: fused synthesize+resize single Arrow pass (payloads no
    #    longer cross the Python boundary; see multimodal.
    #    resize_mixed_report) --
    "mm_resize",
    # -- wave 4: fused synthesize->extract single Arrow pass for the
    #    gate keys (multimodal.fused_media_stats; identical per-doc
    #    builders/reductions, one boundary crossing instead of two) --
    "mm_flac_stats",
    "mm_gif_animation",
    "mm_mp4_frames",
    "mm_mp4_fragmented",
    "mm_jpeg_progressive",
    "mm_jpeg_decode",
    "mm_jpeg_ahash",
    "mm_gif_ahash",
    "mm_gif_decode",
]

_REST = [
    # -- the r12 changed block, rotated out at the r13 open (every key
    #    has a fresh green r12 driver row), original order --
    "events_value_theil_by_type",
    "events_hour_kl_uniform",
    "events_type_gap_median",
    "events_value_filliben_normality",
    "docs_token_lorenz_deciles",
    "docs_len_by_freq_decile",
    "docs_source_topk_chi2",
    "customer_nation_balance_kruskal",
    "embed_dim_sign_balance",
    "orders_totalprice_weibull_ventiles",
    "events_daily_cusum_max",
    "events_type_value_ks_matrix",
    "customer_neg_balance_share",
    "lineitem_tax_discount_corr",
    "events_user_gap_autocorr",
    "events_hourly_peak_trough",
    "docs_freq_spectrum_shares",
    "events_weekend_anderson_darling",
    "docs_lang_mix_entropy",
    "events_hour_value_median_profile",
    "docs_ttr_quantiles",
    "customer_segment_welch_pairs",
    "events_daily_permutation_entropy",
    "events_daily_grubbs",
    "events_daily_max_drawdown",
    "events_hour_hellinger_weekend",
    "events_value_levene",
    "events_type_daily_xcorr",
    "embed_label_silhouette",
    "orders_customer_tenure_quartiles",
    "docs_source_wasserstein",
    "events_hour_tv_distance",
    "stream_ph_drift",
    "events_daily_blomqvist_beta",
    "orders_priority_shiplag_somers_d",
    "ann_panel_epsilon_degree",
    "copurchase_degree_assortativity",
    "dedup_cascade",
    "dedup_keep_best",
    "dup_graph_lpa",
    "dup_graph_pagerank",
    "part_copurchase_jaccard",
    "part_copurchase_ra",
    "training_manifest",
    "events_daily_turning_points",
    # -- unchanged keys (fresh r11 rows), r11 order --
    "events_value_quartile_dispersion",
    "docs_word_burstiness_fano",
    "events_value_lorenz_asymmetry",
    "part_brand_price_icc",
    "events_weekly_user_jaccard",
    "orders_interpurchase_lognormal_fit",
    "customer_segment_simpson_diversity",
    "lineitem_qty_discount_kendall",
    "events_daily_periodogram",
    "events_daily_hurst_rs",
    "events_weekend_cvm",
    "docs_mattr",
    "embed_anisotropy_panel",
    "events_spectral_entropy",
    "events_gap_weibull_fit",
    "events_weekend_energy_distance",
    "orders_monthly_seasonal_strength",
    "events_daily_acf_ljungbox",
    "events_value_mad_by_type",
    "events_value_gini_by_type",
    "docs_word_recurrence_gap",
    "docs_vocab_gini",
    "docs_length_freq_spearman",
    "lineitem_qty_twoway_anova",
    "embed_panel_knn_reciprocity",
    # -- unchanged keys (fresh r10 rows), r10 order --
    "orders_priority_shiplag_ks", "events_active_days_gini",
    "events_transition_asymmetry", "docs_source_simpson_diversity",
    "events_daily_runs_test", "part_size_price_spearman", "docs_bigram_pmi_top", "docs_quality_length_spearman",
    "events_value_kruskal_by_dow", "events_weekday_friedman",
    "events_value_bowley_skew", "mm_gif_pixel_entropy",
    "events_type_value_qq",
    "ann_hubness", "embed_twonn_intrinsic_dim",
    "events_monthly_max_gumbel",
    "events_volume_value_kendall",
    "events_weekend_cliffs_delta",
    "events_type_median_test",
    "events_value_moors_kurtosis",
    "events_value_expected_shortfall",
    "events_weekly_cohort_halflife",
    "docs_yule_k",
    "docs_adjacent_repeat_rate",
    "docs_word_bigram_cond_entropy",
    "docs_word_length_profile",
    "mm_png_channel_stats",
    "embed_dim_kurtosis",
    "orders_status_priority_cramers_v",
    "docs_vocab_chao1_unseen",
    "docs_bigram_kn_discount",
    "events_gap_geometric_gof",
    "events_value_differential_entropy",
    "mm_audio_zero_crossings",
    "orders_value_hill_tail",
    "events_dow_hour_mi",
    "mm_jpeg12_decode",
    "docs_lexical_richness_indices",
    "orders_totalprice_benford12",
    # -- unchanged keys (fresh r9 rows), r9 order --
    "mm_image_ahash",
    "events_type_share_drift_jsd", "events_user_entropy_quantiles",
    "copurchase_clustering_coeff", "orders_priority_balance_catrend",
    "orders_value_decile_migration", "ann_label_consistency",
    "docs_ocr_garbage_score",
    "lineitem_qty_discount_ols", "docs_source_unigram_jsd",
    "events_conversion_hazard", "supplier_part_concentration_gini",
    "events_stickiness_ratio",
    "events_dow_volume_anova", "orders_value_cv_by_segment",
    "events_type_cooccurrence_pmi", "docs_char_bigram_cond_entropy",
    "events_value_spearman_daily", "docs_vocab_growth_heaps",
    "orders_revenue_theil_nation", "events_daily_overdispersion",
    "part_brand_price_kruskal", "events_value_brownforsythe",
    "orders_seasonal_naive_mase", "docs_word_dispersion_dp",
    "embed_dim_variance_concentration", "events_weekend_wilcoxon",
    "orders_priority_value_gamma", "events_hourly_profile_correlation",
    "docs_hapax_rate",
    "docs_length_lognormal_fit", "mm_audio_silence_runs",
    "events_user_degree_powerlaw_mle", "docs_source_topword_rbo",
    "customer_order_value_icc", "events_value_jarque_bera",
    "events_user_count_nbd_fit", "orders_monthly_theil_sen",
    "events_hour_circular_stats", "embed_norm_label_anova",
    "events_benford_second_digit",
    # -- unchanged keys (fresh r8 rows), r8 order --
    "lineitem_ship_lag_quantiles", "events_session_quantiles",
    "orders_interpurchase_quantiles", "events_user_lifetime_quantiles",
    "events_value_quantiles", "events_value_quantiles_merged",
    "events_quantile_calibration", "events_winsorized_stats",
    "embed_norm_quantiles", "docs_source_length_quantiles",
    "events_value_weighted_quantiles", "events_ab_cuped", "events_hour_hhi",
    "docs_file_sample", "docs_profile_completeness", "ntile_custbal_deciles",
    "orders_lorenz_curve", "events_whale_share", "orders_pareto_8020",
    "dedup_bloom_merged", "docs_bpe_token_counts",
    "mm_png_decode", "fk_orphan_audit",
    "pk_duplicate_audit", "docs_hash_uniformity_chi2",
    "events_interarrival_cv", "events_changepoint_binary",
    "events_dow_type_decomp", "events_kmv_precision_sweep",
    "brand_price_volume_decomp", "docs_prefix_boilerplate", "embed_cosine_pair_histogram",
    "docs_source_vocab_overlap", "part_brand_type_mi",
    "supplier_balance_mad_outliers", "dup_pairs_transitivity",
    "events_markov_stationary", "ann_mrr_eval", "docs_perplexity_buckets",
    "customer_segment_balance_anova", "docs_cross_source_duplication",
    "orders_status_age_quantiles", "embed_centroid_separation",
    "orders_reorder_acceleration", "part_size_brand_ks",
    "events_dau_mann_kendall",
    # -- unchanged keys (fresh r1-r7 rows), prior order --
    "events_funnel_ci", "docs_lang_purity_ci", "orders_priority_mix_drift",
    "events_markov_cond_entropy", "part_brand_supplier_hhi",
    "events_burstiness", "docs_filter_confusion", "events_weekend_effect",
    "events_ab_power", "events_hll_merged", "docs_cms_topk_merged",
    "events_auc_merged", "events_mann_kendall_trend",
    "events_autocorr_daily", "customer_segment_nation_chi2",
    "events_value_ecdf", "events_session_bounce", "orders_repeat_rate_ci",
    "events_transition_lift", "docs_simhash_bit_bias",
    "lineitem_discount_lift", "docs_ttr_by_source", "events_hill_tail_alpha",
    "orders_order_size_hist", "docs_dedup_survivor_bias",
    "docs_ngram_coverage_curve", "part_type_price_dispersion",
    "supplier_debt_rate_ci", "docs_char_entropy_by_lang",
    "events_gap_survival", "customer_balance_vs_orders_corr",
    "part_brand_price_premium", "lineitem_qty_returnflag_ks",
    "events_ks_merged", "events_kmv_merged", "docs_stopword_rate_by_lang",
    "part_size_vs_price_corr", "events_kmv_distinct", "events_kmv_overlap", "customer_fs_scores",
    "orders_basket_confidence", "part_skyline_by_brand", "docs_vocab_kmv",
    "events_auc_purchase", "events_ks_value_drift",
    "docs_rater_kappa", "part_copurchase_kcore", "events_day_concurrency", "events_benford",
    "events_quantile_normalize", "events_type_value_mi",
    "events_type_entropy", "events_active_users_rollup", "events_pr_auc",
    "docs_reliability_curve", "dedup_changefeed", "events_purchase_rate_ci",
    "events_ab_srm", "dedup_simhash_hamming_hist",
    "events_chi2_type_dow", "dedup_lsh_banding_sweep",
    "events_new_vs_returning", "dup_cluster_source_mix",
    "events_topk_user_churn", "embed_pq_distortion", "orders_basket_chi2",
    "lineitem_return_rate_ci", "events_retention_ci", "fac_campus_report",
    "fac_expand_aggs", "dedup_stitch", "quality_feature_cov", "events_ab_test", "customer_fuzzy_matches",
    "embed_pca_gramian", "dedup_semantic", "text_tokenizer_fertility",
    "docs_ngram_novelty", "docs_cdc_chunks", "docs_token_cms_topk",
    "docs_dsir_resample", "dedup_cdc", "events_ab_sequential",
    "events_hll_distinct", "dedup_bloom_prefilter", "events_ewma",
    "events_hll_overlap", "mm_audio_resample", "events_cusum_drift",
    "docs_split_leakage", "dedup_setsim_prefix",
    "sample_priority", "events_hourly_seasonality", "docs_source_lang_kl",
    "embed_centroid_drift", "fac_pyagg_second_top", "dedup_recent_window",
    "win_rolling_7d", "join_size_from_stats", "docs_nb_quality_classifier",
    "ann_nprobe_sweep", "events_conversion_lag", "events_anomaly_seasonal",
    "orders_revenue_gini", "events_sessionize", "events_audience_overlap",
    "orders_basket_lift", "part_skyline", "embed_diversity",
    "events_range_partition_plan", "mm_scene_cuts",
    "text_gopher_rules", "docs_importance_weights", "docs_bpe_pair_counts",
    "events_fill_forward", "dup_graph_triangles", "events_incremental_stats",
    "dedup_minhash_pr", "text_boilerplate_segments", "pack_training_chunks",
    "docs_chunk_overlap", "docs_bigram_logprob", "contamination_embedding",
    "sample_temperature", "events_anomaly_mad", "scd2_customer_merge",
    "docs_zipf_slope", "events_zorder_key",
    "mm_audio_stats", "customer_ltv_cohorts", "events_path_ngrams",
    "embed_quantize_int8", "ann_hard_negatives",
    "ann_recall_eval", "text_readability", "dedup_minhash_calibration",
    "embed_threshold_sweep", "join_skew_report", "corpus_snapshot_diff",
    "events_attribution", "mm_image_meta", "mm_frame_sample",
    "dedup_containment", "dedup_winnowing", "dedup_clusters",
    "dup_graph_stats", "dedup_simhash", "dedup_minhash_lsh",
    "dedup_incremental", "user_rfm_segments", "quality_gate", "text_lang_id",
    "fac_store_products", "events_json_props", "lang_id_trained",
    "text_token_count", "text_repetition", "docs_topk_ngrams",
    "customer_order_reconciliation", "text_quality",
    "sql_api_segment_revenue", "sample_stratified", "sliding_window_counts",
    "cap_per_source", "source_stats", "text_pii_scrub", "doc_len_histogram",
    "events_retention_cohorts", "vocab_coverage", "corpus_health",
    "events_markov_transitions", "text_token_entropy", "embed_norm",
    "events_window_zscore", "stream_session_agg", "stream_window_counts",
    "lang_id_confusion", "part_price_stats", "corpus_mixture_plan",
    "embed_label_centroids", "knn_classify_labels", "text_unigram_logprob",
    "pipeline_clean_corpus", "ann_lsh_bucketed", "contamination_ngram",
    "orders_monthly_yoy", "ann_cosine_topk", "doc_tfidf_keywords",
    "embed_outliers", "dedup_embedding_cosine", "ann_ivf",
    "basket_part_pairs", "ann_pq_adc", "ann_ivf_pq", "text_fingerprint",
    "ann_ivf_kmeans", "neardup_rate_by_source",
    # -- stable since r1-r3, never re-ordered: explicit so the
    #    window-discipline union assertion covers the whole registry --
    "fac_group_report", "fac_unnest_roundtrip", "fac_invert_map",
    "fac_where_pushdown", "fac_pairs_sum", "fac_vector_partition",
    "fac_conditional_key", "fac_argmax", "tpch_q1_pricing",
    "tpch_q3_shipping", "tpch_q4_priority", "tpch_q5_local_volume",
    "tpch_q6_forecast", "tpch_q10_returns", "tpch_q14_promo",
    "tpch_q18_large_orders", "tpch_q7_nation_volume", "tpch_q13_order_counts",
    "tpch_q17_small_qty", "tpch_q19_disjunctive", "tpch_q22_dormant",
    "win_running_total", "win_order_gaps", "win_top_orders_per_cust",
    "asof_join_events", "range_join_events", "pivot_events", "rollup_orders",
    "cube_lineitem_volume", "tpch_q2_min_cost_supp", "tpch_q8_market_share",
    "tpch_q9_product_profit", "tpch_q11_important_parts",
    "tpch_q12_ship_lateness", "tpch_q15_top_supplier",
    "tpch_q16_part_supplier_cnt", "tpch_q20_excess_shipments",
    "tpch_q21_waiting_suppliers", "set_ops_retention",
    "percentile_order_value", "grouping_sets_orders", "events_funnel",
    "dedup_exact", "dedup_ngram_jaccard",
]

# changed keys lead; a key promoted into the changed block drops out of
# its old tail position automatically (no manual dedup as the block
# grows through the round)
_FIRST = _CHANGED_THIS_ROUND + [
    k for k in _REST if k not in set(_CHANGED_THIS_ROUND)
]


def _merged(attr: str) -> dict:
    from faconne_spark.queries import (
        bank_r6,
        bank_r7,
        bank_r8,
        bank_r9,
        bank_r10,
        bank_r11,
        bank_r12,
        curation,
        round11,
        round12,
        faconne_demo,
        pipeline,
        round7,
        round8,
        round9,
        round9b,
        round10,
        staged_r9,
        stats_r7,
        tpch,
        tpch_ext,
    )

    merged = {}
    for mod in (
        faconne_demo, tpch, tpch_ext, pipeline, curation, bank_r6, bank_r7,
        round7, stats_r7, bank_r8, round8, bank_r9, staged_r9, round9,
        round9b, bank_r10, round10, bank_r11, round11, bank_r12,
        round12,
    ):
        merged.update(getattr(mod, attr))
    out = {k: merged[k] for k in _FIRST if k in merged}
    out.update(merged)
    return out


def all_queries() -> dict:
    return _merged("QUERIES")


def all_oracles() -> dict:
    return _merged("ORACLES")
