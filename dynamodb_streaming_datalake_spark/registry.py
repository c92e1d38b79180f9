"""Query registry: the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
query ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent DuckDB oracle SQL. ``__spark_entry__`` simply re-exports these
dicts, and ``tests/test_oracle_parity.py`` replays the exact driver
comparison locally.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Deliberate driver-facing ordering. The driver's CORRECTNESS gate records
# exactly the first 50 entries of ``all_queries()``, so ordering is part of
# the proof surface, not cosmetics. Rotation rule: never-driver-proven
# names first, then re-proofs in staleness order — ascending latest-proof
# round, stable tie-break (scripts/rotate_window.py derives and checks
# this mechanically). Names not listed here (mid-round
# registrations) order after the listed ones, behind the window, and join
# the derivation at the next rotation — so a future registration can never
# silently eject a listed query from the window.
#
# PRIORITY derived by scripts/rotate_window.py from
# CORRECTNESS_r*.json (latest: r17).  Do not hand-order;
# regenerate after each driver round.  Derivation: the
# 56 never-driver-proven names lead, then proofs
# ascending by round (stable tie-break: prior order).
PRIORITY: tuple[str, ...] = (
    # -- never driver-proven --
    "q_permutation_test",
    "q_cluster_robust_se",
    "q_ipw_ate",
    "q_matched_pairs",
    "q_regression_discontinuity",
    "q_raking",
    "q_quantile_treatment_effect",
    "q_stateful_latest_state",
    "q_enrich_stream",
    "q_hits",
    "q_stream_sessionize",
    "q_stream_enrich_scd2",
    "q_kcenter_seeds",
    "q_kmeans",
    "q_ann_serve_pq",
    "q_embedding_outliers",
    "q_ann_codes_stream",
    "q_label_propagation",
    "q_unigram_tokenize",
    "q_ri_audit",
    "q_pagerank",
    "q_bpe_train",
    "q_bpe_tokenize",
    "q_blocking_eval",
    "q_kcore",
    "q_shortest_paths",
    "q_degree_stats",
    "q_tokenizer_eval",
    "q_pq_quantize",
    "q_ann_pq",
    "q_ann_pq_rerank",
    "q_ann_ivfpq",
    "q_ann_pq_filtered",
    "q_mmr_diverse",
    "q_embedding_covariance",
    "q_mvcc_timetravel",
    "q_dedup_stream",
    "q_bloom_stream",
    "q_ann_index_stream",
    "q_ohlc_stream",
    "q_sprt_stream",
    "q_mvcc_changefeed",
    "q_decontaminate_stream",
    "q_probe_stream",
    "q_incr_agg_stream",
    "q_view_compaction",
    "q_changefeed_refresh",
    "q_partial_update_stream",
    "q_mvcc_vacuum",
    "q_cms_stream",
    "q_hll_stream",
    "q_bandit_stream",
    "q_ri_audit_incr",
    "q_theta_stream",
    "q_hll_rolling_stream",
    "q_ams_stream",
    # -- proven r11 --
    "q_media_jpeg",
    "q_media_gif",
    "q_media_tiff",
    "q_dedup_apply",
    "q_dedup_apply_clustered",
    "q_sequence_pack",
    "q_stratified_cap",
    "q_salted_join",
    "q_zorder_scan",
    "q_schema_evolution",
    "q_csv_roundtrip",
    "q_orc_roundtrip",
    "q_avro_scan",
    "q_warc_ingest",
    "q_stream_attribution",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q_latest_state_per_key",
    "q_merge_snapshot_cdc",
    "q_scd2_intervals",
    "q_bloom_prejoin",
    "q_cdc_zone_roundtrip",
    "q_grouping_sets",
    "q_window_time_range",
    "q_user_value_deciles",
    "q_gap_fill_hourly",
    "q_user_last_event",
    "q_sessionize",
    "q_unpivot_event_matrix",
    "q_text_stats",
    "q_text_langid",
    "q_text_fingerprint",
    "q_lang_distribution",
    # -- proven r12 --
    "q_dedup_incremental",
    "q_ann_ivf",
    "q_media_decode",
    "q_media_frame_stats",
    "q_media_audio_stats",
    "q_media_wav",
    "q_media_ppm",
    "q_corpus_curation",
    "q_benford_audit",
    "q_mad_outliers",
    "q_holt_trend",
    "q_cumulative_users",
    "q_grouped_forecast",
    "q_vocab_growth",
    "q_ngram_novelty",
    "q_rake_keywords",
    "q_pca_power",
    "q_ann_serve",
    "q_pack_nextfit",
    "q_target_encoding",
    "q_column_correlation",
    "q_lift_deciles",
    "q_markov_eval",
    "q_srm_check",
    "q_text_repetition",
    "q_doc_chunks",
    "q_tfidf_terms",
    "q_heavy_hitters",
    "q_ann_topk",
    "q_ann_lsh",
    "q_embedding_quantize",
    "q_ann_filtered",
    "q_udf_vector_norms",
    "q_sample_deterministic",
    "q_training_mix",
    "q_token_budget",
    "q_decontaminate",
    "q_k_anonymize",
    "q_pii_redact",
    "q_zip_ingest",
    "q_tgz_ingest",
    "q_window_tumbling",
    "q_window_sliding",
    # -- proven r13 --
    "q_embedding_silhouette",
    "q_source_overlap",
    "q_triangle_count",
    "q_ohlc_bars",
    "q_gini_coefficient",
    "q_feature_hashing",
    "q_zipf_fit",
    "q_token_entropy",
    "q_random_projection",
    "q_cluster_purity",
    "q_neyman_allocation",
    "q_dp_counts",
    "q_sprt_monitor",
    "q_conformal_calibrate",
    "q_diff_in_diff",
    "q_window_session",
    "q5_nation_revenue",
    "q_customers_without_orders",
    "q_suppliers_with_bulk_sales",
    "q_rollup_events",
    "q_user_event_history",
    "q_topk_orders",
    "q_set_reconcile_customers",
    "q_scalar_string_math",
    "q_scalar_datetime",
    "q_json_props",
    "q_top_words",
    "q_cube_events",
    "q_distinct_counts",
    "q_order_lineitem_join",
    "q_table_profile",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "q_rolling_user_value",
    "q_funnel_conversion",
    "q_value_percentiles",
    "q_global_sort",
    "q_sql_entrypoint",
    "q_lm_doc_score",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    # -- proven r14 --
    "q_dedup_spans",
    "q_retrieval_eval",
    "q_media_wav_adpcm",
    "q_media_mp4_samples",
    "q_media_mp3_sideinfo",
    "q_media_webp",
    "q_entity_resolution",
    "q_item_similarity",
    "q_dedup_keep_best",
    "q_dedup_eval",
    "q_media_wav_g711",
    "q_media_flac",
    "q_media_jpeg_prog",
    "q_media_jpeg_color",
    "q_decontaminate_fuzzy",
    "q_source_mix_drift",
    "q_dp_quantile",
    "q_adaptive_salted_join",
    "q_linear_probe",
    "q_bitext_mine",
    "q_quality_resample",
    "q_grouped_regression",
    "q_probe_calibration",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q21_waiting_supplier",
    "q22_idle_rich_customers",
    "q11_important_parts",
    "q12_priority_by_shipyear",
    "q16_parts_supplier_counts",
    "q20_dominant_part_suppliers",
    "q_asof_join",
    "q_pit_join",
    "q_interp_linear",
    "q_anomaly_zscore",
    "q_bootstrap_ci",
    "q_train_shards",
    "q_mix_temperature",
    "q_skew_diagnose",
    "q_salted_agg",
    # -- proven r15 --
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_notin_nullaware",
    "q_partial_update_merge",
    "q_fd_audit",
    "q_interval_join",
    "q_exact_quantile_twopass",
    "q_interval_join_spanning",
    "q_skyline",
    "q_grouped_weighted_quantile",
    "q_pps_sample",
    "q_adaptive_salted_agg",
    "q_probe_auc",
    "q_linear_probe_k",
    "q_grouped_regression_k",
    "q_encoding_advisor",
    "q_cms_heavy_hitters",
    "q_hll_distinct",
    "q_quantile_sketch",
    "q_analyze_ndv",
    "q_join_estimate",
    "q_geo_join",
    "q_range_join_clicks",
    "q_pivot_event_matrix",
    "q_event_moments",
    "q_histogram_value",
    "q_incr_agg",
    "q_snapshot_diff",
    "q_bigram_lm",
    "q_data_quality_report",
    "q_compact_scan",
    "q_ewma_user_value",
    "q_order_baskets",
    "q_linreg_train",
    "q_cohort_retention",
    "q_sequence_pattern",
    "q_equidepth_histogram",
    "q_dedup_exact",
    "q_ivm_join",
    # -- proven r16 --
    "q_pacf",
    "q_shard_rebalance",
    "q_assoc_rules",
    "q_distinctive_terms",
    "q_dedup_threshold_sweep",
    "q_ann_tuning",
    "q_matryoshka_eval",
    "q_retractable_minmax",
    "q_two_sample_ks",
    "q_mann_whitney",
    "q_cramers_v",
    "q_drift_battery",
    "q_mutual_information",
    "q_forecast_backtest",
    "q_hill_tail",
    "q_vocab_chao1",
    "q_capture_recapture",
    "q_lsh_planner",
    "q_weighted_reservoir",
    "q_t_closeness",
    "q_isotonic_calibration",
    "q_bandit_posterior",
    "q_effect_size",
    "q_jackknife_ratio",
    "q_standardization",
    "q_seq_gaps",
    "q_interval_coalesce",
    "q_seq_monitor",
    "q_debounce",
    "q_woe_iv",
    "q_theilsen_slope",
    "q_metric_bridge",
    "q_simpson_scan",
    "q_multitouch_attribution",
    "q_quantile_normalize",
    "q_rfm_segments",
    "q_join_order_dp",
    "q_freshness_monitor",
    "q_bloom_fpr_sweep",
    "q_winsorize",
    "q_seasonal_decompose",
    "q_embedding_drift",
    "q_group_split",
    "q_l_diversity",
    # -- proven r17 --
    "q_scd2_from_patches",
    "q_partition_advisor",
    "q_zonemap_prune",
    "q_theta_distinct",
    "q_kll_quantiles",
    "q_kll_binning",
    "q_hll_rolling",
    "q_ab_test",
    "q_linreg_cv",
    "q_changepoint",
    "q_event_transitions",
    "q_session_gap_sweep",
    "q_power_mde",
    "q_watermark_sweep",
    "q_survival_km",
    "q_hard_negatives",
    "q_negative_sampling",
    "q_semdedup",
    "q_dedup_simhash_pairs",
    "q_dedup_embedding",
    "q_dedup_embedding_trained",
    "q_doc_cdc_chunks",
    "q_bm25_search",
    "q_quality_classifier",
    "q_dedup_clusters",
    "q_para_dedup",
    "q_hybrid_search",
    "q_media_bmp",
    "q_link_prediction",
    "q_histogram_drift",
    "q_autocorrelation",
    "q_dedup_containment",
    "q_curriculum_order",
    "q_ams_f2",
    "q_cuped",
    "q_stream_attribution_outer",
    "q_media_png",
    "q_media_mp4",
    "q_media_mp3",
)


def _ordered(d: dict) -> dict:
    listed = [n for n in PRIORITY if n in d]
    rest = [n for n in d if n not in set(PRIORITY)]
    return {n: d[n] for n in (*listed, *rest)}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query recipe; ``oracle`` is DuckDB SQL over the
    pre-registered views (region nation customer supplier part orders
    lineitem events documents embeddings). Omit oracle only for
    genuinely non-SQL-expressible ops (driver then does rows-only)."""

    def deco(fn: QueryFn) -> QueryFn:
        # Duplicate names must fail LOUDLY (round 13): a second
        # registration would silently REPLACE a driver-proven query —
        # the dict write hides it, every count drifts by one, and the
        # proof record now describes code that no longer runs. Module
        # re-imports re-execute decorators with the same function;
        # only a DIFFERENT function claiming the name is a collision.
        prev = QUERIES.get(name)
        if prev is not None and (
            prev.__module__ != fn.__module__
            or prev.__qualname__ != fn.__qualname__
        ):
            # __qualname__ too (round-13 ADVICE): re-imports recreate
            # the same qualname, so legal re-registration still passes,
            # but a SAME-module edit landing between an existing
            # decorator and its def (silently re-registering a helper
            # under a proven query's name) now fails loudly as well.
            raise ValueError(
                f"query name collision: {name!r} already registered by "
                f"{prev.__module__}.{prev.__qualname__}; refusing to "
                f"overwrite from {fn.__module__}.{fn.__qualname__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


#: Every module whose import registers queries. Imports are UNGUARDED
#: on purpose (round-11 VERDICT minor): a broken dependency must fail
#: load_all() loudly, not silently shrink the registry — the driver
#: would otherwise record a smaller query surface with no local red.
REGISTRY_MODULES: tuple[str, ...] = (
    "operators.relational",
    "operators.state",
    "operators.graph",
    "operators.bpe",
    "operators.quality",
    "operators.bloom",
    "operators.cdc_zone",
    "operators.tpch_ext",
    "operators.analytics_ext",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.multimodal",
    "operators.udf",
    "operators.sampling",
    "operators.contamination",
    "operators.privacy",
    "operators.curation",
    "operators.skew",
    "operators.probe",
    "operators.layout",
    "operators.sketches",
    "operators.geo",
    "operators.experiments",
    "operators.contrastive",
    "operators.completeness",
    "operators.insight",
    "operators.planner",
    "sources.evolution",
    "sources.formats",
    "streaming.windows",
    "streaming.upsert",
    "streaming.aggview",
    "streaming.sketchview",
    "streaming.banditview",
)


def load_all() -> None:
    """Import every operator module so registration side-effects run.
    Raises on ANY import failure — see REGISTRY_MODULES."""
    for mod in REGISTRY_MODULES:
        __import__(f"dynamodb_streaming_datalake_spark.{mod}")


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def all_oracle_sql() -> dict[str, str]:
    load_all()
    return _ordered(ORACLE)


def format_doc(fn, **consts) -> None:
    """Substitute {CONST} placeholders in a query's docstring with the
    module's actual constants. Guarded for ``python -OO`` (docstrings
    stripped -> None) — the q_doc_chunks lesson from round-5 ADVICE."""
    if fn.__doc__:
        fn.__doc__ = fn.__doc__.format(**consts)
