"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers a named query here
(a callable ``(spark, sf_dir) -> DataFrame``) and, where SQL-expressible,
a DuckDB oracle SQL string computing the same result on the same parquet
tables. ``__spark_entry__.queries()`` / ``oracle_sql()`` read these dicts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def evict_dead_sessions(memo: dict, spark: SparkSession) -> None:
    """Drop every memo entry owned by ANOTHER SparkSession — a cached
    localCheckpoint dies with its SparkContext, so entries from dead
    sessions must be evicted wholesale, not just the key about to be
    rebuilt (tests spin up multiple sessions per process). Values may be
    DataFrames or containers whose first element/value is one."""

    def df_of(v):
        if isinstance(v, dict):
            v = next(iter(v.values()))
        if isinstance(v, (tuple, list)):
            v = v[0]
        return v

    for k in [
        k for k, v in memo.items() if df_of(v).sparkSession is not spark
    ]:
        del memo[k]
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle`` is the DuckDB-runnable SQL equivalent
    (omit only for genuinely non-SQL-expressible ops — the driver then
    records a weaker rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def _load_modules() -> None:
    # import for registration side effects
    from n2khab_mhq_data_spark.plans import (  # noqa: F401
        relational,
        windows,
        reshape,
        kernels,
        llm,
        pipeline,
        spatial,
        graph,
    )


# Queries that ever FAILED a driver correctness row — rotated to the very
# FRONT so a prefix-sampling driver re-confirms the fix first thing next
# round.  Empty since round 4: pipeline_pack_sequences (the only historical
# failure, an r2 DuckDB HUGEINT sum artifact fixed with CAST AS BIGINT) was
# driver-re-confirmed green in CORRECTNESS_r04.json.
_DRIVER_FAILED: frozenset[str] = frozenset()

# Round in which each not-yet-driver-sampled query was first registered.
# The never-sampled tier is ordered OLDEST-FIRST by this age (r5 VERDICT
# item 1: within-module source order let newly-inserted queries jump the
# queue twice, so the 9 r4 additions below waited two rounds).  Queries
# absent from this map are treated as registered "now" (current round) and
# queue after the whole backlog.  Entries are removed once the driver
# samples the query (it moves to ``_DRIVER_SAMPLED``).
_REGISTERED_ROUND: dict[str, int] = {
    # (r9/r10 backlogs fully drained: CORRECTNESS_r10 sampled all four
    # r9 codec queries plus the whole r10 batch hash-green — entries
    # moved to _DRIVER_SAMPLED; the r11 registrations are deliberately
    # ABSENT here, which queues them as the never-sampled head tier)
}

# queries the driver has already sampled in CORRECTNESS_r01..r05 —
# rotated to the BACK of the registration order so a prefix-sampling driver
# drains the never-checked tail first (refresh per round from the union of
# the CORRECTNESS_r*.json files)
_DRIVER_SAMPLED: frozenset[str] = frozenset({
    # CORRECTNESS_r10: all 50 sampled hash-green — the 13 below were
    # the r9 codec backlog + the whole r10 registration batch
    "multimodal_audio_adpcm", "multimodal_audio_g711",
    "multimodal_bmp_rle", "multimodal_bmp_stats",
    "multimodal_color_stats", "multimodal_gif_disposal",
    "multimodal_gif_frames", "multimodal_gif_interlace",
    "multimodal_progressive_stats", "tpcds_channel_overlap_matrix",
    "tpcds_channel_sales_rollup", "tpcds_cross_channel_intersect",
    "tpcds_margin_rank_in_rollup",
    "a10_max_value_dedupe", "a11_percentile_corr", "a12_rollup",
    "a18_cube", "ann_embedding_outliers", "ann_filtered_topk",
    "audit_constraint_suite", "audit_equidepth_histogram",
    "audit_psi_drift", "audit_table_profile",
    "dedup_decontaminate_semantic", "dedup_prefix_filter",
    "eval_retrieval_metrics", "events_ab_readout",
    "events_cuped_adjustment", "events_frequent_paths",
    "graph_degree_assortativity", "graph_item_cf_topk", "graph_kcore",
    "graph_lpa_communities", "j13_interval_overlap_binned",
    "j14_scd2_point_in_time", "link_edit_distance_join",
    "link_golden_record", "multimodal_image_dedup",
    "multimodal_image_neardup", "multimodal_image_stats",
    "o3_global_rank", "pipeline_corpus_shuffle", "s11_jsonl_roundtrip",
    "s12_orc_roundtrip", "s7_gpkg_distributed", "s8_snapshot_asof",
    "s8_snapshot_diff", "s8_snapshot_ivm", "s8_snapshot_merge",
    "s8_snapshot_optimize", "sim_mmr_rerank", "sim_rrf_fusion",
    "spatial_geohash_encode", "streaming_late_data_audit",
    "text_bm25_topk", "text_char_entropy",
    "tpch_q18_large_volume_customer", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
    "ts_acf", "ts_cusum_changepoint", "ts_mann_kendall",
    "ts_rolling_p95", "w11_running_distinct", "w12_longest_streak",
    "a13_grouping_sets", "a14_approx_distinct_audit",
    "a15_approx_quantile_audit", "a16_ols_regression",
    "a17_approx_topk_audit", "a1_count_distinct", "a2_min_max_sum",
    "a3_complement_product", "a4_bool_any_all", "a5_first_per_group",
    "a6_dedup_distinct", "a7_string_agg", "a8_single_value_per_group",
    "a9_topn_counts", "ann_index_health", "ann_ivf_kmeans_recall_at_10",
    "ann_ivf_kmeans_topk", "ann_ivf_multiprobe", "ann_ivf_recall_at_10",
    "ann_ivf_topk", "ann_lsh_buckets", "ann_lsh_topk", "ann_pq_codes",
    "ann_recall_at_10", "ann_scalar_quant_error", "audit_benford_digits",
    "audit_input_pinning", "dedup_canonicalize", "dedup_component_sizes",
    "dedup_components", "dedup_components_twophase", "dedup_decontaminate",
    "dedup_decontaminate_bloom", "dedup_embedding_cosine", "dedup_exact",
    "dedup_minhash_lsh", "dedup_ngram_capped", "dedup_ngram_jaccard",
    "dedup_semantic_clusters", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_substring_remove", "dedup_substring_runs", "dedup_substring_spans",
    "events_asof_attribution", "events_cohort_retention", "events_funnel",
    "events_hopping_counts", "events_hypertable_rollup",
    "events_markov_transitions", "events_ohlc_bars", "events_session_assign",
    "events_trending_topk", "f1_string_functions", "f2_date_functions",
    "f3_math_functions", "f4_conditional_coalesce", "f5_array_functions",
    "f6_json_functions", "graph_copurchase_degree", "graph_copurchase_lift",
    "graph_link_prediction", "graph_pagerank", "graph_triangle_stats",
    "inboveg_lsvi_pipeline", "j10_point_in_polygon",
    "j10_point_in_polygon_10k", "j11_segment_area_weights",
    "j11_wkt_polygon_area", "j12_latest_per_key", "j1_broadcast_decode",
    "j2_inner_join_decode", "j3_chained_left_join", "j4_full_outer",
    "j5_inner_attach_date", "j6_semi_join", "j7_anti_join",
    "j8_membership_flag", "j9_pivot_pairing", "k10_incremental_merge",
    "k11_crs_full_datum", "k11_crs_transform", "k1_cover_decode",
    "k1_cover_rollup_boundary", "k2_square_override", "k2_type_resolution",
    "k3_completeness_audit", "k4_status_harmonize", "k5_area_weights",
    "k6_eav_restructure", "k7_lsvi_criterium", "k7_lsvi_crosstab",
    "k7_lsvi_detail", "k7_lsvi_globaal", "k7_lsvi_indicator",
    "k7_lsvi_species", "k7_lsvi_versions", "k8_tariff_volume",
    "k9_reconciliation_cascade", "link_sorted_neighborhood",
    # multimodal_cdc_dedup deliberately NOT listed despite its r4 row:
    # that row was rows-only (no_oracle); it re-queues via
    # _REGISTERED_ROUND for a hash-checked row now that it has an oracle
    "mhq_publish_pipeline", "multimodal_chunk",
    "multimodal_frame_meta", "multimodal_frame_sample", "o1_multikey_sort",
    "o2_top_desc", "p1_select_rename", "p2_lowercase_conform",
    "p3_null_domain_filter", "p4_regex_predicate", "p5_row_patch",
    "p6_recode_ladder", "pandas_grouped_zscore",
    "pipeline_adaptive_quality_gate", "pipeline_budget_waterfill",
    "pipeline_curate_corpus", "pipeline_domain_mix", "pipeline_dsir_weights",
    "pipeline_end_to_end", "pipeline_hash_sample", "pipeline_hash_split",
    "pipeline_mix_report", "pipeline_pack_greedy", "pipeline_pack_offsets",
    "pipeline_pack_sequences", "pipeline_quality_filter", "pipeline_redact",
    "pipeline_split_balance_audit", "pipeline_stratified_exact_n",
    "pipeline_stratified_sample", "pipeline_temperature_mix",
    "pipeline_temporal_split", "pipeline_weighted_sample",
    "r1_melt_wide_to_long", "r2_pivot_long_to_wide", "r3_split_column",
    "s7_wkt_layer_load", "scd2_user_status", "sim_cosine_topk",
    "sketch_count_min", "skew_salted_agg", "skew_salted_join",
    "spatial_knn_join", "spatial_zorder_layout",
    "streaming_dedup_first_touch", "streaming_interval_join",
    "streaming_interval_join_outer", "streaming_windowed_counts",
    "text_bigram_lm", "text_chunk_sliding", "text_domain_shift_kl",
    "text_fingerprint", "text_langid", "text_ngram_diversity",
    "text_normalize_nfc", "text_quality", "text_quality_classifier",
    "text_repetition_metrics", "text_tfidf_topk", "text_token_count",
    "text_token_histogram", "text_unigram_lm", "text_winnow", "ts_ewma",
    "ts_gap_fill", "u1_union_by_name", "u2_union_positional",
    "u3_except_intersect", "u4_cycle_drift_audit", "vbi_forest_pipeline",
    "w10_percentile_position", "w1_dup_detector", "w2_keep_latest",
    "w3_top1_per_group", "w4_window_string_concat", "w5_window_sums_flags",
    "w6_distinct_count_filter", "w7_session_window", "w8_rank_family",
    "w9_lead_lag_gaps",
    # CORRECTNESS_r06: all 50 sampled, 49 hash-green + ann_pca_compress
    # rows-only by design (declared no-oracle; numpy differential in tests)
    # ann_pca_compress deliberately NOT listed despite its r6 row: that
    # row was rows-only (no_oracle); it re-queues via _REGISTERED_ROUND
    # for a hash-checked row now that the projection leg has an oracle
    "a19_weighted_median", "a20_mode_exact", "a21_corr_matrix",
    "a22_gini_spend", "ann_jl_distortion",
    "ann_pq_adc_topk", "ann_pq_recall_at_10", "dedup_lsh_recall_audit",
    "dedup_overlap_fraction", "events_dau_wau_stickiness",
    "events_inter_arrival_stats", "events_rfm_segments",
    "events_time_to_convert", "j15_tiered_rate_join",
    "j16_nearest_event_join", "multimodal_audio_dedup",
    "multimodal_audio_stats",
    "multimodal_format_dispatch",
    "multimodal_gif_stats",
    "multimodal_image_resize",
    "multimodal_jpeg_stats",
    "multimodal_video_frames",
    "pipeline_contrastive_triplets", "pipeline_curation_v2",
    "pipeline_curriculum_bins", "pipeline_leakage_safe_split",
    "pipeline_multimodal_curation", "pipeline_quality_calibrate",
    "s13_hive_partition_prune", "sketch_hll_distinct",
    "sketch_hll_merge_rollup", "sketch_kmv_distinct", "sketch_kmv_jaccard",
    "text_banned_lexicon_gate", "text_boilerplate_ratio",
    "text_bpe_encode", "text_bpe_merges", "text_bpe_merges_strict",
    "text_bpe_pairs", "text_chunk_stitch", "text_langid_confusion",
    "text_script_histogram", "text_zipf_slope", "tpch_q10_returned_items",
    "tpch_q14_promo_effect", "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue", "tpch_q7_nation_volume", "w13_pareto_abc",
    # CORRECTNESS_r07: all 50 sampled hash-green — the 8 below were the
    # whole r6/r7 never-sampled backlog (now drained)
    "link_edit_distance_join_blocked", "multimodal_cdc_dedup",
    "tpch_q17_small_quantity_revenue", "tpch_q21_suppliers_kept_waiting",
    "tpch_q22_dormant_rich_customers", "tpch_q2_min_cost_supplier",
    "tpch_q8_national_market_share", "tpch_q9_product_type_profit",
    # CORRECTNESS_r09: all 50 sampled hash-green — the 9 below were the
    # whole r8 never-sampled backlog (now drained)
    "ann_pca_compress", "j13_interval_overlap_sliced",
    "tpch_q11_important_stock", "tpch_q12_shipmode_priority",
    "tpch_q13_customer_distribution", "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_counts", "tpch_q19_discounted_revenue",
    "tpch_q20_dominant_part_suppliers",
})


def _interleave_families() -> None:
    """Rebuild the registries in three tiers: previously-FAILED driver rows
    first, never-sampled queries second, previously-green last; round-robin
    family order within each tier.

    The driver's CORRECTNESS file may truncate to a prefix of the
    registration order (round 1 kept only the first 50, leaving whole
    families — kernels/LLM/pipeline/spatial — with no driver-side signal).
    Interleaving one-query-per-module means ANY prefix samples every
    family; within each family, queries the driver has never sampled
    (``_DRIVER_SAMPLED``) are queued ahead of already-green ones so each
    round drains the unchecked tail, and any query that ever FAILED a
    driver row (``_DRIVER_FAILED``) jumps the whole queue so the fix gets
    re-confirmed first thing.

    The never-sampled tier is further split OLDEST-FIRST by
    ``_REGISTERED_ROUND`` (r5 VERDICT item 1): within-module source order
    let queries inserted near the top of a module jump ones that had
    already waited two rounds.  Queries with no ``_REGISTERED_ROUND``
    entry are this round's additions and queue after the whole backlog,
    so a 50-row driver sample covers exactly the 50 outstanding.  Within
    each age bucket, module round-robin keeps family diversity."""
    fams: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        fams.setdefault(fn.__module__, []).append(name)

    def round_robin(queues: list[list[str]]) -> list[str]:
        out: list[str] = []
        queues = [q for q in queues if q]
        while queues:
            for q in queues:
                out.append(q.pop(0))
            queues = [q for q in queues if q]
        return out

    def tier(pred) -> list[str]:
        return round_robin(
            [[n for n in names if pred(n)] for names in fams.values()]
        )

    never_rounds = sorted(
        {
            _REGISTERED_ROUND.get(n, 99)
            for n in QUERIES
            if n not in _DRIVER_SAMPLED and n not in _DRIVER_FAILED
        }
    )
    order = tier(lambda n: n in _DRIVER_FAILED)
    for rnd in never_rounds:  # oldest backlog first, this round's new last
        order += tier(
            lambda n, rnd=rnd: n not in _DRIVER_SAMPLED
            and n not in _DRIVER_FAILED
            and _REGISTERED_ROUND.get(n, 99) == rnd
        )
    order += tier(lambda n: n in _DRIVER_SAMPLED and n not in _DRIVER_FAILED)
    snap_q, snap_o = dict(QUERIES), dict(ORACLES)
    QUERIES.clear()
    ORACLES.clear()
    for n in order:
        QUERIES[n] = snap_q[n]
        if n in snap_o:
            ORACLES[n] = snap_o[n]


_LOADED = False


def ensure_loaded() -> None:
    global _LOADED
    if not _LOADED:
        _load_modules()
        _interleave_families()
        _LOADED = True
