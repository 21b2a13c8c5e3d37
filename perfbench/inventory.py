"""Which catalog queries each workload draws from, and why.

`WARM_S` holds each query's warm seconds at sf0.001 on local[4]: the
second of two back-to-back passes over the whole inventory on the
fixture catalog, each query executed into the noop sink. It was recorded
once, to balance samples by cost: a sample that takes one query from
each family, redrawn until its summed and median cost match the pool's,
keeps the pass wall close across seeds while still drawing different
queries per seed.
"""
import re

WARM_S = {
    "d01_exact_dedup": 0.327,
    "d02_hash_dedup": 0.323,
    "d03_minhash_lsh": 1.356,
    "d04_ngram_jaccard": 0.868,
    "d05_simhash": 0.639,
    "d06_embedding_near_dup": 0.482,
    "d07_dup_clusters": 2.140,
    "d08_ppjoin": 1.587,
    "d09_dedup_corpus": 3.512,
    "d10_incremental_dedup": 1.953,
    "d11_semdedup": 1.893,
    "d12_edit_distance": 1.127,
    "d13_containment": 1.655,
    "d14_bloom_prefilter": 0.808,
    "d15_dup_spans": 1.543,
    "d16_shared_span_pairs": 1.965,
    "d17_decontamination": 1.428,
    "d18_persisted_dedup_index": 2.465,
    "d19_incremental_index_append": 2.011,
    "d20_index_takedown": 2.115,
    "d21_semdedup_provisioned": 4.129,
    "g01_pagerank": 1.326,
    "g02_trustrank": 1.352,
    "g03_hits": 3.223,
    "g04_warm_pagerank": 1.107,
    "g05_rolling_pagerank": 0.844,
    "m01_media_meta": 0.531,
    "m02_media_features": 0.505,
    "m03_frame_sample": 0.507,
    "m04_resize": 0.792,
    "m05_binary_files": 0.241,
    "m06_dup_frames": 0.609,
    "m07_blob_chunks": 0.483,
    "m08_shared_chunks": 0.688,
    "m09_integrity_audit": 1.021,
    "m10_shared_frame_dups": 1.323,
    "m11_training_pairs": 2.454,
    "m12_cdc_chunks": 0.725,
    "m13_cdc_dedup": 0.973,
    "m14_container_audit": 0.416,
    "m15_png_features": 0.486,
    "p01_dedup_pipeline": 3.531,
    "p02_shard_stats": 0.472,
    "p03_token_budget": 0.626,
    "p04_stratified_sample": 0.241,
    "p05_mixture_rebalance": 0.800,
    "p06_leakage_safe_split": 3.203,
    "p07_corpus_prep": 4.701,
    "p08_quality_calibration": 0.635,
    "p09_epoch_mixing": 0.850,
    "p10_curriculum": 0.658,
    "p11_snapshot_diff": 0.445,
    "p12_shard_packing": 0.528,
    "p13_incremental_update": 2.515,
    "p14_corpus_card": 0.977,
    "p15_kanon_release": 0.543,
    "p16_pps_sample": 0.259,
    "p17_effective_corpus": 1.659,
    "p18_dsir_resample": 1.163,
    "p19_doremi_weights": 3.874,
    "p20_jsonl_roundtrip": 0.999,
    "p21_schema_evolution": 0.954,
    "p22_bpe_packing": 0.983,
    "q01_pricing_summary": 0.570,
    "q02_top_orders": 0.174,
    "q03_ship_priority": 0.735,
    "q04_order_priority": 1.240,
    "q05_nation_revenue": 0.902,
    "q06_forecast": 0.265,
    "q07_brand_revenue": 0.665,
    "q08_semi_join": 0.437,
    "q09_anti_join": 0.333,
    "q10_supplier_revenue": 0.491,
    "q11_window_topk": 0.364,
    "q12_window_running": 0.464,
    "q13_window_lag": 0.356,
    "q14_window_rank": 0.308,
    "q15_rollup": 0.500,
    "q16_cube": 0.377,
    "q17_grouping_sets": 1.034,
    "q18_pivot": 0.360,
    "q19_intersect": 0.357,
    "q20_except": 0.296,
    "q21_union_all": 0.206,
    "q22_distinct": 0.290,
    "q23_scalar_subquery": 0.953,
    "q24_filter_project": 0.194,
    "q25_latest_per_user": 0.306,
    "q26_string_funcs": 0.195,
    "q27_date_funcs": 0.328,
    "q28_json_extract": 0.280,
    "q29_case_agg": 0.330,
    "q30_asof_join": 0.686,
    "q31_left_outer": 0.425,
    "q32_having": 0.260,
    "q33_in_subquery": 1.020,
    "q34_full_outer": 0.427,
    "q35_approx_sketches": 0.613,
    "q36_unpivot": 0.217,
    "q37_explode": 0.220,
    "q38_window_dist": 0.334,
    "q39_collect_agg": 0.291,
    "q40_stats": 1.163,
    "q41_from_json": 0.392,
    "q42_correlated_avg": 1.147,
    "q43_cte_window_having": 1.011,
    "q44_arg_max": 0.360,
    "q45_range_join": 0.380,
    "q46_range_frame": 0.991,
    "q47_percentiles": 1.115,
    "q48_salted_join": 0.510,
    "q49_array_ops": 0.247,
    "q50_priority_check": 0.991,
    "q51_customer_distribution": 1.180,
    "q52_global_sales": 1.113,
    "q53_regexp_extract_all": 0.990,
    "q54_lateral": 1.062,
    "q55_window_ranks": 0.425,
    "q56_multiset_ops": 0.591,
    "q57_regression": 1.141,
    "q58_nav_windows": 0.438,
    "q59_grouping_rollup": 1.156,
    "q60_last_shippers": 1.194,
    "q61_top_supplier": 1.141,
    "q62_time_range_frame": 1.004,
    "q63_sessionize": 0.452,
    "q64_sketch_reagg": 0.486,
    "q65_cms_freq": 0.628,
    "q66_zorder_layout": 0.408,
    "q67_scd2": 1.026,
    "q68_incremental_agg": 0.495,
    "q69_merge_upsert": 1.183,
    "q70_forward_fill": 0.308,
    "q71_funnel": 1.379,
    "q72_closure": 1.018,
    "q73_asof_forward": 0.534,
    "q74_weighted_median": 1.495,
    "q75_mad": 1.502,
    "q76_min_cost_supplier": 1.583,
    "q77_rolling_distinct": 0.723,
    "q78_peak_concurrent": 1.149,
    "q79_quantile_sketch": 1.401,
    "q80_grouped_quantiles": 1.625,
    "s01_cosine_topk": 0.865,
    "s02_ivf_topk": 1.194,
    "s03_topk_aggregate": 1.341,
    "s04_custom_plan_topk": 0.394,
    "s05_quantized_topk": 0.865,
    "s06_auto_rewrite": 0.454,
    "s07_lsh_topk": 1.968,
    "s08_random_projection": 0.387,
    "s09_pq_topk": 2.603,
    "s10_bm25_topk": 0.854,
    "s11_maxsim_topk": 2.026,
    "s12_bitext_margin": 2.021,
    "s12b_bitext_bucketed": 1.797,
    "s12c_bitext_provisioned": 2.753,
    "s13_hybrid_rrf": 1.588,
    "s14_hard_negatives": 1.606,
    "s15_index_probe": 0.964,
    "s16_incremental_index": 0.807,
    "s17_incremental_bm25": 1.579,
    "s18_point_lookup": 0.932,
    "s19_pq_rerank": 3.223,
    "s20_ivfpq_search": 3.131,
    "s21_pq_index_search": 1.372,
    "s22_incremental_pq": 1.339,
    "s23_recall_audit": 1.779,
    "s24_recall_retrain": 2.607,
    "s25_nprobe_sweep": 2.535,
    "s26_filtered_ivfpq": 1.926,
    "s27_label_partitioned": 1.494,
    "s28_residual_pq": 1.711,
    "s29_sq8_search": 1.537,
    "s30_bq_search": 1.191,
    "s31_range_search": 1.018,
    "s32_tombstone_search": 1.005,
    "s33_bm25_delete": 1.011,
    "s34_ivf_provisioned": 3.351,
    "st01_tumbling_hourly": 0.613,
    "st02_sliding_windows": 0.460,
    "st03_session_windows": 0.627,
    "st04_windowed_distinct": 0.502,
    "st05_click_attribution": 0.381,
    "st06_event_throttle": 0.389,
    "st07_unattributed_buys": 0.318,
    "st08_gap_fill": 0.425,
    "st09_top_events_hourly": 0.502,
    "t01_token_stats": 0.402,
    "t02_quality_score": 0.332,
    "t03_lang_id": 0.247,
    "t04_fingerprint": 0.228,
    "t05_tfidf": 0.943,
    "t06_bigrams": 0.315,
    "t07_repetition": 0.627,
    "t08_contamination": 0.875,
    "t09_surprisal": 0.780,
    "t10_mixed_lang": 0.296,
    "t11_boilerplate": 1.369,
    "t12_pii_redact": 0.527,
    "t13_corpus_drift": 1.283,
    "t14_rule_filter": 0.405,
    "t15_repeat_strip": 0.786,
    "t16_bigram_lm": 1.091,
    "t17_novelty": 0.852,
    "t18_quality_distill": 0.885,
    "t19_bpe_merges": 0.186,
    "t20_bpe_encode": 0.575,
    "t21_bpe_fertility": 0.848,}

FAMILIES = ["q", "d", "s", "t", "m", "p", "g", "st"]


def family(name):
    return re.match(r"[a-z]+", name).group(0)


# queries that serve from a persisted artifact (`io.ArtifactStore.ensure`
# or `ensureIncremental` on first touch)
ARTIFACT_QUERIES = {
    "s02_ivf_topk", "s09_pq_topk", "s10_bm25_topk", "s15_index_probe",
    "s16_incremental_index", "s17_incremental_bm25", "s20_ivfpq_search",
    "s21_pq_index_search", "s22_incremental_pq", "s23_recall_audit",
    "s24_recall_retrain", "s25_nprobe_sweep", "s26_filtered_ivfpq",
    "s27_label_partitioned", "s28_residual_pq", "s29_sq8_search",
    "s30_bq_search", "s31_range_search", "s32_tombstone_search",
    "s33_bm25_delete", "s34_ivf_provisioned", "d18_persisted_dedup_index",
    "d19_incremental_index_append", "d20_index_takedown",
    "g04_warm_pagerank", "g05_rolling_pagerank", "t19_bpe_merges",
    "p22_bpe_packing",
    # these reach an artifact through a shared helper (s12b builds the
    # IVF index on first touch) or may, by the same route
    "s01_cosine_topk", "s12b_bitext_bucketed", "s12c_bitext_provisioned",
    "s13_hybrid_rrf", "s14_hard_negatives", "s19_pq_rerank",
    "d16_shared_span_pairs", "d21_semdedup_provisioned", "g03_hits",
    "t18_quality_distill"}

# calibration's warm-up: a cheap relational query that loads the
# engine's and Spark SQL's classes without touching any artifact
WARMUP = ["q24_filter_project"]

# fixed-cost draws from queries whose warm sf0.001 cost lies in this
# band: within it every family has candidates, and a sample's median and
# total move little with which of them a seed picks
FIXED_COST_WARM_BAND = (0.3, 1.4)

FIXED_COST_PER_STRATUM = 1
# passes over the sample in one JVM: the first pays class loading and
# compilation, and `wall_s` takes each query's faster run of the two
# after it. A sample of one query a family keeps the three passes
# inside the run budget.
FIXED_COST_PASSES = 3


def fixed_cost_strata():
    """One stratum a family: its queries in the warm-cost band. Artifact-
    serving queries are left to index-lifecycle, which times their first
    touch, restart and warm serving apart."""
    return [sorted(n for n in WARM_S if family(n) == f
                   and n not in WARMUP and n not in ARTIFACT_QUERIES
                   and FIXED_COST_WARM_BAND[0] <= WARM_S[n]
                   <= FIXED_COST_WARM_BAND[1])
            for f in FAMILIES]


# index-lifecycle: the persisted LSH dedup index, every seed; the seed
# sets the corpus and the ingest batches. The IVF vector index is
# exercised by the ingest phase (bootstrap, sinks, compaction, probes).
LIFECYCLE_QUERIES = ["d18_persisted_dedup_index"]

# Synthetic ingest traffic, not measured from any deployment: the sizes
# only have to make the engine's default compaction policy
# (`maybeCompactIvf`, 4 part files in the hottest cell) fire within the
# run — bootstrap leaves one file a cell and each append adds one, so
# the third append triggers it.
INGEST_BOOTSTRAP_ROWS = 500
INGEST_CELLS = 16
INGEST_BATCHES = 6
INGEST_APPEND_ROWS = 100
INGEST_DELETE_ROWS = 50
