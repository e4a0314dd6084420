"""Results must be independent of the physical partitioning.

At 100 TB the same query runs with thousands of shuffle partitions; on
a laptop, with a handful. Any operator whose OUTPUT depends on
``spark.sql.shuffle.partitions`` (hash-order leakage through a window,
a non-deterministic tie-break, a first()/collect_list without an
explicit sort) is broken at scale even if its sf0.01 oracle passes.
This suite re-runs representative hash-order-sensitive queries under
different partition counts and requires bit-identical sorted results.
"""

from __future__ import annotations

import pytest

from traj_sim_spark_spark import registry

registry.load_all()

# one per order-sensitivity class: window tie-break, top-k ties,
# union-of-joins, collect_list assembly, DP-kernel two-phase
KEYS = [
    "rel_topk_pergroup",
    "rel_topk_global",
    "text_minhash_neardup",
    "traj_assemble",
    "traj_hausdorff_knn",
    "traj_frechet_knn",
    "traj_dtw_knn_2d",
    "traj_hausdorff_segments_knn",
    "pipe_clean_corpus",
    "emb_layout_ivf",
    "text_simhash_neardup",
    # curation additions: window-cumsum packing (hash-order-exposed if
    # the order key were non-total), top-k-per-user join ranking
    "pipe_pack_chunks",
    "pipe_token_budget",
    "traj_knn_join",
    # series/graph additions: knife-edge bottom-k ranking over decimal
    # sums; iterative min-label propagation; exact grouped percentiles
    "text_bigram_lm",
    "graph_cc",
    "rel_anomaly_mad",
    # dual-index search (layout read + top-k ties), KMV top-k
    # hash selection, Gi* knife-edge top-20
    "traj_hausdorff_knn_2d_idx",
    "sketch_kmv_distinct",
    "traj_hotspot_gi",
    # extras2 additions: row_number NN tie-break over an LSH bucket
    # join; CC min-label over the dense-cell graph
    "mm_phash_nn",
    "traj_grid_dbscan",
    # round-3 additions: the segment search tier (top-k over exact
    # doubles + integer coverage counts), both index paths, the
    # runtime-bloom materialized join, the dispatched Q1 sums
    "traj_hausdorff_segments_knn_2d",
    "traj_hausdorff_segments_threshold_2d",
    "traj_hausdorff_segments_knn_2d_idx",
    "rel_bloom_runtime",
    "rel_agg_basic",
    "graph_copurchase",
    "traj_hausdorff_segments_knn_batch_2d",
    "traj_map_match",
    "sim_knn_batch",
    "traj_range_window_2d_idx",
    "rel_view_maintenance",
    # round-4 additions: integer-Hamming shortlist + float rerank,
    # dual-shortlist RRF fusion, KMV min-hash top-k set algebra
    "sim_knn_binary",
    "sim_hybrid_rrf",
    "sketch_kmv_setops",
    "graph_label_prop",
    "traj_zorder_layout",
    "rel_agg_mode_disc",
    "traj_viterbi_map_match",
    "emb_dedup_threshold_sweep",
    "text_containment_neardup",
    "rel_equidepth_hist",
    "src_python_datasource",
    "pipe_mix_temperature",
    "text_ngram_novelty",
    "rel_join_lateral",
    "rel_sql_frontend",
    # extras5 additions: recursive-CTE fold (per-chain total order),
    # integer-moment regression (decimal Σy² accumulator), salted-join
    # reducer spread, iterative Bellman-Ford min tableau
    "rel_recursive_cte",
    "rel_regr_exact",
    "rel_join_skew_salted",
    "graph_sssp",
    # prefix-filter join (global df rank + quantized argmax), logreg
    # margins (integer-div features)
    "text_setsim_prefix_join",
    "text_quality_logreg",
    # Holt coefficients (integer linear form), dup-span interval union
    # (LEAD over per-doc starts)
    "rel_holt_linear",
    "text_dup_ngram_coverage",
    # two-phase global rank (range partitions + offsets) must be
    # partitioning-invariant by construction; PIT validity intervals
    "pipe_doc_shuffle",
    "rel_pit_join",
    # multi-source BFS sigma sums + pair-combine joins
    "graph_stress_betweenness",
    # earliest-arrival min-relaxation rounds
    "graph_temporal_reach",
    # integer Lloyd rounds (argmin + shifted means)
    "emb_kmeans_exact",
    # round-9 FULL promotions: 4-round integer Lloyd + exact WCSS;
    # integer covariance + pinned-DAG power iteration
    "emb_kmeans",
    "emb_pca",
    # per-subspace integer Lloyd + ADC sum
    "sim_knn_pq_exact",
    # round-8 FULL promotions: integer Lloyd on raw / coarse-residual
    # subvectors (argmin + shifted means + integer coarse assignment)
    "sim_knn_pq",
    "sim_knn_ivfpq",
    # round-8 adds: median-split tree + ordered integer rerank;
    # LCM-scaled minimax over a self-join (min/max integer folds);
    # greedy graph navigation (integer per-hop argmin over collected
    # frontiers); synchronous Louvain gain argmax window
    "emb_rp_tree_knn",
    "rel_isotonic_fit",
    "sim_knn_graph_greedy",
    "graph_louvain_move",
    # exact conformal order statistic + integer coverage compares
    "rel_conformal_bounds",
    # md5-multiplicity replicate means ranked by quantized BIGINT keys
    "rel_bootstrap_ci",
    # at-risk cumsum + quantized-ln product curve; decimal rank sums
    "rel_survival_km",
    "rel_lorenz_gini",
    # exact order-statistic clamps (rank windows must not leak order)
    "rel_winsorized_mean",
    # ordered survivor re-join (md5 of reconstructed string)
    "text_dedup_cut",
    # round-9 adds: two-step gram-ownership argmin + gaps-islands
    # window; global top-N window ordered (count DESC, token);
    # ordered kept-text rebuild (md5); wedge-sum top-N window
    "text_substring_dedup",
    "text_corpus_drift",
    "text_substring_dedup_apply",
    "graph_adamic_adar",
    # IGNORE-NULLS as-of frame per user (total order us, event_id);
    # 4-cell conditional moment aggregate
    "rel_attribution_touch",
    "rel_did",
    # round-9 continuation (extras11): integer-walk top-N TakeOrdered;
    # skeleton-cluster top-N (count DESC, tpl string tie-break);
    # exact histogram-cut quintile scores; LAG transition pairs
    "graph_katz",
    "text_template_detect",
    "rel_rfm_segments",
    "rel_markov_transitions",
    # quantize-once centroids + integer argmin + decimal s-sums
    "emb_silhouette",
    # triangle/degree ratios; DECIMAL covariance ranking with tie-break;
    # Arrow byte-scan
    "graph_clustering_coeff",
    "emb_cov_topk",
    "udf_map_arrow",
    # sign-aware squared bin decisions over a cross join
    "emb_cosine_hist",
    # round-5: integer DP pair measures, greedy MMR selection chain,
    # md5-seeded span union, top-k with rational sort keys
    "traj_lcss_pair",
    "traj_edr_pair",
    "traj_erp_pair",
    "sim_diversify_mmr",
    "pipe_span_corruption",
    "traj_lcss_knn",
    "traj_edr_knn",
    "traj_lcss_threshold",
    "traj_edr_threshold",
    "rel_gaps_islands",
    # round-6: plane-ERP (isqrt integer costs) pair + search tier
    "traj_erp_pair_2d",
    "traj_erp_threshold_2d",
    "traj_erp_knn_2d",
    # round-6: iterative BPE merge chain (argmax per round) + top-k
    "pipe_bpe_train",
    "text_bpe_encode",
    # round-7: BPE-count window packing, integer-HITS top-k ties,
    # ROW_NUMBER median selection, top-20 rational-ratio ranking,
    # skyline windows over distinct integer pairs
    "pipe_pack_bpe",
    "graph_hits",
    "rel_theil_sen",
    "text_idf_novelty",
    "sim_pareto_knn",
    # rank/supremum statistics: doubled-average-rank tie groups and the
    # cross-multiplied CDF max must not leak hash order
    "rel_mann_whitney",
    "rel_ks_test",
    # round-10 additions: the batch two-phase kNN rows (per-qid rank
    # windows + broadcast tau; order-sensitive via top-k ties) and the
    # streaming ingest ledger (commutative by design — pinned anyway)
    "traj_erp_knn_batch",
    "traj_lcss_knn_batch",
    "traj_dtw_knn_batch",
    "traj_edr_knn_batch",
    "stream_ingest_dedup",
    # ---- round-11 sweep extension (the r10 verdict's item 6): grow
    # coverage toward the full registry, prioritizing the two classes
    # where partitioning leaks — window/rank rows and float-display
    # rows.  Exclusion rule for what stays unpinned: sink_* rows
    # (filesystem writes, not result sets), src_* ingests and
    # mm_binary_meta/mm_header_parse (per-row projections with no
    # shuffle — invariance is structural), and stream_* rows already
    # represented by stream_ingest_dedup (each invocation replays a
    # bounded stream; their determinism is pinned by the oracle gate
    # and tests/test_streaming.py instead — the round-12
    # stream_bm25_ledger additionally carries a dedicated
    # multi-micro-batch batching-independence pin there).
    # round-11 additions themselves:
    "sim_bm25_topk",
    "traj_dtw_knn_batch_2d",
    "traj_frechet_knn_batch_2d",
    "mm_decode_png",
    "traj_lcss_knn_batch_2d",
    "traj_edr_knn_batch_2d",
    "traj_erp_knn_batch_2d",
    "sim_hybrid_bm25_rrf",
    "sim_bm25_batch",
    "traj_dtw_knn_batch_banded",
    "traj_dtw_knn_batch_banded_2d",
    # window/rank rows (rel_win_* + ranking aggregates):
    "rel_win_rank",
    "rel_win_lag",
    "rel_win_moving",
    "rel_win_nav",
    "rel_win_distribution",
    "rel_win_range_time",
    "rel_win_pattern",
    "rel_agg_percentile",
    "rel_agg_stats",
    "rel_skyline",
    "rel_retention",
    "rel_cohort_ltv",
    "rel_funnel",
    "rel_market_basket",
    "rel_kanonymity",
    "rel_entity_match",
    "rel_skew_profile",
    # float-display / quantized time-series rows:
    "rel_autocorr",
    "rel_ewma",
    "rel_changepoint",
    "rel_seasonal_anomaly",
    "rel_holt_winters",
    "rel_forecast_eval",
    "rel_ols_multi",
    "rel_cuped",
    "rel_power_mde",
    "rel_ttest_welch",
    "rel_benford",
    "rel_chi2_cells",
    # float-ranked ANN shortlist rows:
    "sim_knn",
    "sim_knn_ivf",
    "sim_knn_sq8",
    "sim_knn_mrl",
    "sim_knn_filtered",
    "sim_mips",
    "sim_ann_recall",
    "sim_ann_recall_matrix",
    "sim_topk_join",
    "sim_threshold_join",
    "sim_band_join",
    "sim_centroid",
    "sim_range_search",
    # float DP search tier not yet pinned (top-k ties over doubles):
    "traj_dtw_knn",
    "traj_dtw_knn_banded",
    "traj_dtw_knn_banded_2d",
    "traj_frechet_knn_2d",
    "traj_hausdorff_knn_2d",
    "traj_erp_knn",
    "traj_lcss_knn_2d",
    "traj_edr_knn_2d",
    "traj_hausdorff_knn_batch",
    "traj_hausdorff_knn_2d_batch",
    "traj_profile_knn",
    "traj_simplify_dp",
    "traj_speed_outliers",
    # text float-display / rank rows:
    "text_tfidf",
    "text_zipf_fit",
    "text_entropy",
    "text_readability",
    "text_langid_confusion",
    "text_winnowing",
    "text_ngram_jaccard",
    # embedding / graph float+rank rows:
    "emb_drift",
    "emb_outliers",
    "emb_neardup_lsh",
    "emb_norm_hist",
    "graph_pagerank",
    "graph_modularity",
    "graph_kcore",
    "graph_assortativity",
    # curation composites with split/sample hash predicates:
    "pipe_dedup_semantic",
    "pipe_stratified_sample",
    "pipe_curriculum_order",
    "pipe_train_split",
    "pipe_leakage_safe_split",
    # sketch top-k / quantile display rows:
    "sketch_cms_topk",
    "sketch_quantile_hist",
    # ---- round-11 continuation: REGISTRY-COMPLETE sweep.  Every
    # oracle-bearing key is now either pinned here or covered by the
    # documented exclusion rule above (sink_* filesystem writes, src_*
    # ingest projections, mm_binary_meta / mm_header_parse per-row
    # projections, stream_* replay determinism pinned by the oracle
    # gate + tests/test_streaming.py).  Coverage claim: partitioning
    # leaks CANNOT hide anywhere in the registry.
    "graph_bfs_hops",
    "graph_common_neighbors",
    "graph_triangles",
    "mm_audio_energy",
    "mm_decode_features",
    "mm_feature_knn",
    "mm_frame_sample",
    "mm_multimodal_join",
    "mm_resize",
    "mm_scene_cuts",
    "pipe_bpe_fertility",
    "pipe_chunk_overlap",
    "pipe_dataset_card",
    "pipe_dedup_cascade_audit",
    "pipe_dedup_funnel",
    "pipe_dedup_quality",
    "pipe_incremental_dedup",
    "pipe_mix_dedup_aware",
    "pipe_mix_sources",
    "pipe_neardup_dedup",
    "pipe_quality_prune",
    "pipe_tokenizer_compare",
    "ps_frontend",
    "rel_agg_approx",
    "rel_agg_cube",
    "rel_agg_distinct",
    "rel_agg_filtered",
    "rel_agg_grouping_sets",
    "rel_agg_having",
    "rel_agg_rollup",
    "rel_bloom_prefilter",
    "rel_bucketed_join",
    "rel_dp_release",
    "rel_dq_audit",
    "rel_except",
    "rel_except_all",
    "rel_expr_case",
    "rel_filter_complex",
    "rel_gapfill",
    "rel_gdpr_delete",
    "rel_grouping_id",
    "rel_intersect",
    "rel_intersect_all",
    "rel_join_anti",
    "rel_join_asof",
    "rel_join_asof_nearest",
    "rel_join_broadcast",
    "rel_join_interval_overlap",
    "rel_join_multiway",
    "rel_join_outer",
    "rel_join_semi",
    "rel_join_smj",
    "rel_join_theta_band",
    "rel_merge_upsert",
    "rel_null_handling",
    "rel_observe",
    "rel_pivot",
    "rel_rollup_hypertable",
    "rel_scalar_array",
    "rel_scalar_date",
    "rel_scalar_map_json",
    "rel_scalar_math",
    "rel_scalar_string",
    "rel_scan_filter",
    "rel_scan_project",
    "rel_scd2_merge",
    "rel_subquery_scalar",
    "rel_table_stats",
    "rel_try_arithmetic",
    "rel_union_all",
    "rel_unpivot",
    "rel_variant_json",
    "sim_dedup_exact",
    "sim_knn_ivf_centroid",
    "sim_pair_distance",
    "sketch_ams_f2",
    "sketch_bloom_fpr",
    "sketch_cms_merge",
    "sketch_hll_distinct",
    "text_boilerplate",
    "text_contamination",
    "text_decontaminate_apply",
    "text_dedup_cluster",
    "text_exact_dedup",
    "text_fingerprint",
    "text_heaps_law",
    "text_jaccard_neardup",
    "text_lang_stats",
    "text_langid",
    "text_minhash_estimate",
    "text_pii_scrub",
    "text_quality_score",
    "text_repetition",
    "text_simhash",
    "text_source_overlap",
    "text_token_count",
    "text_tokens_topn",
    "traj_cluster_threshold",
    "traj_comovement",
    "traj_convoy",
    "traj_dtw_pair",
    "traj_dtw_pair_2d",
    "traj_dtw_threshold",
    "traj_dtw_threshold_2d",
    "traj_dtw_threshold_banded",
    "traj_edr_pair_2d",
    "traj_edr_threshold_2d",
    "traj_erp_threshold",
    "traj_frechet_knn_batch",
    "traj_frechet_pair_2d",
    "traj_frechet_threshold",
    "traj_frechet_threshold_2d",
    "traj_hausdorff_pair",
    "traj_hausdorff_pair_2d",
    "traj_hausdorff_segments",
    "traj_hausdorff_segments_pair_2d",
    "traj_hausdorff_segments_threshold",
    "traj_hausdorff_segments_threshold_2d_idx",
    "traj_hausdorff_threshold",
    "traj_hausdorff_threshold_2d",
    "traj_hausdorff_threshold_2d_idx",
    "traj_heatmap_density",
    "traj_layout_cells",
    "traj_lcss_pair_2d",
    "traj_lcss_threshold_2d",
    "traj_mobility_entropy",
    "traj_od_flows",
    "traj_radius_gyration",
    "traj_range_query_2d",
    "traj_range_query_2d_pruned",
    "traj_range_segments_2d",
    "traj_resample",
    "traj_sample_workload",
    "traj_search_report",
    "traj_segment_intersections",
    "traj_segments",
    "traj_self_intersections",
    "traj_session_batch",
    "traj_stats",
    "traj_staypoints",
    "traj_transition_matrix",
    "udf_agg_pandas",
    "udf_grouped_map",
    "udf_scalar_pandas",
    "udtf_segmentize",
]


def _sort_key(row: tuple) -> tuple:
    # None is not orderable against str/int in Python: grouping-set
    # rows (CUBE/ROLLUP) carry NULL dimension values, so sort on a
    # (is_null, stringified) pair per cell — total, type-safe, and
    # deterministic for the equality check (which compares the actual
    # tuples, not the keys).
    return tuple((v is None, repr(v)) for v in row)


def _run_sorted(spark, key, sf_dir):
    df = registry.QUERIES[key](spark, sf_dir)
    return sorted(
        (tuple(row) for row in df.collect()), key=_sort_key
    )


@pytest.mark.parametrize("key", KEYS)
def test_partition_count_invariance(spark, sf_dir, key):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = _run_sorted(spark, key, sf_dir)
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        b = _run_sorted(spark, key, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b
