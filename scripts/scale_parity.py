#!/usr/bin/env python
"""Scale-parity sweep above sf0.1: registered queries re-graded with the
driver-identical row/schema/value-hash compare (tests/parity.py) against
an AUGMENTED table set materialized from sf0.1. One ``TIERS`` row per
tier sets the copies of each table:

  tier  lineitem  documents  events  embeddings
   16      x4       x16        x4       x8
   64      x16      x64        x16      x32
  256      x64      x256       x64      x32

Lineitem rows are replicated (row count grows, KEY DOMAIN unchanged: the
axis a growing fact table moves along). Documents are re-keyed copies with
rotated letters (``ALPHABETS``), so vocabulary and LSH buckets replicate
i.i.d. Events shift +400 days per copy (copies of the ~30-day timeline
never meet in a session/window) with non-colliding ids, as TIMESTAMP_NTZ
like the generator writes them. Embeddings get a vec_id offset and dim 0
perturbed by k*1e-3. The six dimension tables are copied as-is.

The augmentation runs ONCE in Spark and is MATERIALIZED to parquet, so
Spark and DuckDB read byte-identical inputs — the sweep tests the
ENGINES' execution (exchange shapes, float accumulation order,
tie-breaking under real duplicate mass), not the augmentation. Across
tiers the point is the SLOPE: a shape secretly superlinear in either
engine shows up as a wall-clock blowup before it shows up as a wrong
answer. Results are recorded in COVERAGE.md and SCALE.md.

Usage: python scripts/scale_parity.py --tier {16,64,256}
                                      [--only a,b | --only @file]

Prints one JSON line. ``--only`` runs exactly the named registered
queries instead of the tier's lists. The sweep dir
/tmp/dask_image_spark_scale/x{tier} is built only if missing — delete it
to force regeneration.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import sys
import time
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = "/tmp/dask_image_spark_scale"

# Document copy i is re-keyed by i * DOC_ID_OFFSET. The alphabets hold
# letters present throughout the synthetic vocabulary and are pairwise
# disjoint, and each rotation is a permutation of its alphabet, so the
# composed translate() is 1:1: lang/source/n_chars stay consistent.
DOC_ID_OFFSET = 20_000_000
ALPHABETS = ("aeiou", "rstln", "bcdgm", "fhpwy")


def rotations(alphabet: str) -> tuple[str, ...]:
    """The alphabet's first four cyclic rotations, identity first."""
    return tuple(alphabet[i:] + alphabet[:i] for i in range(4))


# The shuffle-heaviest registered queries (VERDICT r9 plan audit):
# TPC-H heavy aggregation/join chains on the x4 fact,
# the LSH band self-join and df-pruned postings self-join on the x16
# corpus, the hash-dedup groupBy, and the heaviest window/session shapes
# on the x4 timeline. The first ten are the round-10 core sweep (VERDICT
# item 8); the rest widen the tier-2 evidence across the dedup/text/
# graph/retention families at the same augmented scale.
SWEEP_16 = [
    "q1_pricing_summary",
    "q3_join_topk",
    "q9_product_type_profit",
    "q21_suppliers_kept_waiting",
    "dedup_minhash_lsh",
    "tfidf_cosine_pairs",
    "dedup_exact_groups",
    "sessionize",
    "rolling_1h_user_stats",
    "window_rank",
    # --- widened tier-2 coverage (same augmented dir) ---
    "q4_order_priority",
    "q13_customer_distribution",
    "q18_large_orders",
    "dedup_minhash_survivors",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "bm25_search",
    "token_pmi_bigrams",
    "quality_entropy",
    "cohort_retention",
    "event_transition_matrix",
    "rfm_scores",
    "window_distribution_ranks",
    "max_concurrent_sessions",
    # --- third batch: joins/sketches/graph/sessions/dedup-variants ---
    "asof_join",
    "asof_join_forward",
    "pit_join_scd2",
    "sample_stratified",
    "mg_heavy_hitters",
    "cms_frequency_estimate",
    "bloom_membership",
    "hll_sketch_merge",
    "survival_km",
    "ohlc_bars",
    "cusum_changepoint",
    "pagerank_2iter",
    "graph_triangle_count",
    "kcore_decomposition",
    "bfs_3hop",
    "funnel_conversion",
    "session_stats",
    "merge_three_way",
    "dedup_levenshtein",
    "fuzzy_join_tokens",
    "dedup_incremental_minhash",
    "spatial_radius_join",
    "inverted_index",
    "join_salted_skew",
    "agg_salted_skew",
    "cdc_snapshot_diff",
    "scan_merge_schema",
    "cumulative_distinct_users",
    "stable_global_index",
    "theilsen_slope_per_user",
    # --- fourth batch: time-series / robust-stats (float accumulation
    # and tie-mass sensitivity on the x4 timeline) ---
    "acf_hourly",
    "seasonal_decompose_ma",
    "forecast_eval_mase",
    "twap_daily",
    "rolling_corr_24h",
    "ewma_recursive_daily",
    "holt_linear_smoothing",
    "gap_fill_hours",
    "mann_kendall_trend",
    "trend_per_user",
    "time_decay_score",
    "seasonal_residual_anomaly",
    "running_balance_floor",
    "fifo_allocation",
    "attribution_last_touch",
    "attribution_first_touch",
    "conversion_latency",
    "longest_streak",
    "moments_per_type",
    "abtest_conversion_z",
    "psi_drift",
    "ks_two_sample",
    "benford_digit_test",
    "winsorize_values",
    "quantile_normalize_sources",
    "trimmed_mean",
    "weighted_median",
    # --- fifth batch: remaining TPC-H + similarity/ANN + streaming
    # batch-equivalence + lakehouse ---
    "q2_min_cost_supplier",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q11_important_stock",
    "q12_priority_shipping",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "q20_excess_suppliers",
    "q22_global_sales_opportunity",
    "similarity_ivf_topk",
    "similarity_ivf_multiprobe",
    "ann_recall_ivf",
    "similarity_lsh_buckets",
    "similarity_hamming_topk",
    "ann_recall_hamming_rerank",
    "knn_graph_lsh",
    "knn_per_label",
    "embedding_quantize_int8",
    "matryoshka_recall",
    "ivf_kmeans_topk",
    "streaming_tumbling",
    "streaming_sliding",
    "streaming_session_window",
    "streaming_dedup",
    "streaming_stateful",
    "streaming_static_join",
    "streaming_stream_join",
    "streaming_ohlc",
    "streaming_rocksdb_agg",
    "scd2_history",
    "mv_incremental_refresh",
    "dq_expectations",
    "golden_record_survivorship",
    "zorder_layout",
    # --- sixth batch: join/agg/window surfaces, curation remainder,
    # text quality, graph remainder ---
    "join_anti",
    "join_bucketed",
    "join_full_outer",
    "join_left_orders",
    "join_semi",
    "join_range_bands",
    "join_inner_geo",
    "topk_orders",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_quantiles",
    "agg_stats",
    "approx_distinct",
    "equidepth_bins",
    "window_frames",
    "window_range_frame",
    "window_ranking_family",
    "window_sliding",
    "window_tumbling",
    "window_lag_lead",
    "pii_redact",
    "contamination_check",
    "mix_temperature",
    "sample_topk_per_stratum",
    "split_group_hash",
    "mine_hard_negatives",
    "dedup_lsh_salted_skew",
    "dedup_ngram_containment",
    "dedup_incremental_batch",
    "dedup_substring_spans",
    "dedup_semantic",
    "token_zipf",
    "tfidf_top_term",
    "lang_id",
    "quality_score",
    "rrf_hybrid_search",
    "pagerank_converged",
    "bellman_ford_3round",
    "clustering_coefficient",
    # --- seventh batch: classical stats, classifier eval, text fit,
    # graph centrality remainder ---
    "bootstrap_ci_mean",
    "corr_matrix",
    "chisq_independence",
    "mutual_information",
    "emd_source_drift",
    "kl_source_drift",
    "anomaly_mad_zscore",
    "spearman_corr",
    "mannwhitney_u",
    "anova_f_oneway",
    "welch_ttest",
    "kendall_tau_b",
    "kruskal_wallis",
    "roc_auc_exact",
    "brier_calibration",
    "pr_auc_average_precision",
    "threshold_sweep_f1",
    "ndcg_at_10",
    "retrieval_mrr_hit",
    "map_mean_avg_precision",
    "logreg_gd_2step",
    "als_half_step",
    "target_encode_loo",
    "association_rules",
    "session_top_paths",
    "bpe_merge_steps",
    "heaps_law_fit",
    "readability_flesch",
    "collocation_llr",
    "hits_2iter",
    "katz_centrality_2iter",
    "wl_relabel_1iter",
    "lpa_communities_2iter",
    "adamic_adar_linkpred",
    "ppr_seeded_2iter",
    "ktruss_edge_support",
    "wilson_ctr_rank",
    "cohens_kappa",
    "gini_concentration",
    "max_drawdown",
    # --- eighth batch: curation stats/ML/causal/uncertainty remainder +
    # the full timeseries remainder (the continuation families — float
    # fits, rank tests, and iterative half-steps on the x4 timeline /
    # x4 fact) ---
    "sample_weighted_gumbel",
    "k_anonymity_violations",
    "l_diversity_audit",
    "ols_two_feature",
    "naive_bayes_gaussian",
    "decision_stump_infogain",
    "kfold_assignment_balance",
    "isotonic_calibration_pava",
    "ece_calibration_bins",
    "f1_macro_multiclass",
    "matthews_corrcoef",
    "log_loss_binary",
    "gmm_em_1step",
    "adaboost_2stumps",
    "dbscan_core_points",
    "record_linkage_fs_scores",
    "shapley_2feature_exact",
    "adjusted_rand_index",
    "mcnemar_paired_test",
    "lift_gain_deciles",
    "diff_in_diff",
    "sprt_decision",
    "conformal_prediction_interval",
    "cuped_adjustment",
    "ldp_randomized_response",
    "entropy_rate_markov",
    "causal_ipw_ate",
    "huber_irls_1step",
    "platt_scaling_2newton",
    "pca_2d_closed_form",
    "silhouette_score",
    "davies_bouldin_index",
    "local_outlier_factor",
    "ecod_outlier_scores",
    "mahalanobis_outlier_2d",
    "msprt_always_valid_p",
    "eb_shrunk_ctr",
    "facility_location_greedy",
    "sinkhorn_2iter",
    "cochran_armitage_trend",
    "friedman_test",
    "psm_att_nearest",
    "qini_uplift_deciles",
    "partial_correlation",
    "variance_components",
    "bollinger_breaches",
    "session_window_batch",
    "rolling_1h_median",
    "fir_smooth_8tap",
    "asof_join_tolerance",
    "attribution_linear",
    "pacf_durbin_levinson",
    "ccf_lead_lag",
    "dtw_alignment_distance",
    "kalman_filter_hod",
    "asof_join_nearest",
    "survival_nelson_aalen",
    "boxcox_lambda_grid",
    "gap_interp_linear",
    "interval_coverage_merge",
    "runs_test_wald_wolfowitz",
    "fdr_benjamini_hochberg",
    "burst_detection_2state",
    "viterbi_best_path_2state",
    "haar_dwt_2level",
    "gumbel_block_maxima",
    "hill_tail_index",
    "spc_xbar_chart",
    "cox_ph_1newton",
    "negbin_moment_fit",
    "zero_inflation_score_test",
    "ljung_box_q",
    # --- ninth batch: the full relational remainder (scan/sink
    # round-trips incl. io-write fixtures, SQL surfaces, warehouse
    # governance/audit, function surfaces) + graph pointer-doubling /
    # recursive-CTE (ranking remainder) ---
    "filter_project",
    # scan_binaryfile is EXCLUDED: its DuckDB oracle glob is pinned to
    # /root/testdata/sf0.01 (read_blob takes a literal path and the
    # registry's oracle strings are static), and the query fails loud
    # for any other sf_dir by design — it cannot be compared at this
    # tier. Its binaryFile scan is metadata-only (filename + length),
    # so there is no scale-variant logic to exercise here anyway.
    "scan_csv_roundtrip",
    "scan_json_roundtrip",
    "scan_partitioned_parquet",
    "upsert_latest_wins",
    "profile_table",
    "approx_quantiles_bounded",
    "set_ops",
    "string_funcs",
    "date_funcs",
    "json_funcs",
    "array_funcs",
    "pivot_events",
    "scan_orc_roundtrip",
    "compact_small_files",
    "sink_dynamic_partition_overwrite",
    "unpivot_events",
    "variant_json_extract",
    "ansi_try_functions",
    "pareto_skyline_brand",
    "ordered_string_agg",
    "bitmask_rollup",
    "id_gap_audit",
    "pandas_api_groupby",
    "custom_python_datasource",
    "sql_pipe_syntax",
    "sql_group_by_all",
    "filtered_aggregates",
    "array_hof_surface",
    "map_hof_surface",
    "grouping_id_surface",
    "table_checksum_audit",
    "custom_python_datasink",
    "nested_schema_pruning",
    "json_corrupt_records",
    "ratio_to_parent",
    "set_ops_all",
    "not_in_null_semantics",
    "scan_ignore_corrupt_files",
    "pagination_limit_offset",
    "join_null_safe_eq",
    "url_parse_surface",
    "lateral_topk_per_key",
    "gdpr_erasure_cascade",
    "fk_orphan_audit",
    "histogram_2d",
    "ordered_set_regr_surface",
    "sql_udf_surface",
    "lateral_column_alias",
    "bitmap_exact_distinct",
    "dp_noisy_counts",
    "sql_scripting_block",
    "sql_execute_immediate",
    "scan_agg_pushdown",
    "scan_xml_roundtrip",
    "sql_collation_surface",
    "observe_metrics_surface",
    "xpath_extract_surface",
    "tree_depth_doubling",
    "recursive_cte_reachability",
    # --- tenth batch: the full pipeline remainder (text/dedup/similarity
    # non-io, codecs + audio/video io-write fixtures, UDF/UDTF surfaces)
    # + the streaming remainder (availableNow batch-equivalence) ---
    "chunk_overlap",
    "embedding_pca_power",
    "query_likelihood_dirichlet",
    "dedup_dropped",
    "dedup_simhash",
    "lsh_dedup_recall",
    "lsh_band_sweep",
    "similarity_top10",
    "kmeans_lloyd_2iter",
    "text_normalize",
    "token_stats",
    "token_bpe_count",
    "token_topk",
    "quality_lm_bigram",
    "doc_fingerprint",
    "udtf_ngrams",
    "time_rollup_multires",
    "multimodal_meta",
    "imread_pgm",
    "imread_png",
    "imread_tiff",
    "imread_tiff_deflate",
    "imread_tiff_lzw",
    "imread_tiff_packbits",
    "imread_png_rgb",
    "imread_jpeg",
    "imread_tiff_16bit",
    "audio_wav_stats",
    "audio_zcr_rms",
    "video_y4m_frames",
    "imread_glob_nframes",
    "imread_tiff_multipage",
    "multimodal_resize",
    "multimodal_frames",
    "shuffle_shards",
    "quality_repetition",
    "udaf_geomean",
    "video_scene_cuts",
    "ngram_diversity",
    "udtf_table_arg_gaps",
    "udtf_dynamic_schema",
    "dedup_keep_best",
    "embedding_dim_stats",
    "arrow_batch_clip",
    "imread_bmp",
    "imread_gif",
    "textrank_keywords",
    "arrow_grouped_apply",
    "cluster_medoid",
    "mmr_rerank_top3",
    "pq_codebook_2sub",
    "jaccard_prefix_filter_join",
    "audio_spectral_centroid",
    "imread_ppm_rgb",
    "imread_pgm_ascii",
    "streaming_parquet_sink",
    "streaming_json_source",
    "streaming_csv_source",
    "streaming_foreach_batch",
    "streaming_dedup_watermark",
    "streaming_session_state",
    "streaming_static_antijoin",
    "streaming_custom_source",
    "streaming_left_outer_join",
]

# Queries checked ENGINE-ONLY (row count + clean execution) at this tier:
# their DuckDB oracles replay a greedy sequential walk as WITH RECURSIVE
# whose depth is docs-per-group (~20k here) — DuckDB re-joins the whole
# frontier per iteration, so the ORACLE is O(depth x |input|) and ran >100
# CPU-minutes without finishing at 80k docs. The engines' own plans are
# windowed walks (8 s at this scale); the oracles stay feasible at the
# driver's grading SFs, where the full value-hash check still runs every
# round. This is a truth-harness depth limit, not an engine limitation.
ENGINE_ONLY_16 = [
    "curation_pipeline",
    "pack_sequences",
]

# The round-10 core ten (VERDICT r9 item 8's list, one more tier up),
# then a widening set across the same heavy families — including
# dedup_simhash_pairs, the direct ×4-docs stress test for the round-10
# 60-bit banding rewrite (320k docs, 32768 keys/band).
SWEEP_64 = [
    "q1_pricing_summary",
    "q3_join_topk",
    "q9_product_type_profit",
    "q21_suppliers_kept_waiting",
    "dedup_minhash_lsh",
    "tfidf_cosine_pairs",
    "dedup_exact_groups",
    "sessionize",
    "rolling_1h_user_stats",
    "window_rank",
    # --- widening batch ---
    "q4_order_priority",
    "q13_customer_distribution",
    "q18_large_orders",
    "dedup_simhash_pairs",
    "bm25_search",
    "session_stats",
    "asof_join",
    "cohort_retention",
    "max_concurrent_sessions",
    "event_transition_matrix",
    # --- second widening: graph / ANN / spatial / incremental dedup ---
    "pagerank_2iter",
    "graph_triangle_count",
    "kcore_decomposition",
    "similarity_ivf_topk",
    "ann_recall_ivf",
    "dedup_incremental_minhash",
    "spatial_radius_join",
    "dedup_ngram_jaccard",
    "quality_entropy",
    "funnel_conversion",
    # --- third widening: timeseries / embeddings / text heavies ---
    "acf_hourly",
    "rolling_corr_24h",
    "seasonal_decompose_ma",
    "cusum_changepoint",
    "asof_join_tolerance",
    "similarity_hamming_topk",
    "matryoshka_recall",
    "embedding_quantize_int8",
    "token_pmi_bigrams",
    "token_bpe_count",
    # --- fourth widening: streaming batch-equivalence on the x16
    # timeline + lakehouse + blocked-dedup heavies ---
    "streaming_ohlc",
    "streaming_dedup_watermark",
    "streaming_session_state",
    "streaming_left_outer_join",
    "session_window_batch",
    "cdc_snapshot_diff",
    "merge_three_way",
    "mv_incremental_refresh",
    "dedup_levenshtein",
    "golden_record_survivorship",
    # --- fifth widening: the round-10 fix set, one more tier up —
    # every query whose plan or contract was changed this round gets a
    # tier-3 evidence point that the fix itself scales ---
    "local_outlier_factor",       # ring equi-join (was BNLJ over all pairs)
    "facility_location_greedy",   # explicit repartition (was 1-task N2 stream)
    "psm_att_nearest",            # bounded nearest-control map (was O(n2) frame)
    "cluster_medoid",             # salted within-label pairs (was 8-task ceiling)
    "dedup_semantic",             # salted within-cluster pairs (same rule)
    "udaf_geomean",               # x>0 log-domain filter
    "boxcox_lambda_grid",         # x>0 log-domain filter
    "tree_depth_doubling",        # dense-rank heap (was sparse-id drop)
    "lsh_band_sweep",             # MATERIALIZED-CTE oracle (was 58GB spill)
    "trimmed_mean",               # EPS-rounded quantile cuts (tie-boundary)
    # --- sixth widening: the heaviest tier-2 queries not yet at tier 3
    # (blocked dedup variants, text fits, transport, retrieval eval,
    # the band_bits-knob ANN graph) ---
    "dedup_minhash_survivors",
    "dedup_substring_spans",
    "dedup_ngram_containment",
    "jaccard_prefix_filter_join",
    "udtf_ngrams",
    "bpe_merge_steps",
    "sinkhorn_2iter",
    "map_mean_avg_precision",
    "knn_graph_lsh",
    "quality_repetition",
]

# The core ten, then two batches that re-grade tier-3 families one
# tier up.
SWEEP_256 = [
    "q1_pricing_summary",
    "q3_join_topk",
    "q9_product_type_profit",
    "q21_suppliers_kept_waiting",
    "dedup_minhash_lsh",
    "tfidf_cosine_pairs",
    "dedup_exact_groups",
    "sessionize",
    "rolling_1h_user_stats",
    "window_rank",
    # Second batch (round 11): the tier-3 heavy set re-graded one tier up,
    # biased to the axes that actually GROW at tier 4 (events x64, fact x64,
    # docs x256) — the embedding-axis queries are excluded (embeddings stay
    # x32, same as tier 3: re-running them re-measures the same point) and so
    # is knn_graph_lsh (its graded band_bits=8 contract does N^2/256 work BY
    # CONTRACT; at 1.28M docs that is ~36x the x64 tier's 2251 s — the knob,
    # not the engine, is what scales it; re-proving the contract costs hours
    # and teaches nothing new).
    "q18_large_orders",
    "session_stats",
    "asof_join",
    "cohort_retention",
    "max_concurrent_sessions",
    "event_transition_matrix",
    "bm25_search",
    "bpe_merge_steps",
    "dedup_ngram_containment",
    "dedup_substring_spans",
    # Third batch (round 12): the graph family + exploded-text queries whose
    # corpus-scale frames were merge-pinned this round — never tier-proven
    # before (the graph fixture becomes 1.28M nodes / 3.84M edges at x256
    # docs, the first size point above sf0.1 for the whole family). The
    # point: the pins hold where they matter AND the fixed-iteration shapes
    # stay linear in |edges|.
    "pagerank_2iter",
    "lpa_communities_2iter",
    "bellman_ford_3round",
    "hits_2iter",
    "katz_centrality_2iter",
    "wl_relabel_1iter",
    "graph_triangle_count",
    "clustering_coefficient",
    "textrank_keywords",
    "dedup_lsh_salted_skew",
]


@dataclass(frozen=True)
class Tier:
    lineitem: int  # copies of every lineitem row
    doc_alphabets: int  # documents: 4 ** doc_alphabets copies
    events: int
    embeddings: int
    sweep: list[str]
    engine_only: list[str]


TIERS = {
    16: Tier(4, 2, 4, 8, SWEEP_16, ENGINE_ONLY_16),
    64: Tier(16, 3, 16, 32, SWEEP_64, []),
    256: Tier(64, 4, 64, 32, SWEEP_256, []),
}


def _write_flat(df, out: str, t: str) -> None:
    """Write a table as a SINGLE parquet FILE named {t}.parquet — the
    physical layout the parity harness's DuckDB views expect (the
    generator ships flat files; a Spark part-file directory would match
    no files under read_parquet('{dir}/{t}.parquet'))."""
    import glob
    import shutil

    stage = f"{out}/_stage_{t}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.move(part, f"{out}/{t}.parquet")
    shutil.rmtree(stage)


def build_sweep_dir(spark, tier: Tier, out: str) -> None:
    import shutil

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from dask_image_spark.sources.tables import load_table

    def write_union(t, frames):
        _write_flat(functools.reduce(DataFrame.unionAll, frames), out, t)

    os.makedirs(out, exist_ok=True)

    for t in ("region", "nation", "customer", "supplier", "part", "orders"):
        shutil.copyfile(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")

    copy = F.explode(F.array(*[F.lit(i) for i in range(tier.lineitem)]))
    li = load_table(spark, BASE, "lineitem")
    _write_flat(li.withColumn("_copy", copy).drop("_copy"), out, "lineitem")

    # copy index in mixed radix over the alphabets, first alphabet most
    # significant, each copy translating the first alphabet first
    alphabets = ALPHABETS[: tier.doc_alphabets]
    d = load_table(spark, BASE, "documents")

    def doc_copy(idx, rots):
        text = F.col("text")
        for alphabet, rot in zip(alphabets, rots):
            text = F.translate(text, alphabet, rot)
        return d.select(
            (F.col("doc_id") + idx * DOC_ID_OFFSET).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            "n_chars",
        )

    combos = itertools.product(*(rotations(a) for a in alphabets))
    write_union("documents", (doc_copy(i, r) for i, r in enumerate(combos)))

    ev = load_table(spark, BASE, "events")
    write_union("events", (
        ev.select(
            (F.col("event_id") + k * 100_000_000).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {400 * k} DAYS")).cast(
                "timestamp_ntz"
            ).alias("ts"),
            (F.col("user_id") + k * 10_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for k in range(tier.events)
    ))

    emb = load_table(spark, BASE, "embeddings")
    write_union("embeddings", (
        emb.select(
            (F.col("vec_id") + k * 1_000_000).alias("vec_id"),
            F.expr(
                f"transform(embedding, (v, i) -> CASE WHEN i = 0 THEN "
                f"CAST(v + {k} * 1e-3 AS FLOAT) ELSE v END)"
            ).alias("embedding"),
            "label",
        )
        for k in range(tier.embeddings)
    ))


def main(argv: list[str] | None = None) -> None:
    from dask_image_spark import queries as q

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tier", type=int, choices=sorted(TIERS), required=True)
    ap.add_argument(
        "--only",
        help="comma list of registered query names, or @file with one per "
        "line; runs exactly these instead of the tier's lists",
    )
    args = ap.parse_args(argv)
    tier, out = TIERS[args.tier], f"{OUT_ROOT}/x{args.tier}"

    q.load_all()
    registry, oracles = q.all_queries(), q.all_oracles()
    if args.only is None:
        names = tier.engine_only + tier.sweep
    else:
        names = (
            Path(args.only[1:]).read_text().split()
            if args.only.startswith("@")
            else [n for n in args.only.split(",") if n]
        )
        # fail before any Spark work: a typo used to surface as a
        # KeyError result minutes into a tier run
        unknown = [n for n in names if n not in registry]
        if unknown:
            ap.error(f"--only names not in the registry: {unknown}")

    from dask_image_spark.session import get_spark
    from tests.parity import compare

    spark = get_spark(app_name=f"scale-parity-x{args.tier}")
    if not os.path.isfile(f"{out}/lineitem.parquet"):
        t0 = time.perf_counter()
        build_sweep_dir(spark, tier, out)
        print(
            f"# sweep dir built in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

    results: dict[str, str] = {}
    secs: dict[str, float] = {}
    for name in dict.fromkeys(names):
        t0 = time.perf_counter()
        try:
            df = registry[name](spark, out)
            if name in tier.engine_only:
                results[name] = f"engine-only: {df.count()} rows"
            else:
                problems = compare(df, oracles[name], out)
                results[name] = "; ".join(problems)[:300] or "ok"
        except Exception as e:  # noqa: BLE001 — per-query isolation
            results[name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            q.release_caches()
        secs[name] = round(time.perf_counter() - t0, 1)
        print(
            f"# {name}: {results[name][:80]} ({secs[name]}s)",
            file=sys.stderr,
        )

    n_ok = sum(
        v == "ok" or v.startswith("engine-only") for v in results.values()
    )
    print(
        json.dumps(
            {
                "metric": f"scale_parity_x{args.tier}",
                "n_ok": n_ok,
                "n_total": len(results),
                "secs": secs,
                "results": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
