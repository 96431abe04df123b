#!/usr/bin/env python
"""Scale-parity sweep ONE TIER ABOVE sf0.1 (VERDICT r9 item 8): the ten
shuffle-heaviest queries re-graded with the driver-identical
row/schema/value-hash compare (tests/parity.py) against an AUGMENTED
table set materialized from sf0.1 —

  lineitem  x4  (relational.py::lineitem_x4 — fact growth, key domain
                 unchanged: 24M rows at sf0.1 base of 6M)
  documents x16 (pipeline.py's vowel x consonant rotations, FULL schema:
                 80k docs; translate() is 1:1 so n_chars stays correct)
  events    x4  (full schema; event_id offset per copy, ts shifted by
                 +400 days per copy so copies neither collide nor
                 interleave; written as TIMESTAMP_NTZ to match the
                 generator's physical encoding)
  embeddings x8 (vec_id offset; one dim deterministically perturbed per
                 copy so copies are near- but not exact duplicates)
  region/nation/customer/supplier/part/orders copied as-is (dims
                 constant — the axis a growing fact table moves along)

The augmentation runs ONCE in Spark and is MATERIALIZED to parquet, so
Spark and DuckDB read byte-identical inputs — the sweep tests the
ENGINES' execution at ~4-16x the previous ceiling (exchange shapes, float
accumulation order, tie-breaking under real duplicate mass), not the
augmentation arithmetic.

Usage: python scripts/scale_parity_x16.py   (prints one JSON line;
rebuilds the sweep dir only if missing — delete /tmp/dask_image_spark_scale
to force regeneration). Results recorded in COVERAGE.md + SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/tmp/dask_image_spark_scale/x16"

# The shuffle-heaviest registered queries (VERDICT r9 plan audit):
# TPC-H heavy aggregation/join chains on the x4 fact,
# the LSH band self-join and df-pruned postings self-join on the x16
# corpus, the hash-dedup groupBy, and the heaviest window/session shapes
# on the x4 timeline. The first ten are the round-10 core sweep (VERDICT
# item 8); the rest widen the tier-2 evidence across the dedup/text/
# graph/retention families at the same augmented scale.
SWEEP = [
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
ENGINE_ONLY = [
    "curation_pipeline",
    "pack_sequences",
]


def _write_flat(df, t: str) -> None:
    """Write a table as a SINGLE parquet FILE named {t}.parquet — the
    physical layout the parity harness's DuckDB views expect (the
    generator ships flat files; a Spark part-file directory would match
    no files under read_parquet('{dir}/{t}.parquet'))."""
    import glob
    import shutil

    stage = f"{OUT}/_stage_{t}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.move(part, f"{OUT}/{t}.parquet")
    shutil.rmtree(stage)


def build_sweep_dir(spark) -> None:
    import shutil

    from pyspark.sql import functions as F

    from dask_image_spark.queries.pipeline import X4_OFFSET, X4_ROTS, X16_CROTS
    from dask_image_spark.queries.relational import lineitem_x4
    from dask_image_spark.sources.tables import load_table

    os.makedirs(OUT, exist_ok=True)

    # dims: copy as-is (constant-dimension axis)
    for t in ("region", "nation", "customer", "supplier", "part", "orders"):
        shutil.copyfile(f"{BASE}/{t}.parquet", f"{OUT}/{t}.parquet")

    # lineitem x4 — the registered augmenter, full schema already
    _write_flat(lineitem_x4(spark, BASE), "lineitem")

    # documents x16 — full schema (docs_x16 selects (doc_id, text) only;
    # the rotations are 1:1 character maps so lang/source/n_chars replicate
    # unchanged and stay consistent)
    d = load_table(spark, BASE, "documents")
    out = None
    for c, rot in enumerate(X4_ROTS):
        for c2, crot in enumerate(X16_CROTS):
            cp = d.select(
                (F.col("doc_id") + (c * 4 + c2) * X4_OFFSET).alias("doc_id"),
                F.translate(
                    F.translate("text", "aeiou", rot), "rstln", crot
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            out = cp if out is None else out.unionAll(cp)
    _write_flat(out, "documents")

    # events x4 — copies shifted +400 days (beyond the ~30-day timeline:
    # no cross-copy session/window interactions) with non-colliding ids;
    # TIMESTAMP_NTZ on disk to match the generator's physical encoding
    # (DuckDB must read naive TIMESTAMP, not TIMESTAMPTZ)
    ev = load_table(spark, BASE, "events")
    copies = None
    for k in range(4):
        cp = ev.select(
            (F.col("event_id") + k * 100_000_000).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {400 * k} DAYS")).cast(
                "timestamp_ntz"
            ).alias("ts"),
            (F.col("user_id") + k * 10_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        copies = cp if copies is None else copies.unionAll(cp)
    _write_flat(copies, "events")

    # embeddings x8 — near-duplicate copies (dim 0 perturbed by k*1e-3),
    # materialized so both engines read the same floats
    emb = load_table(spark, BASE, "embeddings")
    ecopies = None
    for k in range(8):
        cp = emb.select(
            (F.col("vec_id") + k * 1_000_000).alias("vec_id"),
            F.expr(
                f"transform(embedding, (v, i) -> CASE WHEN i = 0 THEN "
                f"CAST(v + {k} * 1e-3 AS FLOAT) ELSE v END)"
            ).alias("embedding"),
            "label",
        )
        ecopies = cp if ecopies is None else ecopies.unionAll(cp)
    _write_flat(ecopies, "embeddings")


def main() -> None:
    from dask_image_spark import queries as q
    from dask_image_spark.session import get_spark
    from tests.parity import compare

    q.load_all()
    spark = get_spark(
        app_name="scale-parity-x16",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    if not os.path.isfile(f"{OUT}/lineitem.parquet"):
        t0 = time.perf_counter()
        build_sweep_dir(spark)
        print(
            f"# sweep dir built in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

    # --only a,b,c  (or --only @/path/to/names.txt, one per line): run a
    # subset — new batches verify alone without re-running the standing
    # 200+ already-committed results. The committed SWEEP list stays the
    # cumulative record; --only is a session-time filter.
    only: set[str] | None = None
    if len(sys.argv) >= 3 and sys.argv[1] == "--only":
        arg = sys.argv[2]
        if arg.startswith("@"):
            only = set(open(arg[1:]).read().split())
        else:
            only = set(arg.split(","))
        unknown = only - set(SWEEP) - set(ENGINE_ONLY)
        if unknown:
            print(f"# --only names not in SWEEP: {sorted(unknown)}",
                  file=sys.stderr)
            sys.exit(2)

    results: dict[str, str] = {}
    registry, oracles = q.all_queries(), q.all_oracles()
    for name in ENGINE_ONLY:
        if only is not None and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            n = registry[name](spark, OUT).count()
            results[name] = f"engine-only: {n} rows"
        except Exception as e:  # noqa: BLE001
            results[name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            q.release_caches()
        print(
            f"# {name}: {results[name][:80]}"
            f" ({time.perf_counter() - t0:.1f}s)",
            file=sys.stderr,
        )
    for name in SWEEP:
        if only is not None and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            problems = compare(registry[name](spark, OUT), oracles[name], OUT)
            results[name] = (
                "ok" if not problems else "; ".join(problems)[:300]
            )
        except Exception as e:  # noqa: BLE001 — per-query isolation
            results[name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            q.release_caches()
        print(
            f"# {name}: {results[name][:80]}"
            f" ({time.perf_counter() - t0:.1f}s)",
            file=sys.stderr,
        )

    n_ok = sum(
        1 for v in results.values()
        if v == "ok" or v.startswith("engine-only")
    )
    print(
        json.dumps(
            {
                "metric": "scale_parity_x16",
                "n_ok": n_ok,
                "n_total": len(results),
                "results": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
