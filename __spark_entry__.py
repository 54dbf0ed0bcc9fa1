"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (the reference's de-facto benchmark
aggregate, examples/file_read.rs:13-29, over the events table) at
sf0.001.

``queries()`` / ``oracle_sql()`` — the operator registry lives in
``vega_spark.registry``; every SURVEY.md §2 operator family has at
least one entry, and each SQL-expressible one carries a DuckDB
oracle with column names/types/rounding aligned on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from vega_spark import registry  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def _ship_package(spark: SparkSession) -> None:
    """Make ``vega_spark`` importable on EXECUTOR python workers.

    The sys.path insert above fixes the driver process only: worker
    processes unpickle UDF closures (mapInPandas kernels reference
    vega_spark functions) with their own interpreter, which knows
    nothing about this file's location when the driver was launched
    from a different cwd. Shipping a zip of the package via
    ``addPyFile`` covers every deployment mode (local worker
    subprocesses AND real clusters) without touching PYTHONPATH.
    Idempotent per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_vega_pkg_shipped", False):
        return
    import zipfile

    from vega_spark.session import scratch_dir

    pkg_dir = os.path.join(_REPO_ROOT, "vega_spark")
    zpath = os.path.join(scratch_dir(spark, "vega_pkg"), "vega_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, _REPO_ROOT))
    sc.addPyFile(zpath)
    sc._vega_pkg_shipped = True


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ship_package(spark)
    return registry.QUERIES["weblog_agg"](spark, SF0001)


# Driver-window rotation (VERDICT r02 next-round #2): the driver
# verifies roughly the first 50 entries of queries() per round.  The
# ordering below puts (1) queries whose LATEST driver row FAILED
# (hash/rows/schema mismatch, or a no_oracle row for a query that now
# has an oracle) at the very front — a fix must be re-checked, never
# buried; (2) never-checked queries in _PRIORITY order (§2 stragglers
# -> TPC-H judge-named shapes -> LLM flagships -> the rest); (3)
# fully-green queries at the tail.  Round 2 counted ANY row as
# verified, which rotated the 14 hash-failing queries out of the
# window permanently — that is the bug this ordering fixes.
_PRIORITY = [
    # r6 head: the repaired array-shape contract must land a green row
    # this round (r5 verdict #2) — encode_docs_vocab1k re-enters at the
    # very front automatically via its red r5 row.
    "cogroup_three_way",
    # r4 window (r3 verdict #1: fill it with never-checked families —
    # graph, text stats, mlprep, geo, versioned, streaming — plus the
    # two §2-surface stragglers and this round's contract changes).
    # --- §2 stragglers (r3 verdict #4) + new/changed contracts
    "sample_stratified", "custom_source_events", "mean_approx",
    "count_approx", "dedup_minhash_lsh",
    "dedup_simhash",          # r5 _RECHECK: operator leg now capped
    "cache_reuse_scan_count",  # new r5: last §2 row (cache/persist win)
    "sparse_cosine_doc_pairs",  # r5 _RECHECK: absolute df cap added
    "dedup_ngram_jaccard", "dedup_components", "dedup_keep_representatives",
    "embedding_near_dup",
    # --- graph family (zero driver rows before r4)
    "pagerank_part_affinity", "triangle_count_parts", "bfs_parts_distance",
    "sssp_parts_weighted", "kcore_parts", "label_propagation_parts",
    # --- text statistics family
    "tfidf_top_terms", "vocab_stats", "zipf_rank_frequency",
    "readability_docs", "text_features", "keyness_terms_by_lang",
    # --- mlprep family
    "kmeans_clusters", "kmeans_silhouette", "als_recommend_parts",
    "roc_auc_purchase_value", "target_encode_orders_priority",
    "naive_bayes_lang_confusion", "ols_price_qty_discount",
    "pca_covariance_lineitem",
    # --- geo family
    "geo_trajectory_users", "geo_copresence_users",
    # --- versioned/lakehouse family
    "versioned_time_travel_orders", "versioned_data_skipping_orders",
    "versioned_bloom_point_lookup", "versioned_change_feed_orders",
    "versioned_zorder_2d_skipping", "versioned_delete_keys_orders",
    "merge_upsert_orders", "cdc_apply_changes_orders",
    # --- streaming family
    "streaming_windowed_counts", "streaming_stream_static_join",
    "streaming_dedup_exact", "streaming_kmv_rollup",
    "streaming_watermark_drops", "streaming_anomaly_flags",
    "streaming_interval_join_pairs", "streaming_left_outer_interval_join",
    "mv_incremental_refresh",
    # --- TPC-H stragglers
    "tpch_q15_top_supplier", "tpch_q16_supplier_part_count",
    "tpch_q18_large_orders", "tpch_q19_discounted_revenue",
    "tpch_q20_promo_suppliers", "tpch_q22_global_sales_opportunity",
    # ~r5 window candidates: remaining dedup/ann/pipeline flagships
    "dedup_spans", "dedup_incremental", "dedup_incremental_bloom",
    "near_dup_incremental_lsh", "ann_cosine_topk", "ann_cosine_topk_arrow",
    "ann_lsh_topk", "ann_ivf_topk", "bpe_encode_docs",
    "encode_docs_vocab1k", "pipeline_corpus_stats",
    "decontaminate_against_eval", "split_assign_counts",
    "temperature_resample_langs", "pack_sequences_manifest",
    "training_shard_manifest", "contrastive_negatives_docs", "dsir_select_en",
    "web_url_dedup_pipeline", "web_line_filter", "html_extract_docs",
    "inverted_index_search", "fuzzy_match_suppliers",
    "resolve_supplier_entities",
    # sketches/rollups
    "kmv_distinct_jaccard", "hll_rollup_distinct_users",
    "bitmap_distinct_rollup", "hist_quantile_rollup", "cms_heavy_hitters",
    "heavy_hitters",
    # joins/layout corners
    "asof_join", "asof_join_forward_tolerance", "range_join",
    "null_safe_join_custkeys", "skew_salted_join", "skew_salted_agg",
    "bucketed_join_priority_revenue", "partitioned_scan_prune",
    "compact_small_files", "file_layout_skew_report",
    "read_merge_schema_evolution", "custom_sink_jsonl_roundtrip",
    "table_diff_orders", "scd2_user_state",
    # multimodal + audio
    "multimodal_metadata", "multimodal_frames", "image_header_decode",
    "audio_frame_energy_vad",
    # analytics backlog (event/behavioral)
    "sessionize_gap", "ewma_user_values", "attribution_first_last_touch",
    "attribution_time_decay", "funnel_time_boxed_1h_24h",
    "funnel_view_click_purchase", "dau_wau_stickiness",
    "retention_cohorts_daily", "top_event_paths", "user_event_gaps",
    "session_depth_bounce", "activity_heatmap_dow_hour",
    "dod_wow_event_changes", "fulfillment_lag_by_priority",
    "rolling_hour_value", "hopping_window_counts",
    # stats/ml backlog
    "corr_qty_discount_by_flag", "corr_matrix", "crosstab_counts",
    "histogram_price", "percentile_by_group", "percentile_exact",
    "quality_suite_orders", "dq_expectations_lineitem", "profile_orders",
    "fk_integrity_audit", "drift_psi_event_values", "ks_drift_purchase_view",
    "ab_test_event_values", "jackknife_event_means", "benford_event_values",
    "chi2_event_type_value", "mi_event_type_value",
    "anomalies_event_values", "spikes_event_hours", "trend_event_hours",
    "forecast_backtest_events", "holt_forecast_hourly",
    "stl_decompose_hourly", "markov_next_event",
    "calibration_value_purchase", "decile_lift_purchase",
    "stump_return_price", "cv_stump_orders_priority",
    "conformal_orders_price", "jl_projection_embeddings",
    "embed_l2_normalize", "embed_quantize_int8", "embed_label_centroids",
    "embed_centroid_outliers", "feature_vector_events", "user_feature_mart",
    "pareto_customer_frontier", "cooccurrence_parts", "item_neighbors_parts",
    "assoc_rules_parts", "weighted_sample_docs", "weighted_sample_docs_by_lang",
    "sample_per_source_capped", "stratified_sample_langs",
    "diversity_by_source", "curriculum_length_deciles",
    "dp_noisy_event_counts", "k_anonymity_docs",
    # text backlog
    "text_normalize_mask", "chunk_documents", "doc_fingerprint",
    "unigram_lm_score", "bigram_lm_docs", "repetition_stats",
    "unpivot_lineitem_measures", "json_props_agg", "udtf_sentences",
    # sql-surface corners
    "sql_exists_subquery", "window_lead_lag", "window_rank_stats",
    "window_function_sweep", "pivot_event_values", "pivot_unpivot_roundtrip",
    "array_hof_sweep", "modern_aggregates", "except_all_keys",
    "intersect_all_keys", "subtract_by_key", "forward_fill_values",
    "resample_hourly_grid", "union_by_name_missing", "key_skew_report_parts",
    "cogroup_reconcile_orders", "cogroup_three_way",
]

# Contract-changed-this-round queries: their past driver rows are
# green but hashed the OLD surface; force a re-check ahead of the tail.
# r7: EMPTY on purpose — the r6 contract changes (geo cap mirror,
# cache inequalities) landed green driver rows in r6, and the r7
# window must burn exactly the 50 never-checked queries to close the
# verification debt to 322/322 (VERDICT r6 #1).  The r7 in-round
# changes (geo_copresence_users adaptive grid) are re-queued for r8
# via _RECHECK_NEXT below, which only takes effect once debt is 0.
_RECHECK: set[str] = set()

# Queries whose contract changed since their last green driver row —
# they are green-but-stale and must jump the rotation queue in the
# FIRST post-debt window. queries() folds these into _RECHECK
# automatically once no never-checked queries remain, so a window is
# never diluted while debt is outstanding.
# r9: the r8 set (geo_copresence_users, sparse_cosine_doc_pairs,
# als_recommend_parts) landed green r8 rows against the changed
# contracts and rotates out. This round's in-round contract changes
# are queued here as they land.
_RECHECK_NEXT: set[str] = set()


def _driver_rows() -> dict[str, dict]:
    """Latest driver CORRECTNESS row per query (later rounds win).

    Each returned row is annotated with ``_round`` — the round number
    of the CORRECTNESS file it came from — so the rotation policy can
    order stale greens oldest-first."""
    import glob
    import json
    import re

    rows: dict[str, dict] = {}
    for p in sorted(glob.glob(os.path.join(_REPO_ROOT,
                                           "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(p) as f:
                data = json.load(f)
        except Exception:
            continue
        for name, row in data.items():
            if isinstance(row, dict):
                row = dict(row)
                row["_round"] = rnd
                rows[name] = row
    return rows


def _is_green(name: str, row: dict) -> bool:
    """A row counts as verified ONLY when every driver check passed.
    A no_oracle row is terminal (counts) only while the query still
    has no oracle — the weaker rows-only check is all it can get."""
    if row.get("rows_match") and row.get("schema_match") \
            and row.get("hash_match"):
        return True
    return row.get("err") == "no_oracle" and name not in registry.ORACLES


def _window_order(names, rows, recheck, recheck_next, priority) -> list[str]:
    """Pure window-ordering policy (unit-tested in
    tests/test_window_policy.py).  Three tiers:

    1. FAILED — latest driver row is red; a fix must be re-checked,
       never buried (the round-2 bug this ordering fixed).
    2. FRESH — never driver-checked, plus contract-changed greens
       (``recheck``).  While any never-checked query remains,
       ``recheck_next`` is deferred so the window burns pure debt;
       once debt hits 0 it folds into ``recheck`` automatically.
    3. TAIL — stale-green rotation: greens ordered OLDEST driver
       round first (ties broken by _PRIORITY then name), so the
       post-debt window is a regression patrol over the rows whose
       evidence is most out of date.
    """
    green = {k for k, r in rows.items() if _is_green(k, r)}

    def rank(k: str) -> int:
        return priority.index(k) if k in priority else len(priority)

    debt = [k for k in names if k not in rows]
    if not debt:
        recheck = set(recheck) | set(recheck_next)
    failed = sorted((k for k in names if k in rows and k not in green),
                    key=rank)
    fresh = sorted((k for k in names
                    if k in debt or (k in recheck and k in green)),
                   key=rank)
    seen = set(failed) | set(fresh)
    tail = sorted((k for k in names if k not in seen),
                  key=lambda k: (rows[k].get("_round", 0), rank(k), k))
    return failed + fresh + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered
    so the driver's per-round window re-checks repaired failures
    first, then never-verified queries, then stale greens oldest
    driver round first (see _window_order)."""
    def shipped(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            return fn(spark, sf_dir)
        return run

    q = {k: shipped(fn) for k, fn in registry.QUERIES.items()}
    order = _window_order(list(q), _driver_rows(), _RECHECK,
                          _RECHECK_NEXT, _PRIORITY)
    return {k: q[k] for k in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return dict(registry.ORACLES)
