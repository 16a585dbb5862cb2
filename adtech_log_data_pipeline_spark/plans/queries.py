"""Declared queries — the driver contract (`__spark_entry__.queries`).

Each entry is (spark, sf_dir) -> DataFrame, one per implemented operator
from SURVEY.md §2 plus general analytics coverage. Outputs are flat
primitive columns (nested maps/arrays are exploded) so the DuckDB oracle
hash-compare is portable; every computed column is aliased identically in
plans/oracles.py.

Float determinism convention: double SUM/AVG aggregates accumulate in
exact decimal and are quantized portably (see plans/relational.py::_dsum)
so partial-aggregation order can never flip a bit vs the oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.bidlogs import load_bid_logs, load_iapp
from ..sources.tables import register_tables
from ..operators.validate import valid_bid_logs
from ..operators.device_profile import device_profiles, flatten_device_profiles
from ..operators.app_profile import app_profile_slots_from_valid
from ..operators.suspicious import SuspiciousThresholds, suspicious_ids_from_valid
from ..operators.features import feature_pipeline_from_valid
from ..operators.inference import predict
from .relational import RELATIONAL_SQL
from .northstar import NORTHSTAR_QUERIES
from .audits import MAINTENANCE_QUERIES


# Threshold set for the DECLARED queries, tuned to the synthetic data's
# per-device activity (~47 valid bids, ~28 geos, ~27 apps per device) so all
# three suspicious rules fire and a meaningful device subset survives to the
# feature stage. The reference's own defaults (4/3/8/10, MyOptions.java:28-54)
# remain the SuspiciousThresholds dataclass defaults and are exercised in
# tests/test_suspicious.py.
QUERY_THRESHOLDS = SuspiciousThresholds(
    user_count=40, app_count=3, geo_count=30, bid_log_count=47
)


def _valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return valid_bid_logs(load_bid_logs(spark, sf_dir))


def _profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return device_profiles(_valid(spark, sf_dir))


# --- reference-parity queries (SURVEY.md §2) -------------------------------


def q_bidlog_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: the 11-clause validity filter, summarized per exchange."""
    return (
        _valid(spark, sf_dir)
        .groupBy("exchange")
        .agg(
            F.count(F.lit(1)).alias("n_logs"),
            F.sum(F.when(F.col("bid_result") == 1, 1).otherwise(0)).alias("n_bids"),
            F.sum(F.col("bid_price").cast("long")).alias("sum_price"),
            F.min("received_at").alias("min_received"),
            F.max("received_at").alias("max_received"),
        )
    )


def q_device_profiles_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/A1: the nested per-device profile aggregation, re-flattened to
    app-exchange granularity for hash comparison."""
    return flatten_device_profiles(_profiles(spark, sf_dir))


def q_device_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 rollup: per-device bounds + app/geo/bid cardinalities."""
    p = _profiles(spark, sf_dir)
    return p.select(
        "os",
        "uuid",
        "first_at",
        "last_at",
        F.size("apps").alias("app_count"),
        F.size("geos").alias("geo_count"),
        F.expr(
            "aggregate(apps, 0L, (acc, a) -> acc +"
            " aggregate(map_values(a.count_per_exchange), 0L, (x, y) -> x + y))"
        ).alias("total_bids"),
    )


def q_app_profiles_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-A5: per-app distinct-user counts; slot=-1 is the user-count leg.
    The flat adapter over operators/app_profile.py's slot-count core, the
    one the jobs' app_profiles re-nests."""
    return app_profile_slots_from_valid(_valid(spark, sf_dir))


def q_suspicious_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/J1/R1: rule-based bot detection. The flat adapter over
    operators/suspicious.py's rules and scoring core, the ones the jobs'
    suspicious_ids uses."""
    return suspicious_ids_from_valid(_valid(spark, sf_dir), QUERY_THRESHOLDS)


def q_feature_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3/F6/A6/A7: blacklist anti-join, 1/16 sample, IAPP intersection
    aggregates + the 4 ratio features.

    operators/features.py::feature_pipeline_from_valid feeds ONE shared
    per-device aggregate to the suspicious scoring core and the feature
    assembly core, the ones the jobs' suspicious_ids and feature_inputs
    use; the validated frame is persisted so the scan+derive chain runs
    once."""
    from ..functions._cache import hold

    v = hold(_valid(spark, sf_dir))
    return feature_pipeline_from_valid(v, load_iapp(spark, sf_dir), QUERY_THRESHOLDS)


def q_profile_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 no-silent-caps audit: run the profile aggregation WITH the
    apps-per-device materialization cap engaged and prove zero truncation
    on honest data, the same conservation law the dedup band buckets get
    (dedup_cap_audit). `apps_dropped` is measured against the CAPPED
    implementation's actual output (uncapped distinct-app count minus
    size(apps)), so a capping bug — not just a cap breach — flips the
    audit; the oracle states the closed form sum(max(n_apps - cap, 0))."""
    from ..operators.device_profile import DEFAULT_PROFILE_APP_CAP

    cap = DEFAULT_PROFILE_APP_CAP
    v = _valid(spark, sf_dir)
    kept = device_profiles(v, max_apps_per_device=cap).select(
        "os", "uuid", F.size("apps").alias("kept_apps")
    )
    actual = v.groupBy("os", "uuid").agg(
        F.countDistinct("app_bundle").alias("n_apps")
    )
    return (
        actual.join(kept, ["os", "uuid"])
        .agg(
            F.lit(cap).cast("int").alias("cap"),
            F.count(F.lit(1)).alias("n_devices"),
            F.max("n_apps").cast("int").alias("max_apps"),
            F.sum(
                F.when(F.col("n_apps") > cap, 1).otherwise(0)
            ).alias("n_devices_over_cap"),
            F.sum(F.col("n_apps") - F.col("kept_apps")).alias("apps_dropped"),
        )
    )


def q_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2-R4: feature vectors + batched deterministic inference
    (pandas-UDF path; rows-only driver check — not SQL-expressible)."""
    return predict(q_feature_inputs(spark, sf_dir))


# --- general analytics coverage (TPC-H-style over the star schema) ---------
# Query text lives in plans/relational.py (dialect-shared with the oracle).


def _relational(name: str) -> Callable[[SparkSession, str], DataFrame]:
    sql_fn, tables = RELATIONAL_SQL[name]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir, tables)
        return spark.sql(sql_fn("spark"))

    run.__doc__ = sql_fn.__doc__
    return run


def _hygienic(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Release the PREVIOUS query's held/persisted intermediates AND its
    app-status KVStore residue before building the next one: a long-lived
    session running many declared queries caches at most one query's
    worth of frames (functions/_cache.py registry) and retains at most
    one query's worth of task/stage/job/SQL-execution status entries
    (functions/_hygiene.py — the ~4-5 MB/query JVM residue that OOMed a
    bare 1 GiB session mid-board at sf0.1 in round 9). Sessions with a
    small max heap also get an explicit full GC so floating residue
    can't compound into allocation-failure thrash mid-query (skipped on
    big-heap sessions where the pause would cost more than it frees).
    Memory-sink views need no sweep here: streaming/windowed.py::
    _run_to_memory drops its own view on every exit path."""
    from ..functions._cache import release_cached
    from ..functions._hygiene import trim_status_store

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_cached()
        trim_status_store(spark)
        _gc_small_heap(spark)
        return fn(spark, sf_dir)

    run.__doc__ = fn.__doc__
    return run


def _gc_small_heap(spark: SparkSession, max_heap_gib: float = 4.0) -> None:
    """Explicit full GC on small-heap sessions only (driver == executor
    JVM in local mode, so this also relieves executor-side pressure)."""
    try:
        rt = spark._jvm.java.lang.Runtime.getRuntime()
        if rt.maxMemory() <= max_heap_gib * (1 << 30):
            spark._jvm.java.lang.System.gc()
    except Exception:
        pass


_ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bidlog_validation": q_bidlog_validation,
    "device_profiles_flat": q_device_profiles_flat,
    "device_profile_summary": q_device_profile_summary,
    "app_profiles_flat": q_app_profiles_flat,
    "suspicious_ids": q_suspicious_ids,
    "feature_inputs": q_feature_inputs,
    "predictions": q_predictions,
    "profile_cap_audit": q_profile_cap_audit,
    **{name: _relational(name) for name in RELATIONAL_SQL},
    **NORTHSTAR_QUERIES,
    **MAINTENANCE_QUERIES,
}

# The external gate checks the FIRST 50 entries of queries(), so ordering is
# part of the contract: the least-proven queries must sort earliest.
#
# Round-13 rotation record, COMPUTED from the CORRECTNESS_r01..r12
# artifacts (last-green round per query, ascending, stable by declared
# order — the protocol set by the round-7 verdict): all 219 previously
# declared queries have at least one green driver row; the last-green
# histogram entering this round is r8:39, r9:43, r10:43, r11:43, r12:50.
# The window is the THREE new round-13 queries (markup_extract_stats,
# pair_alignment, pair_alignment_audit — 0 greens beat all), then the
# FULL r8 cohort (39 — the round-12 verdict's task-2 promote queue,
# honored verbatim), then the 1 oldest r9 green. After this round gates
# them, min(last-green) across the board advances to r9.
# The window stays parity-7 + 43.
_GATE_FIRST = [
    "markup_extract_stats",
    "pair_alignment",
    "pair_alignment_audit",
    "customer_order_distribution",
    "monthly_revenue_trend",
    "brand_supplier_stats",
    "quiet_returners",
    "sliding_window_counts",
    "conversion_funnel",
    "text_stats",
    "lang_id",
    "doc_fingerprints",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_clusters",
    "ngram_jaccard",
    "similarity_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "embedding_near_dup",
    "winnowing",
    "multimodal_meta",
    "multimodal_resize",
    "frame_sample",
    "simhash_near_dup",
    "vocab_topk",
    "train_split",
    "group_split_sources",
    "join_view_delta",
    "multi_touch_credit",
    "bpe_merge_rules",
    "pii_redact",
    "label_centroids",
    "repetition_stats",
    "length_percentiles",
    "source_mix",
    "packing_plan",
    "tfidf_top_terms",
    "graph_reachability_indexed",
    "snapshot_asof_read",
    "snapshot_merge_state",
    "scd2_intervals",
]
# The tail: every remaining query ordered last-green ASCENDING (the
# remaining r9 cohort — the round-14 promote queue head — then r10,
# r11, r12), so future rotations keep promoting from the tail head.
_GATE_LAST = [
    "rolling_user_features",
    "retention_cohorts",
    "hourly_activity",
    "top_orders_per_customer",
    "revenue_cube",
    "asof_last_signup",
    "order_priority",
    "returned_customers",
    "discounted_revenue",
    "small_quantity_revenue",
    "k_anonymity_audit",
    "dsir_selection",
    "retrieval_mrr",
    "conformal_coverage",
    "copurchase_kcore",
    "hybrid_search_rrf",
    "mmr_rerank",
    "join_card_estimate",
    "trimmed_revenue_stats",
    "bm25_prf_search",
    "training_negatives",
    "target_encoding",
    "kmv_user_distinct",
    "quality_expectations",
    "quarantined_docs",
    "key_skew_report",
    "oov_rate",
    "stream_kmv_distinct",
    "stream_quarantine",
    "minhash_precision_audit",
    "sq_rescore_topk",
    "sq_recall_audit",
    "hard_negatives",
    "image_embed",
    "time_decay_credit",
    "position_credit",
    "bpe_encode_stats",
    "semantic_dedup",
    "doc_chunks",
    "stream_join_view",
    "streaming_sessionize",
    "streaming_device_activity",
    "pit_purchase_state",
    "waiting_suppliers",
    "top_supplier_revenue",
    "part_share_suppliers",
    "forecast_revenue",
    "revenue_rollup",
    "repeat_customers",
    "top_parts_per_brand",
    "quality_classifier",
    "quality_pr_curve",
    "stream_top_users",
    "token_budget_mixture",
    "doc_quality_zipf",
    "shingle_dup_rate",
    "cross_source_overlap",
    "audio_chunks",
    "dedup_incoming",
    "table_profile",
    "temperature_mix",
    "dup_span_stats",
    "dup_span_clean",
    "dup_span_incoming",
    "embedding_quantize_audit",
    "bloom_prune_join",
    "kmeans_centroids",
    "cluster_balanced_sample",
    "stratified_sample",
    "dedup_keep_best",
    "contamination_check",
    "curated_corpus",
    "curation_funnel",
    "exact_stratified_sample",
    "length_histogram",
    "stream_window_counts",
    "stream_sliding_counts",
    "stream_dedup",
    "stream_attribution",
    "stream_attribution_outer",
    "stream_enriched_counts",
    "stream_upsert_latest",
    "stream_session_windows",
    "streaming_spend_sessions",
    "schema_drift_audit",
    "profile_cap_audit",
    "weighted_median_price",
    "penny_allocation",
    "activity_streaks",
    "props_json_stats",
    "volume_shipping",
    "market_share",
    "promo_revenue_share",
    "large_volume_customers",
    "idle_rich_customers",
    "fk_integrity_audit",
    "frequent_part_pairs",
    "value_deciles",
    "type_transitions",
    "segment_trend",
    "wide_order_facts",
    "user_value_outliers",
    "stream_quality_score",
    "bigram_lm_score",
    "similar_parts",
    "weighted_sample",
    "copurchase_pagerank",
    "stream_drift_chi2",
    "script_mix",
    "dedup_incoming_indexed",
    "dedup_cap_audit",
    "semantic_cap_audit",
    "ann_recall_audit",
    "pq_adc_topk",
    "pq_recall_audit",
    "ivfpq_topk",
    "embedding_bucket_audit",
    "salted_hot_join",
    "zorder_audit",
    "range_sort_audit",
    "snapshot_diff_orders",
    "tfexample_roundtrip",
    "shard_manifest",
    "ingest_checkpoint_audit",
    "compaction_audit",
    "csv_roundtrip",
    "orc_roundtrip",
    "partition_prune_audit",
    "pricing_summary",
    "top_revenue_orders",
    "nation_revenue",
    "sessionized_events",
    "customer_spend_rank",
    "cohort_ltv",
    "hourly_gapfill",
    "cm_error_audit",
    "cdc_customer_state",
    "dim_truncation_recall",
    "hll_user_distinct",
    "hll_error_audit",
    "quantile_sketch_prices",
    "quantile_sketch_audit",
    "copurchase_triangles",
    "click_attribution",
    "concurrent_sessions",
    "session_concurrency",
    "embedding_covariance",
    "kmv_overlap",
    "incremental_rollup",
    "ivfpq_multiprobe_topk",
    "ivfpq_probe_recall",
    "ivfpq_incremental_topk",
    "pq_index_stats",
    "stream_pq_screen",
    "embedding_outliers",
    "bm25_search",
    "stream_attribution_full",
    "stream_cm_sketch",
    "semantic_contamination",
    "nearest_click",
    "pareto_documents",
    "funnel_pattern",
    "event_pivot",
    "score_auc",
    "score_calibration",
    "graph_reachability",
    "knn_label_agreement",
    "shortest_path_parts",
    "event_anomaly",
    "rfm_segments",
    "tfrecord_parity_check",
]
_PARITY = [
    "bidlog_validation",
    "device_profiles_flat",
    "device_profile_summary",
    "app_profiles_flat",
    "suspicious_ids",
    "feature_inputs",
    "predictions",
]
_ORDER = (
    _PARITY
    + _GATE_FIRST
    + [
        n
        for n in _ALL_QUERIES
        if n not in _PARITY and n not in _GATE_FIRST and n not in _GATE_LAST
    ]
    + _GATE_LAST
)
assert sorted(_ORDER) == sorted(_ALL_QUERIES), (
    sorted(set(_ORDER) ^ set(_ALL_QUERIES))
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _hygienic(_ALL_QUERIES[name]) for name in _ORDER
}
