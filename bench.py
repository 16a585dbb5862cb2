"""Per-round benchmark — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query executes fully via the noop sink (no driver-side collect — we
measure engine execution, not Arrow transfer of results).

Measurement protocol (round-8 rework — the round-7 artifact was noise-
dominated and useless as a regression gate):

* FRESH JVM PER CHUNK: the board runs as ~CHUNK_SIZE-query child
  processes (``--run-chunk lo hi``), each a brand-new Spark session, so
  JVM aging (codegen cache growth, GC heap creep) can never inflate the
  late queries of a long board. Warmup (parquet readers, Python worker
  pool) happens per child and is excluded from per-query numbers.
* LOAD RECORDED IN-ARTIFACT: /proc/loadavg is sampled before and after
  every chunk, and the run's CPU-STEAL percentage (/proc/stat jiffies —
  the signal load average can't give, since the bench's own local[32]
  load looks identical to contention) is published in the totals
  trailer, so a noisy-neighbor window is visible in the artifact itself
  instead of being indistinguishable from a plan regression.
* DELTAS VS THE PRIOR ROUND: the latest same-sf entry of
  BENCH_PERQUERY.jsonl (the prior run's full per-query map) is compared
  and per-query ratios are summarized (median + top regressions) in the
  trailer — the artifact carries its own regression verdict.
* best-of-2 per query within a chunk (cache-cleared between runs), as
  before: the min of two cold-cache runs is attributable to the plan.
* REGRESSIONS CONFIRMED BEFORE PUBLICATION (round-11; the round-10
  artifact's top-regressions list was 100% host contention): every
  candidate over tools/bench_diff.py's 1.25x/+0.5 s floor is re-run
  once in a fresh child JVM and the min kept — a plan regression
  reproduces, a noisy-neighbor spike does not. Only survivors are published; the trailer's
  ``rerun_confirmed`` lists what was re-checked.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.bench_diff import REGRESSION_MIN_S, REGRESSION_RATIO

CHUNK_SIZE = int(os.environ.get("SPARK_GRAFT_BENCH_CHUNK", "38"))

BENCH_QUERIES = [
    "dup_span_stats",
    "dup_span_clean",
    "bloom_prune_join",
    "stream_top_users",
    "schema_drift_audit",
    "curation_funnel",
    "embedding_quantize_audit",
    "top_supplier_revenue",
    "part_share_suppliers",
    "pit_purchase_state",
    "dup_span_incoming",
    "exact_stratified_sample",
    "forecast_revenue",
    "volume_shipping",
    "market_share",
    "promo_revenue_share",
    "large_volume_customers",
    "idle_rich_customers",
    "dedup_cap_audit",
    "semantic_cap_audit",
    "zorder_audit",
    "range_sort_audit",
    "snapshot_diff_orders",
    "tfexample_roundtrip",
    "tfrecord_parity_check",
    "bm25_search",
    "hll_user_distinct",
    "hll_error_audit",
    "profile_cap_audit",
    "quantile_sketch_prices",
    "quantile_sketch_audit",
    "score_auc",
    "score_calibration",
    "graph_reachability",
    "graph_reachability_indexed",
    "knn_label_agreement",
    "shortest_path_parts",
    "snapshot_asof_read",
    "snapshot_merge_state",
    "join_view_delta",
    "group_split_sources",
    "multi_touch_credit",
    "time_decay_credit",
    "position_credit",
    "bpe_merge_rules",
    "bpe_encode_stats",
    "event_anomaly",
    "rfm_segments",
    "shard_manifest",
    "ingest_checkpoint_audit",
    "compaction_audit",
    "ann_recall_audit",
    "sq_rescore_topk",
    "sq_recall_audit",
    "salted_hot_join",
    "csv_roundtrip",
    "orc_roundtrip",
    "dedup_incoming_indexed",
    "script_mix",
    "partition_prune_audit",
    "props_json_stats",
    "embedding_bucket_audit",
    "fk_integrity_audit",
    "bigram_lm_score",
    "similar_parts",
    "weighted_sample",
    "copurchase_pagerank",
    "copurchase_triangles",
    "click_attribution",
    "concurrent_sessions",
    "session_concurrency",
    "embedding_covariance",
    "stream_drift_chi2",
    "user_value_outliers",
    "frequent_part_pairs",
    "hourly_gapfill",
    "kmv_overlap",
    "cm_error_audit",
    "cdc_customer_state",
    "dim_truncation_recall",
    "weighted_median_price",
    "penny_allocation",
    "activity_streaks",
    "value_deciles",
    "type_transitions",
    "cohort_ltv",
    "segment_trend",
    "incremental_rollup",
    "wide_order_facts",
    "customer_spend_rank",
    "kmv_user_distinct",
    "quality_expectations",
    "scd2_intervals",
    "key_skew_report",
    "rolling_user_features",
    "quarantined_docs",
    "retention_cohorts",
    "hourly_activity",
    "event_pivot",
    "stream_kmv_distinct",
    "stream_cm_sketch",
    "oov_rate",
    "stream_quarantine",
    "bidlog_validation",
    "device_profiles_flat",
    "device_profile_summary",
    "app_profiles_flat",
    "suspicious_ids",
    "feature_inputs",
    "predictions",
    "pricing_summary",
    "top_revenue_orders",
    "nation_revenue",
    "sessionized_events",
    "top_orders_per_customer",
    "text_stats",
    "lang_id",
    "doc_fingerprints",
    "winnowing",
    "dedup_exact",
    "dedup_minhash",
    "minhash_precision_audit",
    "dedup_simhash",
    "ngram_jaccard",
    "similarity_topk",
    "hard_negatives",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "embedding_near_dup",
    "semantic_contamination",
    "multimodal_meta",
    "multimodal_resize",
    "frame_sample",
    "image_embed",
    "simhash_near_dup",
    "vocab_topk",
    "train_split",
    "pii_redact",
    "label_centroids",
    "kmeans_centroids",
    "semantic_dedup",
    "doc_chunks",
    "discounted_revenue",
    "small_quantity_revenue",
    "waiting_suppliers",
    "revenue_rollup",
    "repeat_customers",
    "top_parts_per_brand",
    "dedup_incoming",
    "table_profile",
    "temperature_mix",
    "embedding_outliers",
    "repetition_stats",
    "tfidf_top_terms",
    "length_percentiles",
    "length_histogram",
    "source_mix",
    "packing_plan",
    "dedup_clusters",
    "stratified_sample",
    "dedup_keep_best",
    "contamination_check",
    "curated_corpus",
    "pareto_documents",
    "cross_source_overlap",
    "token_budget_mixture",
    "doc_quality_zipf",
    "shingle_dup_rate",
    "audio_chunks",
    "stream_window_counts",
    "stream_sliding_counts",
    "stream_dedup",
    "stream_attribution",
    "stream_attribution_outer",
    "stream_attribution_full",
    "stream_enriched_counts",
    "stream_upsert_latest",
    "stream_session_windows",
    "streaming_spend_sessions",
    "streaming_sessionize",
    "streaming_device_activity",
    "revenue_cube",
    "asof_last_signup",
    "nearest_click",
    "order_priority",
    "returned_customers",
    "customer_order_distribution",
    "monthly_revenue_trend",
    "brand_supplier_stats",
    "quiet_returners",
    "sliding_window_counts",
    "conversion_funnel",
    "funnel_pattern",
    # round-9 mid-session additions
    "k_anonymity_audit",
    "dsir_selection",
    "retrieval_mrr",
    "conformal_coverage",
    "copurchase_kcore",
    "hybrid_search_rrf",
    "mmr_rerank",
    "stream_join_view",
    "join_card_estimate",
    "trimmed_revenue_stats",
    "bm25_prf_search",
    "training_negatives",
    "target_encoding",
    # round-10 additions
    "quality_classifier",
    "quality_pr_curve",
    "cluster_balanced_sample",
    # round-11 additions
    "stream_quality_score",
    "pq_adc_topk",
    "pq_recall_audit",
    "ivfpq_topk",
    # round-12 additions
    "ivfpq_multiprobe_topk",
    "ivfpq_probe_recall",
    "ivfpq_incremental_topk",
    "pq_index_stats",
    "stream_pq_screen",
    # round-13 additions
    "markup_extract_stats",
    "pair_alignment",
    "pair_alignment_audit",
]


PARITY7 = [
    "bidlog_validation", "device_profiles_flat", "device_profile_summary",
    "app_profiles_flat", "suspicious_ids", "feature_inputs", "predictions",
]


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg", encoding="utf-8") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — the decisive noisy-
    neighbor signal: load average cannot distinguish the bench's OWN
    local[32] load from host contention, but steal time is cycles the
    hypervisor gave to someone else while this guest was runnable."""
    try:
        with open("/proc/stat", encoding="utf-8") as fh:
            parts = fh.readline().split()[1:]
        vals = [int(x) for x in parts]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError):
        return 0, 0


def _steal_pct_since(steal0: int, total0: int) -> float:
    """Steal percentage since a (steal, total) baseline, from ONE
    /proc/stat read so numerator and denominator share a snapshot."""
    steal1, total1 = _cpu_jiffies()
    return round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 2)


def run_chunk(names: list[str], sf_dir: str) -> dict[str, float]:
    """One fresh-session measurement pass over ``names``: warm the JVM,
    then best-of-2 cold-cache runs per query via the noop sink."""
    from adtech_log_data_pipeline_spark.functions._cache import release_cached
    from adtech_log_data_pipeline_spark.plans.queries import QUERIES
    from adtech_log_data_pipeline_spark.session import get_spark
    from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs

    spark = get_spark("bench")
    # warm the JVM (codegen infra, parquet readers, Python workers) so
    # per-query numbers measure the queries, not first-touch costs
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    load_bid_logs(spark, sf_dir).count()
    # fork the Python worker pool once up front — otherwise the first
    # pandas-UDF query pays ~10 s of process spawns that belong to the
    # session, not the query
    spark.range(0, 64, 1, 64).mapInPandas(lambda it: it, "id long").count()

    timings: dict[str, float] = {}
    for name in names:
        if name not in QUERIES:
            continue
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            # queries are independent: drop frames persisted inside operators
            # so earlier runs' cache doesn't pressure later ones
            release_cached()
            spark.catalog.clearCache()
            # ... and collect the PREVIOUS query's JVM garbage now, outside
            # the timed region (r14): Spark frees broadcasts/shuffles via
            # weak references, so without an explicit GC the ContextCleaner
            # runs whenever the JVM happens to collect — measured landing
            # INSIDE whichever heavy query runs next (copurchase_pagerank
            # mid-chunk read 6.7-7.3 s vs ~4.1 s standalone; with the GC
            # the same sequence reads 5.3 and every small query in the
            # sequence dropped 0.3-0.6 s). Same hygiene class as the
            # clearCache above: the timed region still computes everything
            # from parquet.
            spark.sparkContext._jvm.System.gc()
        timings[name] = round(best, 3)

    # unpersist audit: a chunk session must end with ZERO cached RDDs
    # (a leaked persisted relation is executor memory lost for the rest of
    # a long-lived session) — fail loudly, not silently
    leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert leaked == 0, f"{leaked} persisted RDDs leaked after bench chunk"
    return timings


PERQUERY_LOG = "BENCH_PERQUERY.jsonl"


def _prev_full_map(sf: float | None) -> tuple[str | None, dict[str, float]]:
    """Latest same-sf entry of BENCH_PERQUERY.jsonl — the FULL per-query
    map of a prior run (the driver's BENCH artifact stores only a ~2 KB
    stdout tail, which truncates the regression baseline to the last ~60
    queries; round 9's delta_vs_prev had n_common=60/206 for exactly this
    reason). Returns (label, {query: sec})."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, PERQUERY_LOG)
    try:
        with open(path, encoding="utf-8") as fh:
            entries = [json.loads(ln) for ln in fh if ln.strip()]
    except (OSError, ValueError):
        return None, {}
    for e in reversed(entries):
        if e.get("sf") == sf and isinstance(e.get("queries"), dict):
            return f"{PERQUERY_LOG}@{e.get('ts')}", dict(e["queries"])
    return None, {}


def _record_full_map(sf: float | None, timings: dict[str, float]) -> None:
    """Append this run's full per-query map to BENCH_PERQUERY.jsonl
    (bounded to the last 12 entries) so the NEXT round's delta_vs_prev is
    computed over the whole board, not the stdout tail's ~60 queries."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, PERQUERY_LOG)
    entries: list[dict] = []
    try:
        with open(path, encoding="utf-8") as fh:
            entries = [json.loads(ln) for ln in fh if ln.strip()]
    except (OSError, ValueError):
        pass
    entries.append(
        {
            "ts": int(time.time()),
            "sf": sf,
            "total": round(sum(timings.values()), 3),
            "n_queries": len(timings),
            "queries": timings,
        }
    )
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        for e in entries[-12:]:
            fh.write(json.dumps(e) + "\n")
    os.replace(tmp, path)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # smoke knob: truncate the board (protocol testing, never for records)
    limit = int(os.environ.get("SPARK_GRAFT_BENCH_LIMIT", "0"))
    board = BENCH_QUERIES[:limit] if limit else BENCH_QUERIES

    if len(sys.argv) >= 4 and sys.argv[1] == "--run-chunk":
        lo, hi = int(sys.argv[2]), int(sys.argv[3])
        timings = run_chunk(BENCH_QUERIES[lo:hi], sf_dir)
        print("BENCH_CHUNK_JSON " + json.dumps(timings), flush=True)
        return

    if len(sys.argv) >= 3 and sys.argv[1] == "--run-names":
        timings = run_chunk(sys.argv[2].split(","), sf_dir)
        print("BENCH_CHUNK_JSON " + json.dumps(timings), flush=True)
        return

    # quiet-window gate (round-12, widened round-13 per the verdict's
    # task 5: BENCH_r12's chunk 1 still ran at load1 12.5 because the
    # wait was a single pre-chunk-1 check with too small a cap): wait —
    # bounded — for load1 to fall below the gate before EVERY chunk
    # (chunk 1 gets the long cap, the drain window after the
    # correctness boards; later chunks a short top-up, since only the
    # bench itself was running), and record every wait + the load each
    # settled at in the trailer so the artifact shows whether and where
    # the gate engaged. Skippable for protocol smoke runs via
    # SPARK_GRAFT_BENCH_NO_LOADGATE=1.
    load_gate = float(os.environ.get("SPARK_GRAFT_BENCH_LOADGATE", "4.0"))
    gate_cap_first = float(os.environ.get("SPARK_GRAFT_BENCH_LOADGATE_CAP", "900"))
    gate_cap_rest = 120.0

    def _quiet_window(cap: float) -> float:
        if os.environ.get("SPARK_GRAFT_BENCH_NO_LOADGATE"):
            return 0.0
        t0 = time.time()
        while time.time() - t0 < cap:
            la = _loadavg()
            if la and la[0] < load_gate:
                break
            time.sleep(10)
        return round(time.time() - t0, 1)

    # noisy-chunk self-identification (round-14, verdict #7): the load
    # gate watches load1, which cannot see NEIGHBOR noise — r13's driver
    # window ran at 0.18 % steal with load1 spiking to 10.7 mid-chunk and
    # the per-query comparison was unreadable without an 8-core
    # cross-check. Record steal% around EVERY chunk; a chunk over the
    # floor is re-run once (fresh JVM, after a fresh quiet window) and
    # min-merged per query — the same min-of-reruns protocol the
    # per-query regression candidates already use. Timed region per
    # query is unchanged.
    steal_floor = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_FLOOR", "0.5"))
    max_chunk_reruns = 3

    def _run_chunk_child(lo: int, hi: int) -> tuple[dict[str, float], float]:
        s0, t0 = _cpu_jiffies()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-chunk", str(lo), str(hi)],
            capture_output=True,
            text=True,
            cwd=here,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        )
        chunk: dict[str, float] = {}
        for line in proc.stdout.splitlines():
            if line.startswith("BENCH_CHUNK_JSON "):
                chunk = json.loads(line.split(" ", 1)[1])
        if proc.returncode != 0 or not chunk:
            sys.stderr.write(
                f"bench chunk {lo}:{hi} failed rc={proc.returncode}\n"
                + proc.stderr[-4000:]
            )
            raise SystemExit(1)
        return chunk, _steal_pct_since(s0, t0)

    # orchestrator: fresh child JVM per chunk, load sampled around each
    timings: dict[str, float] = {}
    loads: list[list[float]] = []
    gate_waits: list[float] = []
    chunk_steals: list[float] = []
    noisy_rerun: list[dict] = []
    reruns_left = max_chunk_reruns
    steal0, total0 = _cpu_jiffies()
    here = os.path.dirname(os.path.abspath(__file__))
    for lo in range(0, len(board), CHUNK_SIZE):
        hi = min(lo + CHUNK_SIZE, len(board))
        gate_waits.append(
            _quiet_window(gate_cap_first if lo == 0 else gate_cap_rest)
        )
        before = _loadavg()
        chunk, chunk_steal = _run_chunk_child(lo, hi)
        after = _loadavg()
        loads.append([round(x, 2) for x in (before[:1] + after[:1])])
        chunk_steals.append(chunk_steal)
        if chunk_steal >= steal_floor and reruns_left > 0:
            reruns_left -= 1
            _quiet_window(gate_cap_rest)
            redo, redo_steal = _run_chunk_child(lo, hi)
            for q, t in redo.items():
                if q in chunk:
                    chunk[q] = min(chunk[q], t)
            noisy_rerun.append(
                {"chunk": lo // CHUNK_SIZE, "steal": chunk_steal,
                 "rerun_steal": redo_steal}
            )
        timings.update(chunk)

    # regression summary against the full per-query log of a prior run
    # (whole-board baseline)
    prev_name, prev = _prev_full_map(float(sf) if sf else None)
    common = sorted(set(prev) & set(timings))
    delta: dict[str, object] = {"prev": prev_name, "n_common": len(common)}
    if common:
        def _regressions() -> dict[str, float]:
            # the thresholds of tools/bench_diff.py: a ratio alone flags
            # sub-second noise on tiny queries — require a real absolute
            # delta too
            rs = sorted(
                (round(timings[q] / prev[q], 2) if prev[q] > 0 else 1.0, q)
                for q in common
            )
            delta["median_ratio"] = rs[len(rs) // 2][0]
            return {
                q: r
                for r, q in rs[-5:][::-1]
                if r >= REGRESSION_RATIO and timings[q] - prev[q] >= REGRESSION_MIN_S
            }

        candidates = _regressions()
        if candidates:
            # noise gate (round-10 verdict: BENCH_r10's top-regressions
            # list was 100% host contention): re-run every candidate once
            # in ONE fresh child JVM and keep the min — a plan regression
            # reproduces, a noisy-neighbor spike does not. The confirmed
            # list is what gets published; the artifact records that the
            # confirmation pass ran.
            # timeout bounds a hung child JVM (5 min per candidate plus
            # session startup slack — every board query is single-digit
            # seconds at sf0.1, so a child hitting this is already a bug)
            rerun: dict[str, float] = {}
            try:
                proc = subprocess.run(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--run-names",
                        ",".join(sorted(candidates)),
                    ],
                    capture_output=True,
                    text=True,
                    cwd=here,
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                    timeout=300 * len(candidates) + 120,
                )
                for line in proc.stdout.splitlines():
                    if line.startswith("BENCH_CHUNK_JSON "):
                        rerun = json.loads(line.split(" ", 1)[1])
            except subprocess.TimeoutExpired:
                pass
            for q, t in rerun.items():
                if q in timings:
                    timings[q] = min(timings[q], t)
            # record as confirmed ONLY what the child actually re-timed;
            # a failed/hung child leaves its candidates explicitly
            # unconfirmed instead of overstating the noise check
            delta["rerun_confirmed"] = sorted(set(candidates) & set(rerun))
            unconfirmed = sorted(set(candidates) - set(rerun))
            if unconfirmed:
                delta["rerun_unconfirmed"] = unconfirmed
        delta["top_regressions"] = _regressions()
    _record_full_map(float(sf) if sf else None, timings)

    # printed AFTER the regression-confirmation pass so the headline map,
    # the per-query log and the totals trailer all carry the same
    # (noise-confirmed) numbers
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf else None,
            }
        )
    )

    # The driver records only a fixed-size stdout TAIL; the full per-query
    # line above overflows it at 80+ queries (round 4 recorded
    # "parsed: null"). Print a compact totals trailer LAST so the tail
    # always holds one parseable JSON line — now carrying the in-artifact
    # load record and the regression verdict.
    print(
        json.dumps(
            {
                "metric": "totals",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "n_queries": len(timings),
                "parity7": round(
                    sum(timings.get(q, 0.0) for q in PARITY7), 3
                ),
                "sf": float(sf) if sf else None,
                "chunks": len(loads),
                "load1_per_chunk": loads,
                "loadgate_wait_sec": sum(gate_waits),
                "loadgate_wait_per_chunk": gate_waits,
                "steal_pct": _steal_pct_since(steal0, total0),
                "steal_per_chunk": chunk_steals,
                "noisy_chunks_rerun": noisy_rerun,
                "delta_vs_prev": delta,
            }
        )
    )


if __name__ == "__main__":
    main()
