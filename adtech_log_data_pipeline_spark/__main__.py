"""CLI driver — the reference's Main.java job dispatch re-expressed
(reference: Main.java:44-64 parses --job/--isLocal/threshold flags and
dispatches to BidLogJob or PredictionJob; SURVEY.md §3.1).

    python -m adtech_log_data_pipeline_spark --job bidlog \\
        --sf-dir /root/testdata/sf0.01 --output /tmp/out \\
        --threshold-user 40 --threshold-bid 47

    python -m adtech_log_data_pipeline_spark --job prediction \\
        --sf-dir /root/testdata/sf0.01 --profiles /tmp/out --output /tmp/out2

    python -m adtech_log_data_pipeline_spark --job export \\
        --sf-dir /root/testdata/sf0.01 --output /tmp/shards

    python -m adtech_log_data_pipeline_spark --job ingest \\
        --input /data/incoming --output /data/table --checkpoint /data/ckpt

    python -m adtech_log_data_pipeline_spark --job compact \\
        --input /data/table/dt=2026-08-14 --output /data/compacted

    python -m adtech_log_data_pipeline_spark --job bucketize \\
        --input /data/lineitem --output /data/bkt/lineitem \\
        --table bkt_lineitem --bucket-cols l_orderkey --n-buckets 256

    python -m adtech_log_data_pipeline_spark --job spanclean \\
        --input /data/documents --output /data/documents_clean
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="adtech_log_data_pipeline_spark")
    ap.add_argument(
        "--job",
        choices=[
            "bidlog", "prediction", "export", "export-tfrecord", "ingest",
            "compact", "bucketize", "profile", "rangesort", "zorder", "diff",
            "dedup-index", "dedup-update", "dedup-screen", "spanclean", "span-index",
            "span-screen", "quantize", "pagerank", "triangles", "fkaudit",
            "drift", "attribution", "pca", "cdc", "explain",
            "graph-index", "graph-index-append", "snapshot", "snapshot-vacuum",
            "snapshot-merge", "quality-score", "pq-index", "pq-index-append",
            "index-compact", "index-vacuum",
        ],
        required=True,
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--output", required=True)
    ap.add_argument("--profiles", help="bidlog-job output dir (prediction job)")
    ap.add_argument("--input", help="input directory (ingest/compact jobs)")
    ap.add_argument("--against", help="old snapshot directory (diff job)")
    ap.add_argument("--checkpoint", help="checkpoint dir (ingest job)")
    ap.add_argument("--schema", help="input DDL schema (ingest job, optional)")
    ap.add_argument("--table", help="catalog table name (bucketize job)")
    ap.add_argument(
        "--bucket-cols", help="comma-separated bucket key columns (bucketize job)"
    )
    ap.add_argument(
        "--seq-cols",
        help="comma-separated changelog ordering columns, latest wins"
        " (cdc job; append a unique id as the final tiebreak)",
    )
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument(
        "--keep-last", type=int, default=2,
        help="versions to retain (snapshot-vacuum job)",
    )
    ap.add_argument("--master", default=None, help="spark master (default: local[*])")
    # suspicious thresholds (reference MyOptions.java defaults)
    ap.add_argument("--threshold-user", type=int, default=4)
    ap.add_argument("--threshold-app", type=int, default=3)
    ap.add_argument("--threshold-geo", type=int, default=8)
    ap.add_argument("--threshold-bid", type=int, default=10)
    ap.add_argument("--b64-outputs", action="store_true")
    args = ap.parse_args(argv)

    from .session import get_spark
    from .operators.suspicious import SuspiciousThresholds

    spark = get_spark("adtech-cli", master=args.master)
    thresholds = SuspiciousThresholds(
        user_count=args.threshold_user,
        app_count=args.threshold_app,
        geo_count=args.threshold_geo,
        bid_log_count=args.threshold_bid,
    )

    if args.job == "bidlog":
        from .jobs import run_bidlog_job
        from .sources.bidlogs import load_bid_logs

        res = run_bidlog_job(
            spark,
            load_bid_logs(spark, args.sf_dir),
            output_dir=args.output,
            thresholds=thresholds,
            b64_outputs=args.b64_outputs,
        )
        # count the written sinks (parquet footers): the job released its
        # cached frames, so counting res.* would rerun the pipeline
        n = lambda sink: spark.read.parquet(f"{args.output}/{sink}").count()
        print(
            f"bidlog job done: {res.metrics.get('n_input')} logs in"
            f" ({res.metrics.get('n_dropped')} dropped by validation),"
            f" {n('device_profiles')} device profiles,"
            f" {n('app_profiles')} app profiles,"
            f" {n('suspicious')} suspicious -> {args.output}"
        )
    elif args.job == "export":
        from .functions.export import export_training_shards
        from .sources.tables import load_table

        manifest = export_training_shards(
            load_table(spark, args.sf_dir, "documents"), args.output
        )
        rows = {r["split"]: r["n_docs"] for r in manifest.collect()}
        print(f"export job done: {rows} -> {args.output}")
    elif args.job == "export-tfrecord":
        from .sources.tables import load_table
        from .sources.tfexample import export_tfrecord_examples

        n = export_tfrecord_examples(
            load_table(spark, args.sf_dir, "documents"), args.output
        )
        print(f"export-tfrecord done: {n} tf.train.Examples -> {args.output}")
    elif args.job == "ingest":
        if not args.input or not args.checkpoint:
            ap.error("--input and --checkpoint are required for --job ingest")
        from .jobs.maintenance import incremental_ingest

        n = incremental_ingest(
            spark, args.input, args.output, args.checkpoint, schema=args.schema
        )
        print(f"ingest done: {n} new rows -> {args.output}")
    elif args.job == "compact":
        if not args.input:
            ap.error("--input is required for --job compact")
        from .jobs.maintenance import compact_parquet

        n = compact_parquet(spark, args.input, args.output)
        print(f"compact done: {n} output partitions -> {args.output}")
    elif args.job == "bucketize":
        if not args.input or not args.table or not args.bucket_cols:
            ap.error(
                "--input, --table and --bucket-cols are required for --job bucketize"
            )
        from .jobs.maintenance import bucketize_table

        cols = [c.strip() for c in args.bucket_cols.split(",") if c.strip()]
        bucketize_table(
            spark, args.input, args.table, cols,
            n_buckets=args.n_buckets, path=args.output,
        )
        print(
            f"bucketize done: {args.table} ({args.n_buckets} buckets on"
            f" {cols}) -> {args.output}"
        )
    elif args.job == "zorder":
        cols = [c.strip() for c in (args.bucket_cols or "").split(",") if c.strip()]
        if not args.input or len(cols) != 2:
            ap.error(
                "--input and --bucket-cols x,y (exactly two) are required"
                " for --job zorder"
            )
        from .jobs.maintenance import zorder_table

        n = zorder_table(spark, args.input, args.output, cols[0], cols[1])
        print(f"zorder done: {n} Z-ordered files on {cols} -> {args.output}")
    elif args.job == "diff":
        if not args.input or not args.against or not args.bucket_cols:
            ap.error(
                "--input (new), --against (old) and --bucket-cols (keys) are"
                " required for --job diff"
            )
        from pyspark.sql import functions as F

        from .jobs.maintenance import snapshot_diff

        cols = [c.strip() for c in args.bucket_cols.split(",") if c.strip()]
        d = snapshot_diff(spark, args.against, args.input, cols)
        d.write.mode("overwrite").parquet(args.output)
        counts = {r["status"]: r["n"] for r in
                  d.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
        print(f"diff done: {counts} -> {args.output}")
    elif args.job == "rangesort":
        if not args.input or not args.bucket_cols:
            ap.error("--input and --bucket-cols are required for --job rangesort")
        from .jobs.maintenance import range_sort_table

        cols = [c.strip() for c in args.bucket_cols.split(",") if c.strip()]
        n = range_sort_table(spark, args.input, args.output, cols)
        print(
            f"rangesort done: {n} range-partitioned sorted files on"
            f" {cols} -> {args.output}"
        )
    elif args.job == "dedup-index":
        if not args.input:
            ap.error("--input (documents parquet dir) is required for --job dedup-index")
        from .functions.dedup import build_dedup_index

        build_dedup_index(spark.read.parquet(args.input), args.output)
        print(f"dedup-index done: bands/ + shingles/ -> {args.output}")
    elif args.job == "dedup-update":
        if not args.input or not args.against:
            ap.error(
                "--input (newly admitted documents parquet) and --against"
                " (index dir from --job dedup-index) are required for"
                " --job dedup-update"
            )
        from .functions.dedup import update_dedup_index

        update_dedup_index(spark.read.parquet(args.input), args.against)
        print(f"dedup-update done: appended to {args.against}")
    elif args.job == "dedup-screen":
        if not args.input or not args.against:
            ap.error(
                "--input (incoming documents parquet) and --against (index"
                " dir from --job dedup-index) are required for --job dedup-screen"
            )
        from pyspark.sql import functions as F

        from .functions.dedup import dedup_incoming_indexed

        out = dedup_incoming_indexed(spark.read.parquet(args.input), args.against)
        out.write.mode("overwrite").parquet(args.output)
        n_dup = out.filter(F.col("is_dup")).count()
        print(f"dedup-screen done: {n_dup} duplicates flagged -> {args.output}")
    elif args.job == "spanclean":
        if not args.input:
            ap.error(
                "--input (documents parquet dir) is required for --job spanclean"
            )
        from pyspark.sql import functions as F

        from .functions.dedup import remove_dup_spans

        docs = spark.read.parquet(args.input)
        cleaned = remove_dup_spans(docs)
        cleaned.write.mode("overwrite").parquet(args.output)
        agg = cleaned.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("toks"),
            F.sum("n_tokens_kept").alias("kept"),
        ).collect()[0]
        print(
            f"spanclean done: {agg['n_docs']} docs,"
            f" {agg['toks'] - agg['kept']} of {agg['toks']} tokens cut"
            f" -> {args.output}"
        )
    elif args.job == "span-index":
        if not args.input:
            ap.error(
                "--input (documents parquet dir) is required for --job span-index"
            )
        from .functions.dedup import build_span_index

        build_span_index(spark.read.parquet(args.input), args.output)
        print(f"span-index done: grams/ -> {args.output}")
    elif args.job == "span-screen":
        if not args.input or not args.against:
            ap.error(
                "--input (incoming documents parquet) and --against (index"
                " dir from --job span-index) are required for --job span-screen"
            )
        from pyspark.sql import functions as F

        from .functions.dedup import dup_span_stats_incoming

        out = dup_span_stats_incoming(spark.read.parquet(args.input), args.against)
        out.write.mode("overwrite").parquet(args.output)
        n_hit = out.filter(F.col("n_spans") > 0).count()
        print(f"span-screen done: {n_hit} docs with dup passages -> {args.output}")
    elif args.job == "quantize":
        if not args.input:
            ap.error(
                "--input (embeddings parquet dir) is required for --job quantize"
            )
        from .functions.similarity import quantize_embeddings

        quantize_embeddings(spark.read.parquet(args.input)).select(
            "vec_id", "dim", "amax", "q"
        ).write.mode("overwrite").parquet(args.output)
        print(f"quantize done: 7-bit codes -> {args.output}")
    elif args.job == "graph-index":
        if not args.input:
            ap.error(
                "--input (lineitem parquet dir) is required for --job graph-index"
            )
        from .functions.graph import build_graph_index

        build_graph_index(spark.read.parquet(args.input), args.output)
        print(f"graph-index done: edges/b=1 committed -> {args.output}")
    elif args.job == "graph-index-append":
        if not args.input or not args.against:
            ap.error(
                "--input (order-complete lineitem batch) and --against (index"
                " dir from --job graph-index) are required for"
                " --job graph-index-append"
            )
        from .functions.graph import append_graph_index

        append_graph_index(spark.read.parquet(args.input), args.against)
        print(f"graph-index-append done: appended to {args.against}")
    elif args.job == "pq-index":
        if not args.input:
            ap.error(
                "--input (embeddings parquet dir) is required for --job pq-index"
            )
        from .functions.similarity import build_pq_index

        build_pq_index(spark.read.parquet(args.input), args.output)
        print(f"pq-index done: codebook+codes+ivf -> {args.output}")
    elif args.job == "pq-index-append":
        if not args.input or not args.against:
            ap.error(
                "--input (new embeddings batch) and --against (index dir"
                " from --job pq-index) are required for --job pq-index-append"
            )
        from .functions.similarity import append_pq_index

        append_pq_index(spark.read.parquet(args.input), args.against)
        print(f"pq-index-append done: appended to {args.against}")
    elif args.job == "snapshot":
        if not args.input:
            ap.error(
                "--input (parquet dir to publish) is required for --job snapshot"
            )
        from .jobs.maintenance import publish_snapshot

        v = publish_snapshot(spark.read.parquet(args.input), args.output)
        print(f"snapshot done: published v={v} -> {args.output}")
    elif args.job == "snapshot-merge":
        if not args.input or not args.bucket_cols or not args.seq_cols:
            ap.error(
                "--input (changelog parquet), --bucket-cols (key columns)"
                " and --seq-cols are required for --job snapshot-merge"
                " (--output = the versioned table dir)"
            )
        from .jobs.maintenance import merge_snapshot

        keys = [c.strip() for c in args.bucket_cols.split(",") if c.strip()]
        seqs = [c.strip() for c in args.seq_cols.split(",") if c.strip()]
        v = merge_snapshot(
            spark, args.output, spark.read.parquet(args.input), keys, seqs
        )
        print(f"snapshot-merge done: published v={v} -> {args.output}")
    elif args.job == "index-compact":
        if not args.against:
            ap.error(
                "--against (committed index dir from --job"
                " pq-index/graph-index/dedup-index) is required for"
                " --job index-compact"
            )
        from .functions._index_commit import read_index_manifest

        man = read_index_manifest(args.against)
        if man is None:
            ap.error(f"no committed index manifest under {args.against}")
        family = man.get("family")
        if family == "pq":
            from .functions.similarity import compact_pq_index as _compact
        elif family == "graph":
            from .functions.graph import compact_graph_index as _compact
        elif family == "dedup":
            from .functions.dedup import compact_dedup_index as _compact
        else:
            ap.error(f"unknown index family {family!r} in {args.against}")
        v = _compact(spark, args.against)
        print(f"index-compact done: {family} index at version v={v} -> {args.against}")
    elif args.job == "index-vacuum":
        if not args.against:
            ap.error("--against (committed index dir) is required for --job index-vacuum")
        from .functions._index_commit import vacuum_index

        removed = vacuum_index(args.against)
        print(
            f"index-vacuum done: removed {len(removed)} orphan batch dirs"
            f" from {args.against}"
        )
    elif args.job == "snapshot-vacuum":
        from .jobs.maintenance import vacuum_snapshots

        removed = vacuum_snapshots(args.output, keep_last=args.keep_last)
        print(
            f"snapshot-vacuum done: removed versions {removed} from"
            f" {args.output} (kept last {args.keep_last})"
        )
    elif args.job == "quality-score":
        # curate-loop scoring pass: hashed-feature linear quality margins
        # + threshold report (functions/select.py::quality_classifier,
        # functions/evaluate.py::pr_curve_exact) over a documents-schema
        # parquet dir (--input) or the fixture's documents table
        from pyspark.sql import functions as F

        from .functions.evaluate import pr_curve_exact
        from .functions.select import quality_classifier
        from .sources.tables import load_table

        docs = (
            spark.read.parquet(args.input)
            if args.input
            else load_table(spark, args.sf_dir, "documents")
        )
        quality_classifier(docs).write.mode("overwrite").parquet(args.output)
        # read the scored relation back so the curve consumes the written
        # artifact instead of re-deriving the corpus token scan; label is
        # null-safe (null lang counts as negative, same as the class split)
        scored = spark.read.parquet(args.output)
        curve = pr_curve_exact(
            scored.select(
                "margin",
                F.when(F.col("lang") == "en", F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("label"),
            ),
            score_col="margin",
            label_col="label",
        )
        curve.write.mode("overwrite").parquet(args.output.rstrip("/") + "_curve")
        kept = scored.filter(F.col("pred") == 1).count()
        print(
            f"quality-score done: {scored.count()} docs scored ({kept}"
            f" pred-positive), {curve.count()} curve thresholds ->"
            f" {args.output}"
        )
    elif args.job == "pagerank":
        if not args.input and not args.against:
            ap.error(
                "--input (lineitem parquet dir) or --against (graph-index"
                " dir) is required for --job pagerank"
            )
        from .functions.graph import (
            copurchase_edges,
            load_graph_edges,
            weighted_pagerank,
        )

        edges = (
            load_graph_edges(spark, args.against)
            if args.against
            else copurchase_edges(spark.read.parquet(args.input))
        )
        ranks = weighted_pagerank(edges)
        ranks.write.mode("overwrite").parquet(args.output)
        print(f"pagerank done: {ranks.count()} node ranks -> {args.output}")
    elif args.job == "triangles":
        if not args.input:
            ap.error(
                "--input (lineitem parquet dir) is required for --job triangles"
            )
        from .functions.graph import copurchase_edges, triangle_stats

        stats = triangle_stats(copurchase_edges(spark.read.parquet(args.input)))
        stats.coalesce(1).write.mode("overwrite").json(args.output)
        row = stats.collect()[0]
        print(
            f"triangles done: {row['n_triangles']} triangles /"
            f" {row['n_edges']} edges -> {args.output}"
        )
    elif args.job == "pca":
        if not args.input:
            ap.error("--input (embeddings parquet dir) is required for --job pca")
        import json as _json
        import os as _os

        from .functions.similarity import pca_components

        comps, explained = pca_components(
            spark.read.parquet(args.input), k=args.n_buckets
        )
        _os.makedirs(args.output, exist_ok=True)
        with open(_os.path.join(args.output, "pca.json"), "w") as f:
            _json.dump(
                {
                    "components": comps.tolist(),
                    "explained_variance": explained.tolist(),
                },
                f,
            )
        print(
            f"pca done: {comps.shape[0]} components, top explains"
            f" {explained[0] if len(explained) else 0:.3f} -> {args.output}"
        )
    elif args.job == "explain":
        # plan observability: print the formatted physical plan of any
        # declared query (--table <query_name>) against --sf-dir, and
        # write it to <output>/plan.txt — what you read before believing
        # a query is 100 TB-shaped (broadcasts where expected, filters
        # pushed, no nested loops)
        if not args.table:
            ap.error("--table <query_name> is required for --job explain")
        import os as _os

        from .plans.queries import QUERIES

        if args.table not in QUERIES:
            ap.error(f"unknown query {args.table!r} (see QUERIES.md)")
        df = QUERIES[args.table](spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        _os.makedirs(args.output, exist_ok=True)
        with open(_os.path.join(args.output, "plan.txt"), "w") as f:
            f.write(plan)
        print(plan)
        print(f"explain done: {args.table} -> {args.output}/plan.txt")
    elif args.job == "cdc":
        if not args.input or not args.against or not args.bucket_cols \
                or not args.seq_cols:
            ap.error(
                "--input (base snapshot parquet), --against (changelog"
                " parquet with an 'op' column), --bucket-cols (keys) and"
                " --seq-cols are required for --job cdc"
            )
        from .operators.cdc import apply_changelog

        keys = [c.strip() for c in args.bucket_cols.split(",") if c.strip()]
        seqs = [c.strip() for c in args.seq_cols.split(",") if c.strip()]
        base = spark.read.parquet(args.input)
        merged = apply_changelog(
            base, spark.read.parquet(args.against), keys, seqs
        )
        merged.write.mode("overwrite").parquet(args.output)
        print(
            f"cdc done: {merged.count()} rows (base {base.count()})"
            f" -> {args.output}"
        )
    elif args.job == "attribution":
        from .plans.northstar import q_click_attribution

        out = q_click_attribution(spark, args.sf_dir)
        out.write.mode("overwrite").parquet(args.output)
        n_attr = out.filter("n_clicks > 0").count()
        print(f"attribution done: {n_attr} attributed purchases -> {args.output}")
    elif args.job == "fkaudit":
        from .plans.relational import fk_integrity_audit_sql
        from .sources.tables import register_tables

        register_tables(
            spark, args.sf_dir,
            ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem"],
        )
        audit = spark.sql(fk_integrity_audit_sql("spark"))
        audit.coalesce(1).write.mode("overwrite").json(args.output)
        bad = audit.filter("n_orphans > 0").count()
        print(f"fkaudit done: {bad} edges with orphans -> {args.output}")
    elif args.job == "drift":
        from .streaming.drift import stream_drift_chi2

        out = stream_drift_chi2(spark, args.sf_dir)
        out.write.mode("overwrite").parquet(args.output)
        n_drift = out.filter("drifted = 1").count()
        print(f"drift done: {n_drift} drifted windows -> {args.output}")
    elif args.job == "profile":
        if not args.input:
            ap.error("--input is required for --job profile")
        from .functions.profile import table_profile

        prof = table_profile(spark.read.parquet(args.input))
        prof.coalesce(1).write.mode("overwrite").json(args.output)
        print(f"profile done: {prof.count()} columns -> {args.output}")
    else:
        if not args.profiles:
            ap.error("--profiles (bidlog-job output dir) is required for --job prediction")
        from .jobs import run_prediction_job
        from .sources.bidlogs import load_iapp

        dp = spark.read.parquet(f"{args.profiles}/device_profiles")
        susp = spark.read.parquet(f"{args.profiles}/suspicious")
        run_prediction_job(
            spark, dp, susp, load_iapp(spark, args.sf_dir), output_dir=args.output
        )
        # the written sink, not the returned frame: counting that would
        # rerun inference
        n_preds = spark.read.parquet(f"{args.output}/predictions").count()
        print(f"prediction job done: {n_preds} predictions -> {args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
