"""Streaming application of the quality classifier — score documents in
the ingest stream against the batch-learned hashed-feature model,
closing the curate -> select -> train loop for INCREMENTAL ingest (the
batch half is functions/select.py::quality_classifier; the admission-gate
sibling is streaming/quarantine.py).

Shape, and why it scales: the model is trained ONCE batch-side
(quality_weights — at most n_buckets rows BY CONSTRUCTION, so collecting
it to build a literal scoring map is scale-safe at any corpus size), and
each streaming document is scored by a STATELESS per-row fold over its
own token array (F.aggregate + element_at on the map literal — pure
codegen, no explode, no shuffle, no state store, no watermark). Zero
streaming state means any micro-batch slicing lands on the batch result
exactly — the same batch-identical law as stream_quarantine and
stream_drift_chi2's post-agg scoring, pinned by
tests/test_stream_quality.py.

The per-row fold is arithmetically IDENTICAL to the batch explode ->
broadcast-join -> sum formulation: integer weight sums over the same
token occurrences in a different association order. On a cluster the
same code points at a Kafka/object-store document stream; refreshing the
weight relation is a query restart (the map literal is baked into the
plan — the documented trade vs stream_enriched_counts' per-batch
re-evaluated dimension join, chosen because a map literal keeps scoring
stateless and shuffle-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table replayed through readStream (the _events_stream
    pattern: glob-filtered dir read with the batch-established schema)."""
    from ..sources.tables import table_schema

    return (
        spark.readStream.schema(table_schema(spark, sf_dir, "documents"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_quality_score(
    spark: SparkSession,
    sf_dir: str,
    documents: DataFrame | None = None,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Score the document stream with the batch-learned quality model.

    Output: (doc_id, lang, n_tokens, margin, pred) — the EXACT
    quality_classifier relation (same null-text completion: token-less
    docs score margin 0, pred 0; n_tokens counts bucket-HIT occurrences,
    mirroring the batch inner join, so exactness holds even for weights
    trained on a different corpus), emitted per arriving document with no
    streaming state. ``documents`` lets a harness inject a multi-batch
    replay; ``weights`` overrides the model (defaults to training on the
    static batch table — in the gated replay the stream IS that corpus,
    the production shape where the model trained on yesterday's corpus
    scores today's ingest)."""
    from ..functions.select import QC_N_BUCKETS, quality_weights
    from ..functions.text import tokens_col
    from ..sources.tables import load_table
    from .windowed import _run_to_memory

    if weights is None:
        weights = quality_weights(load_table(spark, sf_dir, "documents"))
    pairs = weights.collect()  # <= n_buckets rows by construction
    if pairs:
        score_map = F.create_map(
            *[
                F.lit(v)
                for r in pairs
                for v in (int(r["bucket"]), int(r["wt"]))
            ]
        )
    else:
        score_map = F.create_map().cast("map<bigint,bigint>")

    def _wt(tok):
        # per-token weight LOOKUP (NULL = bucket absent from the model):
        # computed ONCE per token occurrence via transform, then consumed
        # by BOTH output columns — the md5 is the fold's dominant cost,
        # so hashing once (not once per column) keeps the map-only replay
        # at its batch-pass cost (sf1 scaling evidence, SURVEY §8)
        bucket = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast(
            "bigint"
        ) % F.lit(int(QC_N_BUCKETS))
        return F.element_at(score_map, bucket)

    src = documents if documents is not None else _docs_stream(spark, sf_dir)
    scored = (
        src.select("doc_id", "lang", tokens_col().alias("toks"))
        .withColumn("wts", F.transform("toks", _wt))
        .select(
            "doc_id",
            "lang",
            # count ONLY tokens whose bucket exists in the weight
            # relation — the batch path's inner join on bucket does
            # exactly this, so the batch-identical law holds for
            # n_tokens even under caller-injected weights trained on a
            # different corpus (round-11 ADVICE); with self-trained
            # weights every occurring bucket is present and this equals
            # size(toks)
            F.coalesce(
                F.size(F.filter("wts", lambda w: w.isNotNull())), F.lit(0)
            )
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce(
                F.aggregate(
                    "wts",
                    F.lit(0).cast("bigint"),
                    lambda acc, w: acc + F.coalesce(w, F.lit(0).cast("bigint")),
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("margin"),
        )
        .withColumn("pred", (F.col("margin") > 0).cast("int"))
    )
    return _run_to_memory(scored, "append")
