"""Streaming IVF-PQ ingest screen — score incoming embedding vectors
against the batch-built PQ index and emit near-duplicate hits, closing
the similarity family's incremental-ingest gap (the dedup index has
dedup_incoming_indexed, the quality model has stream_quality_score;
this is the same move at the ANN rung — round-11 verdict #7).

Shape, and why it scales: the index is built ONCE batch-side
(functions/similarity.py::build_pq_index — codebook, corpus codes, IVF
seeds/assignment), and each arriving vector is screened STATELESSLY:

  1. coarse-assign it to its inverted list — the Arrow-batched
     nearest_list_udf projection (map-side, no shuffle, no state);
  2. stream-static join on list_id against the PRE-RECONSTRUCTED
     corpus (each corpus vector's PQ codeword micros, held/cached once
     per run) — candidates are the query's list only, corpus/n_lists
     rows per arrival;
  3. per candidate, the ADC score as one codegen array fold:
     dot(q_micros, recon_micros) — exact bigint, identical to summing
     the classic per-subspace ADC table because
     dot(q, ĉ) = Σ_sub dot(q_sub, codeword_sub);
  4. normalize to the r6-rounded approximate cosine
     (dot / (sqrt(|q|²) * sqrt(|ĉ|²)), NULL-guarded like _cosine_r6)
     and keep hits >= threshold.

Zero streaming state (a projection + a stream-static inner join), so
any micro-batch slicing lands on the batch restatement exactly — the
stream_quality_score law, pinned by tests/test_stream_pq.py. On a
cluster the same code points at a Kafka/object-store embedding stream;
refreshing the index is a query restart (the artifact is the model).

This is a SCREEN, not a verdict: ADC scores carry PQ reconstruction
error (the recall audits quantify it), so hits feed an exact
verifier/dedup decision downstream — the same contract as the LSH band
screen in dedup_incoming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: approximate-cosine admission threshold for a "near-dup hit" — far
#: below the exact near-dup family's dedup bar on purpose: a screen must
#: over-admit (ADC reconstruction error underestimates some true
#: cosines, and the fixture corpus is near-orthogonal), never
#: under-admit; the exact verifier downstream is the tight gate.
STREAM_PQ_THRESHOLD = 0.3


def _emb_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table replayed through readStream (the _docs_stream
    pattern: glob-filtered dir read with the batch-established schema)."""
    from ..sources.tables import table_schema

    return (
        spark.readStream.schema(table_schema(spark, sf_dir, "embeddings"))
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def stream_pq_screen(
    spark: SparkSession,
    sf_dir: str,
    embeddings: DataFrame | None = None,
    index=None,
    threshold: float = STREAM_PQ_THRESHOLD,
) -> DataFrame:
    """Screen the embedding stream against the batch PQ index.

    Output: (vec_id, neighbor_id, adc_cos_r6) — one row per (incoming
    vector, same-inverted-list corpus vector) pair whose ADC approximate
    cosine reaches ``threshold``, self-pairs excluded. ``embeddings``
    lets a harness inject a multi-batch replay; ``index`` (a
    load_pq_index PQIndex) supplies the persisted artifact (defaults to
    deriving the same relations fresh from the static batch table — in
    the gated replay the stream IS that corpus, the production shape
    where the index built on yesterday's corpus screens today's
    ingest)."""
    from ..functions._cache import hold
    from ..functions.similarity import (
        PQ_K,
        PQ_M,
        _ivf_seed_vectors,
        _pq_dsub,
        ivf_assignments,
        nearest_list_udf,
        pq_code_rows,
        pq_codebooks,
    )
    from ..sources.tables import load_table
    from .windowed import _run_to_memory

    batch = load_table(spark, sf_dir, "embeddings")
    if index is not None:
        codebook, codes = index.codebook, index.codes
        assign, ivf_seeds = index.assign, index.ivf_seeds
    else:
        total = batch.count()
        codebook = hold(
            pq_codebooks(batch, k=PQ_K, total=total), eager=True
        )
        codes = pq_code_rows(batch, m=PQ_M, codebook=codebook)
        ivf_seeds = _ivf_seed_vectors(batch, None, total)
        assign = ivf_assignments(batch, seeds=ivf_seeds)
    dsub = _pq_dsub(batch, PQ_M)

    # static side, computed and cached ONCE per run (a stream-static
    # join re-evaluates an uncached static plan every micro-batch):
    # each corpus vector's PQ reconstruction (codeword micros in dim
    # order) + its squared norm + its inverted list
    cw = codebook.withColumn("sub", (F.col("dim") / dsub).cast("int"))
    rec = codes.join(cw, ["sub", "cid"]).select("vec_id", "dim", "c_micro")
    corpus = hold(
        rec.groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, c_micro))),"
                " s -> s.c_micro)"
            ).alias("recon"),
            F.sum(F.col("c_micro") * F.col("c_micro")).alias("cn2"),
        )
        .join(assign, "vec_id")
        .select(
            F.col("vec_id").alias("neighbor_id"), "list_id", "recon", "cn2"
        ),
        eager=True,
    )

    src = embeddings if embeddings is not None else _emb_stream(spark, sf_dir)
    q = (
        src.select("vec_id", "embedding")
        .withColumn(
            "qm",
            F.expr(
                "transform(embedding, x ->"
                " cast(floor(cast(x as double) * 1000000 + 0.5) as bigint))"
            ),
        )
        .withColumn(
            "qn2",
            F.expr("aggregate(qm, cast(0 as bigint), (a, v) -> a + v * v)"),
        )
        .withColumn(
            "list_id",
            nearest_list_udf(
                ivf_seeds,
                matrix=index.seed_matrix() if index is not None else None,
            )(F.col("embedding")),
        )
        .select("vec_id", "qm", "qn2", "list_id")
    )
    scored = (
        q.join(corpus, "list_id")
        .filter(F.col("neighbor_id") != F.col("vec_id"))
        .withColumn(
            "dot",
            F.expr(
                "aggregate(zip_with(qm, recon, (x, y) -> x * y),"
                " cast(0 as bigint), (a, v) -> a + v)"
            ),
        )
        .withColumn(
            "adc_cos_r6",
            F.round(
                F.col("dot")
                / F.expr("nullif(sqrt(qn2) * sqrt(cn2), 0D)"),
                6,
            ),
        )
        .filter(F.col("adc_cos_r6") >= F.lit(threshold))
        .select("vec_id", "neighbor_id", "adc_cos_r6")
    )
    return _run_to_memory(scored, "append")
