"""Pipeline 2 — the reference's PredictionJob end-to-end
(jobs2/PredictionJob.java:94-141): DeviceProfiles + suspicious blacklist +
IAPP -> anti-join -> 1/16 sample -> feature assembly -> batched inference
-> sink. The reference's BigQuery sink (jobs2/PredictionJob.java:128-137)
maps to ``df.write.format("bigquery")`` via the PUBLIC
spark-bigquery-connector when it is on the classpath (availability-probed
— it is not baked into this container), with an overwrite parquet + JSON
write of the same 4-column frame as the always-available fallback.

Persist once, release on exit: the predictions frame (which ends in the
Arrow ``mapInPandas`` inference) is held across all of its sinks, so
inference runs once per job rather than once per sink. Everything the job
registers with ``functions/_cache``, the skew router's probe frames
included, is released before it returns; the returned frame stays lazy.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions._cache import hold, registry_mark, release_cached_from
from ..operators.app_profile import assert_unique_device_ids
from ..operators.features import feature_inputs
from ..operators.inference import predict
from ..sources.codecs import write_json_text


def bigquery_available(spark: SparkSession) -> bool:
    """True when a ``bigquery`` DataSource is registered on the session's
    classpath (the public spark-bigquery-connector). Uses Spark's own
    provider lookup so ANY registered implementation qualifies; never
    touches the network."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "bigquery", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def sink_predictions(
    preds: DataFrame,
    output_dir: str | None = None,
    bq_table: str | None = None,
    _bq_write=None,
) -> str:
    """Route the predictions frame to its sinks; returns the sinks chosen
    ("bigquery+parquet", "bigquery", or "parquet"). BigQuery is used when
    a table is named (arg or $SPARK_GRAFT_BQ_TABLE) AND the connector is
    present — mirroring jobs2/PredictionJob.java:128-137's WRITE_TRUNCATE
    disposition via mode("overwrite"). The local parquet + JSON artifacts
    are ALWAYS written when ``output_dir`` is given — the BigQuery route
    is additive, so an env var alone can never divert the job's expected
    local outputs. ``_bq_write`` injects the write call for tests (no
    live BigQuery in any test environment)."""
    bq_table = bq_table or os.environ.get("SPARK_GRAFT_BQ_TABLE")
    sinks = []
    if bq_table and (
        _bq_write is not None or bigquery_available(preds.sparkSession)
    ):
        write = _bq_write or (
            lambda df, table: df.write.format("bigquery")
            .option("table", table)
            .mode("overwrite")
            .save()
        )
        write(preds, bq_table)
        sinks.append("bigquery")
    if output_dir:
        preds.write.mode("overwrite").parquet(os.path.join(output_dir, "predictions"))
        write_json_text(preds, os.path.join(output_dir, "predictions_json"))
        sinks.append("parquet")
    elif not sinks:
        sinks.append("parquet")  # no-op fallback label (nothing written)
    return "+".join(sinks)


def run_prediction_job(
    spark: SparkSession,
    device_profiles: DataFrame,
    suspicious: DataFrame,
    iapp: DataFrame,
    output_dir: str | None = None,
    bq_table: str | None = None,
) -> DataFrame:
    """Execute pipeline 2; returns the predictions frame
    (os, uuid, prediction, score, model_id)."""
    # duplicate-ID tripwire on the re-read profiles (Features.java:81-87)
    assert_unique_device_ids(device_profiles)
    mark = registry_mark()
    try:
        preds = hold(predict(feature_inputs(device_profiles, suspicious, iapp)))
        if output_dir or bq_table:
            sink_predictions(preds, output_dir, bq_table)
    finally:
        release_cached_from(mark)

    return preds
