"""Pipeline 1 — the reference's BidLogJob end-to-end
(jobs1/BidLogJob.java:126-154): bid logs -> validate -> DeviceProfiles ->
AppProfiles (+ duplicate tripwire) -> SuspiciousIDs -> three sinks.

The Beam graph's three shuffle boundaries (Combine.perKey, Count.perElement,
Combine.perKey) become Spark hash aggregations with automatic partial
aggregation; the popular-apps side input becomes a broadcast join inside
suspicious_ids. Outputs are written partitioned (parquet); the suspicious
IDs can also be written as the reference's Base64 DeviceId protobuf lines
(IOUtils.encodeB64AndWrite, jobs1/BidLogJob.java:149-151).

Persist once, release on exit: Beam materialises the DeviceProfile
PCollection once and fans it out to every consumer; a lazy Spark plan
would instead recompute it for each action (the tripwire, three sinks).
The job therefore holds the device profiles and the app profiles
(``functions/_cache.hold``), so the input is read once per run, and
releases everything it registered, the skew router's probe frames
included, before it returns. A long-lived session keeps nothing cached;
the returned frames stay lazy and recompute if evaluated again.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions._cache import hold, registry_mark, release_cached_from
from ..operators.app_profile import app_profiles
from ..operators.device_profile import device_profiles
from ..operators.suspicious import SuspiciousThresholds, suspicious_ids
from ..operators.validate import is_valid_bidlog, valid_bid_logs
from ..sources.protowire import DEVICE_ID, NAME_TO_OS, encode_b64_proto


def _device_id(row: dict) -> dict:
    """(os, uuid) row -> DeviceId message (os as its enum number)."""
    return {"os": NAME_TO_OS[row["os"]], "uuid": row["uuid"]}


@dataclass
class BidLogJobResult:
    device_profiles: DataFrame
    app_profiles: DataFrame
    suspicious: DataFrame
    # single-pass job counters (Observation / CollectMetrics): read
    # after the device-profiles write when output_dir is set, else {}
    metrics: dict = field(default_factory=dict)


def run_bidlog_job(
    spark: SparkSession,
    bid_logs: DataFrame,
    output_dir: str | None = None,
    thresholds: SuspiciousThresholds = SuspiciousThresholds(),
    b64_outputs: bool = False,
) -> BidLogJobResult:
    """Execute pipeline 1. When `output_dir` is set, writes parquet outputs
    (device_profiles/ app_profiles/ suspicious/); `b64_outputs` adds
    suspicious_b64/, one Base64 DeviceId protobuf line per suspicious ID.

    Observability: the validity filter's admit/drop counts ride the
    action that fills the device-profiles cache (the duplicate tripwire)
    as an `Observation` (Spark's CollectMetrics) — ONE pass computes
    outputs AND counters, where a naive job would run a second count()
    scan over the input for its log line. At 100 TB that second scan is
    real money; observed metrics are free riders on the action that runs
    anyway."""
    obs = Observation("bidlog_validation")
    observed = bid_logs.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(is_valid_bidlog().cast("long")).alias("n_valid"),
    )
    mark = registry_mark()
    try:
        dp = hold(device_profiles(valid_bid_logs(observed)))
        # app_profiles runs the duplicate-ID tripwire (A2) eagerly: the
        # job's first action, which fills dp's cache before any sink
        aps = hold(app_profiles(dp))
        susp = suspicious_ids(dp, aps, thresholds)

        metrics: dict = {}
        if output_dir:
            out = lambda name: os.path.join(output_dir, name)
            dp.write.mode("overwrite").parquet(out("device_profiles"))
            metrics = dict(obs.get)
            metrics["n_dropped"] = metrics["n_input"] - metrics["n_valid"]
            aps.write.mode("overwrite").parquet(out("app_profiles"))
            susp.write.mode("overwrite").parquet(out("suspicious"))
            if b64_outputs:
                encode_b64_proto(susp, DEVICE_ID, _device_id).write.mode(
                    "overwrite"
                ).text(out("suspicious_b64"))
    finally:
        release_cached_from(mark)

    return BidLogJobResult(dp, aps, susp, metrics)
