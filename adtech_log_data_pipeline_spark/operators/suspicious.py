"""Suspicious-device (bot) detection — SuspiciousIDs (reference:
transforms/SuspiciousIDs.java:23-110; thresholds MyOptions.java:28-54;
SURVEY.md §2 F8/J1/R1).

Rules (a device is suspicious if ANY fires; reference early-returns so each
id is emitted at most once — here a single boolean disjunction per row):
  (a) it appears in more than GEO_COUNT_THRESHOLD distinct geos
  (b) it has more than APP_COUNT_THRESHOLD apps that are NOT popular
      (popular = user_count > USER_COUNT_THRESHOLD in AppProfiles)
  (c) its total bid count across all apps/exchanges exceeds
      BID_LOG_COUNT_THRESHOLD

The popular-apps side input (Beam View.asList) becomes a broadcast
left-anti join — the dimension is small (distinct bundles), so no shuffle
of the device side; at 100 TB the detail side streams through
map-side-only stages.

One implementation, thin adapters: is_suspicious holds the rules and
score_devices the scoring (popular set, routed anti-join, unpopular
count, left join). suspicious_ids feeds them from nested DeviceProfiles,
suspicious_ids_from_valid and features.feature_pipeline_from_valid from
flat validated rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class SuspiciousThresholds:
    """Defaults per reference MyOptions.java:28-54."""

    user_count: int = 4  # popularity cut for AppProfiles
    app_count: int = 3  # max unpopular apps
    geo_count: int = 8  # max distinct geos
    bid_log_count: int = 10  # max total bids


def is_suspicious(t: SuspiciousThresholds) -> Column:
    """The three-rule disjunction over a scored device row (columns
    geo_cnt, unpopular_apps, total_bids; see score_devices)."""
    return (
        (F.col("geo_cnt") > t.geo_count)
        | (F.col("unpopular_apps") > t.app_count)
        | (F.col("total_bids") > t.bid_log_count)
    )


def score_devices(
    dev_stats: DataFrame,
    device_apps: DataFrame,
    app_users: DataFrame,
    t: SuspiciousThresholds,
) -> DataFrame:
    """The scoring core every entry point shares: `dev_stats` (os, uuid,
    geo_cnt, total_bids, any further columns) gains `unpopular_apps`, the
    number of the device's `device_apps` (os, uuid, bundle) pairs whose
    bundle is not popular. Popular means user_count > t.user_count in
    `app_users` (bundle, user_count). Filter the result with
    is_suspicious(t)."""
    popular = app_users.filter(F.col("user_count") > t.user_count).select("bundle")
    from .skew import routed_anti_join

    unpopular_counts = (
        routed_anti_join(device_apps, popular, "bundle")
        .groupBy("os", "uuid")
        .agg(F.count(F.lit(1)).alias("unpopular_apps"))
    )
    return dev_stats.join(unpopular_counts, ["os", "uuid"], "left").withColumn(
        "unpopular_apps", F.coalesce(F.col("unpopular_apps"), F.lit(0))
    )


def suspicious_ids(
    profiles: DataFrame,
    app_profiles: DataFrame,
    thresholds: SuspiciousThresholds = SuspiciousThresholds(),
) -> DataFrame:
    """Return the suspicious DeviceIds as (os, uuid).

    `profiles` is the nested DeviceProfile frame; `app_profiles` the nested
    AppProfile frame (J4: the aggregate side is broadcast back onto the
    per-device side, mirroring the reference's side-input pattern). The
    adapter reads the per-device stats and device-app pairs out of the
    nested rows and hands them to score_devices."""
    dev_stats = profiles.select(
        "os",
        "uuid",
        F.size("geos").alias("geo_cnt"),
        F.expr(
            "aggregate(apps, 0L, (acc, a) -> acc +"
            " aggregate(map_values(a.count_per_exchange), 0L, (x, y) -> x + y))"
        ).alias("total_bids"),
    )
    device_apps = profiles.select(
        "os", "uuid", F.explode(F.col("apps.bundle")).alias("bundle")
    )
    return (
        score_devices(dev_stats, device_apps, app_profiles, thresholds)
        .filter(is_suspicious(thresholds))
        .select("os", "uuid")
    )


def suspicious_ids_from_valid(
    valid_logs: DataFrame,
    thresholds: SuspiciousThresholds = SuspiciousThresholds(),
) -> DataFrame:
    """suspicious_ids straight from the flat validated rows: the same
    score_devices core, fed without nested-array construction. Every stage
    is a codegen hash agg or broadcast join on the one scan. geo count is
    countDistinct(country, region); total bids is the row count (each
    valid row contributes exactly one count_per_exchange increment)."""
    from ..functions._cache import hold

    # ONE scan: the level-1 agg does the big cardinality reduction (bid-log
    # rows -> device-app) while carrying the row count and geo set partials;
    # it is persisted and every downstream relation derives from it. geo
    # fields are never null in validated logs (blanks are ''/' '), so
    # set-union size == countDistinct(country, region).
    # level-0: pure codegen reduce (geo columns in the grouping key) so the
    # object-agg collect_set only touches the already-reduced relation
    level0 = valid_logs.groupBy(
        "os", "uuid", F.col("app_bundle").alias("bundle"),
        "geo_country", "geo_region",
    ).agg(F.count(F.lit(1)).alias("n"))
    level1 = hold(
        level0.groupBy("os", "uuid", "bundle").agg(
            F.sum("n").alias("n"),
            F.collect_set(F.struct("geo_country", "geo_region")).alias("geos"),
        ),
        # lazy hold (r13): the first consumer's action fills the cache;
        # concurrent fills are serialized per partition by the block
        # manager, so an upfront count is pure added latency (see hold())
    )
    # J1 capacity routing: the popular set derives from the HELD level1, so
    # the router's broadcast-rung probe (one count of the key projection)
    # is a cache read, not a recompute. On every board fixture the popular
    # set is thousands of keys → rung 1 (broadcast), the plan this query
    # always had.
    app_users = level1.groupBy("bundle").agg(F.count(F.lit(1)).alias("user_count"))
    dev_stats = level1.groupBy("os", "uuid").agg(
        F.size(F.array_distinct(F.flatten(F.collect_list("geos")))).cast(
            "long"
        ).alias("geo_cnt"),
        F.sum("n").alias("total_bids"),
    )
    return (
        score_devices(dev_stats, level1, app_users, thresholds)
        .filter(is_suspicious(thresholds))
        .select("os", "uuid")
    )
