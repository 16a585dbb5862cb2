"""Per-app distinct-user aggregation — AppProfiles (reference:
transforms/AppProfiles.java:48-133; SURVEY.md §2.3 A2-A5).

The reference emits, per device-app, one `(bundle, -1)` user-count token
plus one `(bundle, exchange)` token per exchange PRESENT in the app's
count_per_exchange map (presence, not weighted by count — EmitData at
AppProfiles.java:117-133), then counts tokens. Since device ids are unique
after the duplicate tripwire, token counts == distinct-user counts. The
Spark-native statement of that semantic truth is a count over the
distinct device-app(-exchange) rows — one shuffle per agg level, partial
aggregation included, no sentinel tokens needed. _slot_counts is that
count; app_profiles feeds it from nested DeviceProfiles and
app_profile_slots_from_valid from flat validated rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tripwire import CorruptedDataError


def assert_unique_device_ids(profiles: DataFrame) -> None:
    """Duplicate-ID tripwire (reference: AppProfiles.java:50-56 and
    Features.java:81-87 — any device id appearing twice aborts the job with
    CorruptedDataException). uuid compared case-insensitively
    (DeviceProfileUtils.java:242-251 keys by lower-cased uuid).

    Spark is lazy, so this is an explicit eager action on the driver
    (SURVEY.md §2.5 X1): cheap count-based probe, short-circuits at the
    first duplicate found.
    """
    dup = (
        profiles.groupBy("os", F.lower(F.col("uuid")).alias("uuid_lc"))
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        row = dup[0]
        raise CorruptedDataError(
            f"duplicate DeviceId: os={row['os']} uuid={row['uuid_lc']}"
        )


def _slot_counts(device_app_exchanges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The counting core both entry points share, over distinct (os, uuid,
    bundle, exchange) rows. Returns the user leg (bundle, user_count) and
    the exchange leg (bundle, exchange, cnt). Rows are distinct, so every
    count is a plain count(*)."""
    users = (
        device_app_exchanges.select("os", "uuid", "bundle")
        .distinct()
        .groupBy("bundle")
        .agg(F.count(F.lit(1)).cast("int").alias("user_count"))
    )
    per_exchange = device_app_exchanges.groupBy("bundle", "exchange").agg(
        F.count(F.lit(1)).cast("int").alias("cnt")
    )
    return users, per_exchange


def app_profiles(profiles: DataFrame) -> DataFrame:
    """AppProfile per bundle: user_count (distinct devices with the app) and
    user_count_per_exchange (distinct devices whose app activity includes
    the exchange). Output schema (FIXTURES.md / profile.proto:130-145):
      bundle string, user_count int,
      user_count_per_exchange map<int,int> (zero entries absent)

    The adapter runs the duplicate tripwire, explodes the profiles into
    (os, uuid, bundle, exchange) rows (distinct once device ids are
    unique) for _slot_counts, and re-nests the exchange leg into the map.
    """
    assert_unique_device_ids(profiles)

    device_app_exchanges = profiles.select(
        "os", "uuid", F.explode("apps").alias("app")
    ).select(
        "os",
        "uuid",
        F.col("app.bundle").alias("bundle"),
        F.explode(F.map_keys("app.count_per_exchange")).alias("exchange"),
    )
    users, per_exchange = _slot_counts(device_app_exchanges)
    exchange_maps = per_exchange.groupBy("bundle").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("exchange", "cnt")))
        ).alias("user_count_per_exchange")
    )
    return users.join(exchange_maps, "bundle")


def app_profile_slots_from_valid(valid_logs: DataFrame) -> DataFrame:
    """flatten_app_profiles(app_profiles(device_profiles(valid_logs))),
    straight from the flat validated rows: the same _slot_counts core, fed
    without materializing nested profiles first. The reference builds
    AppProfiles FROM DeviceProfiles because Beam has no shared scans; in
    Spark that detour costs an ObjectHashAggregate collect_list + explode
    per branch, all outside whole-stage codegen. Here: distinct -> two
    codegen hash aggs.

    Devices are distinct by construction (groupBy), so the A2 duplicate
    tripwire is structural rather than a runtime probe on this path.

    The distinct (os, uuid, bundle, exchange) relation is persisted: it is
    the big cardinality reduction (bid-log rows -> device-app-exchange) and
    BOTH legs aggregate from it — without the persist the scan+derive
    pipeline would execute once per leg."""
    from ..functions._cache import hold

    users, per_exchange = _slot_counts(
        hold(
            valid_logs.select(
                "os", "uuid", F.col("app_bundle").alias("bundle"), "exchange"
            ).distinct(),
            # lazy hold (r13): the first consumer's action fills the cache;
            # concurrent fills are serialized per partition by the block
            # manager, so an upfront count is pure added latency (see hold())
        )
    )
    return users.select(
        "bundle", F.lit(-1).alias("slot"), F.col("user_count").alias("cnt")
    ).unionByName(per_exchange.select("bundle", F.col("exchange").alias("slot"), "cnt"))


def flatten_app_profiles(aps: DataFrame) -> DataFrame:
    """Hashable projection: (bundle, slot, cnt) rows where slot=-1 carries
    user_count (the reference's own sentinel encoding, AppProfiles.java:121)
    and slot>=1 carries the per-exchange distinct-user counts."""
    user_leg = aps.select(
        "bundle", F.lit(-1).alias("slot"), F.col("user_count").alias("cnt")
    )
    ex_leg = aps.select(
        "bundle", F.explode("user_count_per_exchange").alias("slot", "cnt")
    )
    return user_leg.unionByName(ex_leg)
