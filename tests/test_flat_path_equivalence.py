"""The flat entry points (over validated rows) must produce exactly the
same results as the nested reference-shaped ones (profiles -> explode).
Both feed the same per-stage cores, so this checks the input adapters."""

from adtech_log_data_pipeline_spark.operators import (
    SuspiciousThresholds,
    app_profile_slots_from_valid,
    app_profiles,
    device_profiles,
    feature_inputs,
    flatten_app_profiles,
    suspicious_ids,
    suspicious_ids_from_valid,
    valid_bid_logs,
)
from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs, load_iapp

SF = "/root/testdata/sf0.001"
T = SuspiciousThresholds(user_count=5, app_count=3, geo_count=10, bid_log_count=30)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_app_profile_paths_equal(spark):
    v = valid_bid_logs(load_bid_logs(spark, SF))
    nested = flatten_app_profiles(app_profiles(device_profiles(v)))
    flat = app_profile_slots_from_valid(v)
    assert rows(nested) == rows(flat)


def test_suspicious_paths_equal(spark):
    v = valid_bid_logs(load_bid_logs(spark, SF))
    p = device_profiles(v)
    nested = suspicious_ids(p, app_profiles(p), T)
    flat = suspicious_ids_from_valid(v, T)
    assert rows(nested) == rows(flat)


def test_fused_pipeline_equals_composed(spark):
    from adtech_log_data_pipeline_spark.operators.features import (
        feature_pipeline_from_valid,
    )

    v = valid_bid_logs(load_bid_logs(spark, SF))
    p = device_profiles(v)
    iapp = load_iapp(spark, SF)
    nested = feature_inputs(p, suspicious_ids(p, app_profiles(p), T), iapp)
    fused = feature_pipeline_from_valid(v, iapp, T)
    assert rows(nested) == rows(fused)
