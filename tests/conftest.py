import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adtech_log_data_pipeline_spark.functions._cache import (
    registry_mark,
    release_cached_from,
)
from adtech_log_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(autouse=True)
def _release_held_frames():
    """Unpersist the frames a test held (``functions/_cache.hold``) when it
    ends, so the suite's one long-lived session carries no cached data
    from one test into the next. Frames held by wider-scoped fixtures are
    registered before the mark and stay cached for their scope."""
    mark = registry_mark()
    yield
    release_cached_from(mark)


VALID_LOG = {
    "bid_id": "b1",
    "exchange": 1,
    "bid_result": 1,
    "bid_price": 100,
    "received_at": 1_000_000,
    "processed_at": 1_000_001,
    "device_os": "android",
    "device_ifa": "abcdefab-1234-5678-9abc-def012345678",
    "app_bundle": "com.app.one",
    "geo_country": "USA",
    "geo_region": "ca",
}


def bid_log(**overrides):
    """One bid-log row dict with valid defaults (FIXTURES.md §1 schema)."""
    row = dict(VALID_LOG)
    row.update(overrides)
    return row


def bid_logs_df(spark, rows):
    schema = (
        "bid_id string, exchange int, bid_result int, bid_price int,"
        " received_at long, processed_at long, device_os string,"
        " device_ifa string, app_bundle string, geo_country string,"
        " geo_region string"
    )
    return spark.createDataFrame(rows, schema=schema)
