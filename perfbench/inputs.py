"""Seeded benchmark inputs.

``write_events`` builds an ``events`` table with the schema and value
shapes of the synthetic testdata (event_id, ts, user_id, event_type,
value, props): event ids dense from 0, timestamps sorted over 30 days
from 2024-01-01, users uniform, five event types, values exponential
around 50 rounded to cents, and ``props`` a one-key JSON object.
Per-user activity (events ÷ users) is held at the testdata's ~67, which
is what the declared suspicious thresholds are tuned to.

``query_pool`` derives the ``query_mix`` candidates from the registry
order: every declared query whose oracle reads no table but ``events``,
so one generated table serves both the engine and the oracle.
``query_set`` takes a fixed systematic sample of that pool and orders it
by seed.
"""

from __future__ import annotations

import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EVENTS_PER_USER = 100_000 / 1_500
_DAY_US = 86_400 * 1_000_000
_START_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
# Every 12th pool query from the 4th on: six queries from all four
# registry modules, app_profiles_flat (parity, the flat operator path),
# type_transitions (relational), conformal_coverage, stream_window_counts
# and concurrent_sessions (northstar) and tfrecord_parity_check (audits,
# the TFRecord encode/write/decode chain).
QUERY_STEP = 12
QUERY_OFFSET = 3


def write_events(directory: str, seed: int, n_events: int) -> str:
    """Write ``<directory>/events.parquet`` for ``seed``; returns the dir.
    The same seed and size always give the same bytes of data."""
    rng = np.random.default_rng(seed)
    n_users = max(1, round(n_events / EVENTS_PER_USER))
    ts = _START_US + np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES, dtype=object)[
                    rng.integers(0, len(EVENT_TYPES), n_events)
                ]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "events.parquet"))
    return directory


def query_pool() -> list[str]:
    """Registry-ordered names of the declared queries whose oracle SQL
    reads ``events`` and no other table."""
    from adtech_log_data_pipeline_spark.plans.oracles import ORACLES
    from adtech_log_data_pipeline_spark.plans.queries import _ORDER
    from adtech_log_data_pipeline_spark.sources.tables import TABLES

    pool = []
    for name in _ORDER:
        refs = {
            m.lower()
            for m in re.findall(r"(?:FROM|JOIN)\s+([A-Za-z_]\w*)", ORACLES[name], re.I)
        }
        if refs & set(TABLES) == {"events"}:
            pool.append(name)
    return pool


def query_set(seed: int, limit: int | None = None) -> list[str]:
    """The ``query_mix`` pass for ``seed``: every ``QUERY_STEP``-th pool
    query from ``QUERY_OFFSET`` on (the first ``limit`` of them when
    given), in an order drawn by the seed. The set itself is the same for
    every seed: op latency differs by 10x between declared queries, so a
    seed-drawn subset would make the seed, not the code, move the
    medians."""
    names = query_pool()[QUERY_OFFSET::QUERY_STEP][:limit]
    random.Random(seed).shuffle(names)
    return names
