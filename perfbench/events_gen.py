"""Seeded ``events`` table for the registry's headline queries.

The headline (``bench=True``) queries ``typical_day`` and
``report_rollup`` read one table, ``<sf_dir>/events.parquet``
(``queries/core.py``): event_id, ts, user_id, event_type, value, props,
with the shapes of the TPC-H-like testdata (five event types, fifteen
users, thirty days of January 2024, values up to ~330). This writes such a
table from ``--seed`` alone, with the dirt the silver hop of those queries
drops: null and negative values, and null timestamps. The oracle SQL of
each query over the same file is the ground truth.
"""

from __future__ import annotations

import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
USERS = 15
START = datetime.datetime(2024, 1, 1)
SPAN_S = 30 * 86400


def generate(out_dir: str, seed: int, rows: int) -> str:
    """Write ``out_dir/events.parquet`` with ``rows`` rows; returns
    ``out_dir`` (the ``sf_dir`` the query builders take)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    offsets = sorted(rng.randrange(SPAN_S * 1_000_000) for _ in range(rows))
    ts, values = [], []
    for i, us in enumerate(offsets):
        ts.append(None if i % 997 == 0 else START + datetime.timedelta(microseconds=us))
        if i % 101 == 0:
            values.append(None)
        elif i % 103 == 0:
            values.append(-round(rng.uniform(0.01, 50.0), 2))
        else:
            values.append(round(rng.uniform(0.01, 330.0), 2))
    table = pa.table({
        "event_id": pa.array(range(rows), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(USERS) for _ in range(rows)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(rows)]),
        "value": pa.array(values, pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(rows)]),
    })
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return out_dir
