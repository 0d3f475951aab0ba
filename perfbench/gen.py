"""Seeded fixture tables for the lakehouse benchmark.

The same seed always yields byte-identical parquet files, in the shapes of
FIXTURES.md. `events` is the dashboard's input: 100 k rows over 30 days,
`event_id` ascending with `ts` (GitHub ids grow with time), five event
types, 1 500 users with a Zipf-like skew and `value` with two decimals.
Every other table the DuckDB oracle (tools/check_oracle.py) declares a view
over is written as a zero-row stub: the dashboard's panels read only
`events`.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check_oracle  # noqa: E402

N_EVENTS = 100_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def events(rng, n):
    ts = np.sort(T0_US + rng.integers(0, 30 * DAY_US, n))
    users = np.minimum((rng.pareto(1.2, n) * 40).astype(np.int64), 1499)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.uniform(0, 560, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_fixtures(out, seed):
    """Write every fixture table for `seed` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out, "events", events(rng, N_EVENTS))
    for name in check_oracle.TABLES:
        if name != "events":
            _write(out, name, {"stub": pa.array([], pa.int8())})
