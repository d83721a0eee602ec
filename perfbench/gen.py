"""Seeded generator for the benchmark's input: an ``events`` parquet table.

The table has the testdata schema (``event_id, ts, user_id, event_type,
value, props``) and the testdata shape: dense ``event_id`` from 0, ``ts``
ascending with ``event_id`` and spread over January 2024, stored as
TIMESTAMP(MICROS, isAdjustedToUTC=false). ``synth`` derives level3 and
matches from it, so the order-event log the engine sees scales with the
row count: 240 orders over a month, ``rows / 240`` events per order.

The same (seed, rows) pair always writes the same table.

Usage: python3 perfbench/gen.py OUT_DIR ROWS SEED
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTH_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
MONTH_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events_table(rows: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, MONTH_US, size=rows)) + MONTH_START_US
    users = rng.integers(0, max(rows // 66, 1), size=rows)
    kinds = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=rows)]
    value = np.round(rng.uniform(0.0, 50.0, size=rows), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=rows)]
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users, type=pa.int64()),
        "event_type": pa.array(kinds, type=pa.string()),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array(props, type=pa.string()),
    })


def write_events(out_dir: str, rows: int, seed: int) -> str:
    """Write ``<out_dir>/events.parquet``; return its path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events_table(rows, seed), path)
    return path


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__.strip().splitlines()[-1])
    print(write_events(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
