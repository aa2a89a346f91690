"""Seeded input generator for the benchmark (numpy + pyarrow only).

Writes the event log in the repository's testdata layout (TESTDATA.md):
``events.parquet``, with ``ts`` as int64
``TIMESTAMP(MICROS, isAdjustedToUTC=false)``, so the unmodified oracle SQL
runs in DuckDB on the same file. The same seed and shape give a
byte-identical file.

The engine's own ``sources.generator`` is deliberately not used: it is code
under test, it emits ``ts`` as epoch nanos, and its ``F.rand`` output depends
on the partition count.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
DAY_US = 86_400_000_000


HOT_SHARE = 0.2  # share of all events that the hot users emit
N_DAYS = 30
N_PROPS = 100  # distinct props.k values (the graph queries' item side)


@dataclass(frozen=True)
class EventShape:
    n_events: int
    n_users: int
    n_hot: int  # hot users; together they emit HOT_SHARE of all events


def events_table(shape: EventShape, rng: np.random.Generator) -> pa.Table:
    """Event log sorted by time; ``event_id`` is the rank in that order.

    ``HOT_SHARE`` of the events come from ``n_hot`` users, the shape of the
    reference generator (hot customers taking 20% of traffic)."""
    n = shape.n_events
    hot = rng.random(n) < HOT_SHARE
    user = np.where(
        hot,
        rng.integers(0, shape.n_hot, n),
        rng.integers(shape.n_hot, shape.n_users, n),
    ).astype(np.int64)
    ts = START_US + rng.integers(0, N_DAYS * DAY_US, n, dtype=np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(np.maximum(np.exp(rng.normal(3.0, 1.5, n)), 1.0), 2)
    k = rng.integers(0, N_PROPS, n)
    order = np.lexsort((user, ts))
    props = np.char.add(np.char.add('{"k": ', k[order].astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts[order], type=pa.timestamp("us")),
            "user_id": pa.array(user[order]),
            "event_type": pa.array(np.array(EVENT_TYPES)[etype[order]]),
            "value": pa.array(value[order]),
            "props": pa.array(props.tolist(), type=pa.string()),
        }
    )


def write_events(out_dir: str, shape: EventShape, seed: int) -> int:
    """Write ``events.parquet`` into ``out_dir``; returns its row count."""
    os.makedirs(out_dir, exist_ok=True)
    t = events_table(shape, np.random.default_rng(seed))
    pq.write_table(t, os.path.join(out_dir, "events.parquet"), compression="snappy")
    return t.num_rows


def sha256_files(out_dir: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(out_dir, name), "rb") as f:
                out[name] = hashlib.sha256(f.read()).hexdigest()
    return out
