"""Calibrate the frame-density routers: both plans of each router, timed
over a sweep of skewed and uniform event-log shapes.

Usage: python tools/route_sweep.py [--reps 3] [--shape N ...] [--out DIR]

Each shape's ``events.parquet`` comes from a seeded numpy generator
(``share`` of the events from ``hot`` users, timestamps uniform over 30
days). Per shape it prints both routing statistics of the 24 h frame,
``max`` (densest entity, the pit router's) and ``mean`` (rows-weighted,
the trailing routers'), then for each router's registered query the
WindowExec plan (threshold patched to 10⁹) and the O(rows) plan
(threshold 0): min of ``--reps`` runs of build plus noop write after one
warm run, the faster plan starred.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

START_US = 1_704_067_200_000_000  # 2024-01-01
SPAN_US = 30 * 86_400_000_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# (events, users, hot users, hot share)
SHAPES = [
    (20_000, 300, 2, 0.2), (20_000, 300, 1, 0.2),  # the first is backfill's
    (200_000, 3000, 30, 0.2), (200_000, 1000, 100, 0.2),
    (100_000, 100, 50, 0.2), (100_000, 300, 2, 0.2), (100_000, 1500, 2, 0.2),
    (1_000_000, 15_000, 1, 0.02), (1_000_000, 15_000, 1, 0.03),
    (1_000_000, 15_000, 0, 0.0),
]
ROUTERS = {"trailing": "trailing_multiwindow_features",
           "pit": "pit_join_purchases_24h", "flags": "conditional_window_counts"}


def write_events(path: str, n: int, users: int, hot: int, share: float,
                 seed: int) -> None:
    rng = np.random.default_rng(seed)
    is_hot = rng.random(n) < share if hot else np.zeros(n, bool)
    user = np.where(is_hot, rng.integers(0, max(hot, 1), n),
                    rng.integers(hot, users, n))
    ts = START_US + rng.integers(0, SPAN_US, n, dtype=np.int64)
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(np.maximum(np.exp(rng.normal(3.0, 1.5, n)), 1.0), 2)
    order = np.argsort(ts, kind="stable")
    pq.write_table(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": user[order].astype(np.int64),
        "event_type": etype[order],
        "value": value[order],
    }), os.path.join(path, "events.parquet"))


def wall(fn, reps: int) -> float:
    fn()  # warm
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--shape", type=int, nargs="*",
                    help="indices into SHAPES (default: all)")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", default=None, help="data dir (default: a temp dir)")
    args = ap.parse_args()

    from aml_feature_store_spark.catalog import queries
    from aml_feature_store_spark.operators import windows
    from aml_feature_store_spark.session import get_spark
    from aml_feature_store_spark.sources import load_table

    spark = get_spark("route-sweep")
    qs = queries()
    root = args.out or tempfile.mkdtemp(prefix="route_sweep_")
    thr = windows.AUTO_FRAME_ROWS_THRESHOLD
    print("shape | max | mean | router: window s / O(rows) s (* = faster)")
    for i in args.shape if args.shape is not None else range(len(SHAPES)):
        n, users, hot, share = SHAPES[i]
        d = os.path.join(root, f"shape{i}")
        os.makedirs(d, exist_ok=True)
        write_events(d, n, users, hot, share, args.seed)
        mx, mean, _ = windows._entity_stats(
            load_table(spark, d, "events"), "user_id", "ts", 86400
        )
        cells = []
        for router, name in ROUTERS.items():
            t = {}
            for plan, patched in (("window", 10**9), ("scalable", 0)):
                windows.AUTO_FRAME_ROWS_THRESHOLD = patched
                try:
                    t[plan] = wall(lambda: qs[name](spark, d).write.format(
                        "noop").mode("overwrite").save(), args.reps)
                finally:
                    windows.AUTO_FRAME_ROWS_THRESHOLD = thr
            star = {p: "*" if t[p] == min(t.values()) else "" for p in t}
            cells.append(f"{router} {t['window']:.2f}{star['window']} / "
                         f"{t['scalable']:.2f}{star['scalable']}")
        print(f"{n} ev, {users} users, {hot} hot ({share:.0%}) | {mx:.1f} | "
              f"{mean:.1f} | " + " | ".join(cells), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
