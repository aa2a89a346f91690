"""The benchmark's workloads: what one pass runs and how its output is checked.

A workload generates its inputs from the seed, then runs passes. Each pass
is a list of operations; every operation is timed and may fail (raise) or
later fail its output check. Only the last pass's outputs are checked, after
all timed passes.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen
from tracing import Span, Spans, StreamListener


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    spans: Spans
    trace: bool = False
    listener: StreamListener | None = None


@dataclass
class PassResult:
    label: str
    wall_s: float
    op_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    errors: dict[str, str] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


def _job_group(ctx: Ctx, group: str | None) -> None:
    sc = ctx.spark.sparkContext
    if not ctx.trace:
        return
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def open_events(ctx: Ctx) -> None:
    """Open the generated event log the way every query does."""
    from aml_feature_store_spark.sources.tables import load_table

    load_table(ctx.spark, ctx.data_dir, "events").schema


# --- backfill ---------------------------------------------------------------

# 1M events / 15k users / 100 hot users scaled by 1/50; each hot user keeps
# the same depth (about 2000 events over 30 days), so hot-user window frames
# are as wide as at full scale.
EVENTS = gen.EventShape(n_events=20_000, n_users=300, n_hot=2)

BACKFILL_QUERIES = [
    "trailing_multiwindow_features",
    "pit_join_purchases_24h",
    "hits_bipartite",
]


class Backfill:
    """Offline feature backfill: registered queries run to a noop sink."""

    name = "backfill"

    def __init__(self) -> None:
        self.rows = 0
        self._last: dict[str, object] = {}

    def generate(self, data_dir: str, seed: int) -> None:
        self.rows = gen.write_events(data_dir, EVENTS, seed)

    def run_pass(self, ctx: Ctx, label: str) -> PassResult:
        from aml_feature_store_spark import catalog

        fns = catalog.queries()
        res = PassResult(label, 0.0)
        self._last = {}
        t0 = time.time()
        for name in BACKFILL_QUERIES:
            key = f"{label}:{name}"
            res.attempted += 1
            t_op = time.time()
            try:
                _job_group(ctx, f"{key}:build")
                df = ctx.spans.timed("build", key, fns[name], ctx.spark, ctx.data_dir)
                if ctx.trace:
                    _job_group(ctx, f"{key}:plan")
                    ctx.spans.timed(
                        "plan", key, lambda: df._jdf.queryExecution().executedPlan()
                    )
                _job_group(ctx, f"{key}:exec")
                ctx.spans.timed(
                    "exec", key,
                    lambda: df.write.format("noop").mode("overwrite").save(),
                )
                self._last[name] = df
            except Exception as e:  # an operation that raises counts as failed
                res.errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                _job_group(ctx, None)
            res.op_ms.append((time.time() - t_op) * 1000.0)
            res.extra[name] = round(res.op_ms[-1] / 1000.0, 3)
        res.wall_s = time.time() - t0
        return res

    def check(self, ctx: Ctx) -> dict[str, list[str]]:
        """Last pass's DataFrames, collected and compared with their oracles."""
        from aml_feature_store_spark import catalog

        oracles = catalog.oracle_sql()
        con = checks.oracle_connection(ctx.data_dir, os.path.join(ctx.work_dir, "duck"))
        out = {}
        for name, df in self._last.items():
            try:
                t0 = time.time()
                got = df.toPandas()
                t1 = time.time()
                want = con.sql(oracles[name]).df()
                out[name] = checks.compare(got, want)
                print(f"perfbench check_wall {name}: spark {t1 - t0:.2f} s, "
                      f"oracle+compare {time.time() - t1:.2f} s", flush=True)
            except Exception as e:
                out[name] = [f"{type(e).__name__}: {str(e)[:300]}"]
        con.close()
        return out


# --- realtime ---------------------------------------------------------------

N_BATCHES = 3
LOOKUPS_PER_BATCH = 6
# lookups on the final store after the timed passes; their median is the
# workload's op_p50_ms. Lookup latency keeps falling over a process's first
# 40 or so lookups as the JVM compiles the read path, and in a warm process
# it still wanders with the host by 10-15% over a few seconds, so the
# median needs many lookups past that point. These are the cheapest to add:
# each lookup added to a pass also adds a slow one to the cold pass.
SERVE_LOOKUPS = 48
IDS_PER_LOOKUP = 20
TTL_MS = 86_400_000  # OnlineStore default TTL


class Realtime:
    """Closed-loop serving path on one driver thread. Per micro-batch: land
    a file, run the per-event processor over it with availableNow from a
    persistent checkpoint, merge the latest row per user into the online
    store in ``foreachBatch``, then run point lookups on the store. After
    the passes, ``serve`` runs a longer series of lookups on the last
    pass's final store."""

    name = "realtime"

    def __init__(self) -> None:
        self.rows = 0
        self._bounds: list[tuple[int, int]] = []
        self._users: np.ndarray | None = None
        self._lookups: list[tuple[int, list[int], list]] = []
        self._served: list[tuple[int, list[int], list]] = []
        self._store_path = ""

    def generate(self, data_dir: str, seed: int) -> None:
        self.rows = gen.write_events(data_dir, EVENTS, seed)
        table = pq.read_table(os.path.join(data_dir, "events.parquet"))
        batch_dir = os.path.join(data_dir, "batches")
        os.makedirs(batch_dir, exist_ok=True)
        n = table.num_rows
        self._bounds = [(i * n // N_BATCHES, (i + 1) * n // N_BATCHES)
                        for i in range(N_BATCHES)]
        for i, (lo, hi) in enumerate(self._bounds):
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(batch_dir, f"b{i:03d}.parquet"))
        self._users = table.column("user_id").to_numpy()
        # distinct users per micro-batch and in the store after it
        self._batch_users = [len(np.unique(self._users[lo:hi])) for lo, hi in self._bounds]
        self._store_users = [len(np.unique(self._users[:hi])) for _lo, hi in self._bounds]

    def _lookup_ids(self, seed: int, stream: int, n: int) -> list[list[int]]:
        """Ids drawn from the event log's own user distribution (hot-skewed);
        the same sequence for the same seed and stream."""
        rng = np.random.default_rng([seed, stream])
        idx = rng.integers(0, len(self._users), (n, IDS_PER_LOOKUP))
        return [sorted({int(u) for u in self._users[row]}) for row in idx]

    @staticmethod
    def _lookup(ctx: Ctx, store, key: str, want_ids: list[int], res: PassResult,
                batch: int, out: list) -> None:
        """One timed ``store.lookup(ids).collect()``; its rows are kept in
        ``out`` for the check, with the micro-batch whose state it saw."""
        res.attempted += 1
        _job_group(ctx, f"{key}:lookup")
        t_l = time.time()
        try:
            rows = ctx.spans.timed(
                "lookup", key, lambda: store.lookup(want_ids).collect()
            )
            out.append((batch, want_ids, rows))
        except Exception as e:
            res.errors[key] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            _job_group(ctx, None)
        res.op_ms.append((time.time() - t_l) * 1000.0)

    def run_pass(self, ctx: Ctx, label: str) -> PassResult:
        from pyspark.sql import functions as F

        from aml_feature_store_spark.operators.pit import latest_snapshot
        from aml_feature_store_spark.sources.tables import stream_events
        from aml_feature_store_spark.streaming.online_store import OnlineStore
        from aml_feature_store_spark.streaming.per_event import per_event_features

        spark, spans = ctx.spark, ctx.spans
        base = os.path.join(ctx.work_dir, "realtime", label)
        src = os.path.join(base, "src")
        ckpt = os.path.join(base, "ckpt")
        os.makedirs(src)
        store = OnlineStore(spark, os.path.join(base, "store"))
        self._store_path = store.path

        def merge_batch(batch_df, _epoch_id) -> None:
            latest = latest_snapshot(
                batch_df.withColumn("feature_ts", F.timestamp_millis("ts_ms")),
                "user_id", "feature_ts", tiebreak_col="event_id",
            )
            spans.timed("merge", f"{label}:merge", store.merge, latest)

        ids = self._lookup_ids(ctx.seed, 4, N_BATCHES * LOOKUPS_PER_BATCH)
        res = PassResult(label, 0.0, extra={"ingest_s": [], "written_b": [], "store_b": []})
        lookups = []
        seen: set = set()
        t0 = time.time()
        for i in range(N_BATCHES):
            key = f"{label}:b{i:03d}"
            res.attempted += 1
            t_land = time.time()
            try:
                name = f"b{i:03d}.parquet"
                shutil.copy(os.path.join(ctx.data_dir, "batches", name),
                            os.path.join(src, "." + name))
                os.rename(os.path.join(src, "." + name), os.path.join(src, name))
                events = spans.timed("sources", key, stream_events, spark, src)
                q = (
                    per_event_features(events)
                    .writeStream.foreachBatch(merge_batch)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                t_ready = time.time()
                spans.items.append(Span("ingest", key, t_land, t_ready))
                res.extra["ingest_s"].append(t_ready - t_land)
                if ctx.trace:
                    ctx.listener.wait_ended(str(q.runId))
                    written, total = _store_bytes(store.path, seen)
                    res.extra["written_b"].append(written)
                    res.extra["store_b"].append(total)
            except Exception as e:
                res.errors[key] = f"{type(e).__name__}: {str(e)[:300]}"
                break
            for j in range(LOOKUPS_PER_BATCH):
                self._lookup(ctx, store, f"{key}:l{j:02d}",
                             ids[i * LOOKUPS_PER_BATCH + j], res, i, lookups)
        res.wall_s = time.time() - t0
        self._lookups = lookups
        return res

    def serve(self, ctx: Ctx) -> PassResult:
        """``SERVE_LOOKUPS`` lookups, back to back, on the final store of the
        last pass: the steady-state serving latency."""
        from aml_feature_store_spark.streaming.online_store import OnlineStore

        store = OnlineStore(ctx.spark, self._store_path)
        res = PassResult("serve", 0.0)
        self._served = []
        t0 = time.time()
        for j, want_ids in enumerate(self._lookup_ids(ctx.seed, 5, SERVE_LOOKUPS)):
            self._lookup(ctx, store, f"serve:l{j:02d}", want_ids, res,
                         N_BATCHES - 1, self._served)
        res.wall_s = time.time() - t0
        return res

    def check(self, ctx: Ctx) -> dict[str, list[str]]:
        """Final store vs the last oracle row per user; every lookup of the
        last pass and of ``serve`` vs the oracle's state after the
        micro-batch it followed."""
        from aml_feature_store_spark import catalog

        con = checks.oracle_connection(ctx.data_dir, os.path.join(ctx.work_dir, "duck"))
        oracle = con.sql(catalog.oracle_sql()["streaming_per_event_features"]).df()
        con.close()
        oracle = oracle.sort_values(["user_id", "ts_ms", "event_id"], kind="mergesort")
        out: dict[str, list[str]] = {}

        def state_after(i: int) -> pd.DataFrame:
            prefix = oracle[oracle["event_id"] < self._bounds[i][1]]
            return prefix.groupby("user_id", sort=False).tail(1).reset_index(drop=True)

        states = {i: state_after(i) for i in range(N_BATCHES)}
        cols = list(oracle.columns)
        try:
            store = pq.read_table(self._store_path).to_pandas()
            out["final_store"] = checks.compare(store[cols], states[N_BATCHES - 1])
        except Exception as e:
            out["final_store"] = [f"{type(e).__name__}: {str(e)[:300]}"]
        for name, done in (("lookup", self._lookups), ("lookup_serve", self._served)):
            for n, (i, ids, rows) in enumerate(done):
                st = states[i]
                live = st[st["ts_ms"] >= st["ts_ms"].max() - TTL_MS]
                want = live[live["user_id"].isin(ids)]
                got = pd.DataFrame([r.asDict() for r in rows],
                                   columns=cols + ["feature_ts"])
                out[f"{name}{n:03d}"] = checks.compare(got[cols], want)
        return out

    def write_amp(self, p: PassResult) -> float:
        """Median over merges of bytes written ÷ bytes of the merged batch.
        The batch is never written alone, so its size is taken as its rows'
        share of the store file it landed in."""
        amps = [
            w / (total * self._batch_users[i] / self._store_users[i])
            for i, (w, total) in enumerate(zip(p.extra["written_b"], p.extra["store_b"]))
        ]
        return float(np.median(amps))


def _store_bytes(path: str, seen: set) -> tuple[int, int]:
    """(bytes in files new since the last call, total bytes) of the store."""
    written = total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
            total += st.st_size
            if key not in seen:
                seen.add(key)
                written += st.st_size
    return written, total


WORKLOADS = {"backfill": Backfill, "realtime": Realtime}
