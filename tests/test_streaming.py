"""Streaming tests (SURVEY §5.4): per-event stateful features must equal
the batch window computation on the same events (online/offline
consistency), across single- and multi-batch arrival; online store merge
semantics; burst scenario."""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from aml_feature_store_spark.operators.windows import (
    TrailingWindowSpec,
    trailing_features,
)
from aml_feature_store_spark.streaming.online_store import OnlineStore
from aml_feature_store_spark.streaming.per_event import run_bounded

SF_DIR = "/root/testdata/sf0.001"
WINDOWS = {"5m": 300, "1h": 3600}


def _batch_reference(spark, src_dir):
    from aml_feature_store_spark.sources import load_table

    df = load_table(spark, src_dir, "events")
    spec = TrailingWindowSpec(windows=WINDOWS)
    out = trailing_features(df, spec)
    cols = ["event_id", "user_id"]
    for w in WINDOWS:
        cols += [f"txn_count_{w}", f"txn_amount_sum_{w}", f"avg_txn_amount_{w}",
                 f"max_txn_amount_{w}", f"min_txn_amount_{w}"]
    return {r["event_id"]: r for r in out.select(*cols).collect()}


def _assert_consistent(stream_rows, want):
    assert len(stream_rows) == len(want)
    for r in stream_rows:
        w = want[r["event_id"]]
        for wname in WINDOWS:
            assert r[f"txn_count_{wname}"] == w[f"txn_count_{wname}"], r["event_id"]
            assert r[f"txn_amount_sum_{wname}"] == pytest.approx(
                w[f"txn_amount_sum_{wname}"], abs=1e-6
            )
            assert r[f"avg_txn_amount_{wname}"] == pytest.approx(
                w[f"avg_txn_amount_{wname}"], rel=1e-9
            )
            assert r[f"max_txn_amount_{wname}"] == w[f"max_txn_amount_{wname}"]
            assert r[f"min_txn_amount_{wname}"] == w[f"min_txn_amount_{wname}"]


def test_stream_equals_batch_single_batch(spark):
    got = run_bounded(
        spark, SF_DIR, WINDOWS, query_name="pe_single"
    ).collect()
    _assert_consistent(got, _batch_reference(spark, SF_DIR))


def test_stream_equals_batch_multi_batch(spark, tmp_path):
    """Split events into time-ordered files → several micro-batches →
    state must carry the buffer across batches."""
    from aml_feature_store_spark.sources import load_table

    src = str(tmp_path / "chunks")
    os.makedirs(src)
    ev = load_table(spark, SF_DIR, "events").orderBy("ts").toPandas()
    n = len(ev)
    # re-encode ts as ns ints to mirror the source layout
    ev["ts"] = (ev["ts"].astype("int64"))
    for i, chunk in enumerate([ev[: n // 3], ev[n // 3 : 2 * n // 3], ev[2 * n // 3 :]]):
        chunk.to_parquet(f"{src}/part{i}.parquet", index=False)
        os.utime(f"{src}/part{i}.parquet", (1e9 + i, 1e9 + i))
    got = run_bounded(
        spark, src, WINDOWS, query_name="pe_multi", max_files_per_trigger=1
    ).collect()
    _assert_consistent(got, _batch_reference(spark, SF_DIR))


def test_burst_scenario(spark, tmp_path):
    """Reference burst scenario (producer/transaction_producer.py:218-243):
    50 txns in 30 s for one customer → count_5m must reach 50."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (i, int((t0 + dt.timedelta(milliseconds=600 * i)).timestamp() * 1e9), 7,
         "purchase", 100.0, "{}")
        for i in range(50)
    ]
    import pandas as pd

    src = str(tmp_path / "burst")
    os.makedirs(src)
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(f"{src}/burst.parquet", index=False)
    got = run_bounded(spark, src, WINDOWS, query_name="pe_burst").collect()
    last = max(got, key=lambda r: r["event_id"])
    assert last["txn_count_5m"] == 50
    assert last["txn_amount_sum_5m"] == pytest.approx(5000.0)


def test_online_store_merge_latest_wins(spark, tmp_path):
    path = str(tmp_path / "online")
    store = OnlineStore(spark, path, entity_col="user_id", ts_col="feature_ts")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    b1 = spark.createDataFrame(
        [(1, t, 10.0), (2, t, 20.0)], "user_id long, feature_ts timestamp, f double"
    )
    store.merge(b1)
    b2 = spark.createDataFrame(
        [(1, t + dt.timedelta(hours=1), 11.0), (3, t, 30.0)],
        "user_id long, feature_ts timestamp, f double",
    )
    store.merge(b2)
    rows = {r["user_id"]: r for r in store.read(ttl_s=10 * 86400).collect()}
    assert rows[1]["f"] == 11.0  # updated
    assert rows[2]["f"] == 20.0 and rows[3]["f"] == 30.0


def test_online_store_ttl_filters_stale(spark, tmp_path):
    path = str(tmp_path / "online_ttl")
    store = OnlineStore(spark, path, entity_col="user_id", ts_col="feature_ts")
    t = dt.datetime(2024, 1, 2, 12, 0, 0)
    store.merge(
        spark.createDataFrame(
            [(1, t, 1.0), (2, t - dt.timedelta(days=2), 2.0)],
            "user_id long, feature_ts timestamp, f double",
        )
    )
    live = {r["user_id"] for r in store.read(ttl_s=86400).collect()}
    assert live == {1}
    # point lookup J1
    assert store.lookup([1]).count() == 1
    assert store.lookup([2]).count() == 0


def test_online_store_recovers_half_swap_and_orphans(spark, tmp_path):
    import os
    import shutil

    path = str(tmp_path / "online_rec")
    store = OnlineStore(spark, path, entity_col="user_id", ts_col="feature_ts")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    store.merge(
        spark.createDataFrame(
            [(1, t, 1.0)], "user_id long, feature_ts timestamp, f double"
        )
    )
    # simulate a crash between the two swap renames: table moved to .old,
    # new version never landed, plus an orphan staging dir from the write
    os.rename(path, path + ".old")
    os.makedirs(path + ".staging.deadbeef")
    rows = store.read(ttl_s=10 * 86400).collect()  # recovery rolls back
    assert [r["user_id"] for r in rows] == [1]
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".staging.deadbeef")
    # crash AFTER the swap but before cleanup: .old is a stale previous
    # version next to a live table — recovery must drop .old, keep table
    shutil.copytree(path, path + ".old")
    store.merge(
        spark.createDataFrame(
            [(2, t, 2.0)], "user_id long, feature_ts timestamp, f double"
        )
    )
    assert not os.path.exists(path + ".old")
    assert {r["user_id"] for r in store.read(ttl_s=10 * 86400).collect()} == {1, 2}


def _store_batch(spark, rows):
    """(user_id, feature_ts as epoch µs, f) rows → a store batch; µs ints
    keep sub-millisecond and pre-1970 values exact."""
    return spark.createDataFrame(rows, "user_id long, us long, f double").select(
        "user_id", F.timestamp_micros("us").alias("feature_ts"), "f"
    )


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_online_store_merge_reads_batch_once(spark, tmp_path):
    """Merging into an existing store evaluates the batch's plan once:
    inside foreachBatch that plan is the stream's stateful operator."""
    from pyspark.sql.types import LongType

    store = OnlineStore(spark, str(tmp_path / "once"))
    store.merge(_store_batch(spark, [(1, 0, 1.0), (2, 0, 2.0)]))
    seen = spark.sparkContext.accumulator(0)

    def count(u):
        seen.add(1)
        return u

    counted = F.udf(count, LongType())
    batch = _store_batch(spark, [(1, 5, 1.5), (3, 5, 3.0), (3, 9, 3.5)]).withColumn(
        "user_id", counted("user_id")
    )
    store.merge(batch)
    assert seen.value == 3
    got = {r["user_id"]: r["f"] for r in store.read(ttl_s=86400).collect()}
    assert got == {1: 1.5, 2: 2.0, 3: 3.5}


def test_online_store_job_counts(spark, tmp_path):
    """A lookup is one scan-and-filter job (no schema inference, no max
    aggregate); a merge into an existing store runs at most 3 jobs."""
    store = OnlineStore(spark, str(tmp_path / "jobs"))
    store.merge(_store_batch(spark, [(i, i, float(i)) for i in range(20)]))
    n_merge = _jobs_in_group(
        spark, "os_merge",
        lambda: store.merge(_store_batch(spark, [(i, 100 + i, 0.0) for i in range(10, 30)])),
    )
    assert 1 <= n_merge <= 3
    n_lookup = _jobs_in_group(spark, "os_lookup", lambda: store.lookup([1, 12, 25]).collect())
    assert n_lookup == 1
    assert {r["user_id"] for r in store.lookup([1, 12, 25]).collect()} == {1, 12, 25}


def test_online_store_null_key_is_one_key(spark, tmp_path):
    """NULL entity keys group like any other key: two merges with NULL-key
    rows leave one NULL-key row, the later batch's."""
    store = OnlineStore(spark, str(tmp_path / "nullkey"))
    store.merge(_store_batch(spark, [(None, 10, 1.0), (None, 20, 2.0), (1, 10, 1.0)]))
    store.merge(_store_batch(spark, [(None, 5, 3.0), (2, 10, 2.0)]))
    rows = store.read(ttl_s=86400).collect()
    nulls = [r for r in rows if r["user_id"] is None]
    assert [r["f"] for r in nulls] == [3.0]  # batch row wins over a newer stored one
    assert sorted(r["user_id"] for r in rows if r["user_id"] is not None) == [1, 2]


@pytest.mark.parametrize("now_us", [
    1_704_196_800_000_700,  # 2024-01-02 12:00:00.000700
    -3_599_999_750,  # 1969-12-31 23:00:00.000250
])
def test_online_store_ttl_boundary_matches_aggregate_now(spark, tmp_path, now_us):
    """The stored max_ts_us gives the same default `now`, to the µs, as
    the max(feature_ts) aggregate read from the data: same rows at the
    TTL edge, with sub-millisecond and pre-1970 timestamps."""
    ttl = 3600
    edge = now_us - ttl * 1_000_000
    offsets = [0, 1, -1, -250, -251, -700, -701, -1000, -1001, -2000]
    rows = [(0, now_us, 0.0)] + [
        (i + 1, edge + d, float(i)) for i, d in enumerate(offsets)
    ]
    path = str(tmp_path / "ttl_edge")
    store = OnlineStore(spark, path)
    store.merge(_store_batch(spark, rows))
    got = {r["user_id"] for r in store.read(ttl_s=ttl).collect()}
    df = spark.read.parquet(path)
    mx = df.agg(F.max("feature_ts")).collect()[0][0]
    want = {
        r["user_id"]
        for r in df.filter(
            F.unix_millis(F.lit(mx)) - F.unix_millis("feature_ts") <= ttl * 1000
        ).collect()
    }
    assert got == want
    with open(os.path.join(path, "_meta.json")) as f:
        assert json.load(f)["max_ts_us"] == now_us
    assert {0, 1, 2} <= got  # the row exactly `ttl` old is live
    assert got != {r[0] for r in rows}  # and the edge does cut


def test_online_store_half_swap_restores_meta_with_data(spark, tmp_path):
    """A crash between the swap renames rolls back the previous version's
    data AND its _meta.json, not the interrupted version's."""
    path = str(tmp_path / "meta_swap")
    store = OnlineStore(spark, path)
    day = 86_400_000_000
    store.merge(_store_batch(spark, [(1, 0, 1.0), (2, 0, 2.0)]))
    store.merge(_store_batch(spark, [(2, 2 * day, 2.5)]))
    # the interrupted version: a later max ts and another user set
    other = OnlineStore(spark, str(tmp_path / "other"))
    other.merge(_store_batch(spark, [(9, 9 * day, 9.0)]))
    os.rename(path, path + ".old")
    shutil.copytree(other.path, path + ".staging.deadbeef")

    rows = {r["user_id"]: r["f"] for r in store.read(ttl_s=86400).collect()}
    assert rows == {2: 2.5}  # v2's max is the TTL anchor; user 1 expired
    with open(os.path.join(path, "_meta.json")) as f:
        assert json.load(f)["max_ts_us"] == 2 * day
    assert not os.path.exists(path + ".staging.deadbeef")


def test_online_store_without_meta_fails_fast(spark, tmp_path):
    path = str(tmp_path / "nometa")
    store = OnlineStore(spark, path)
    store.merge(_store_batch(spark, [(1, 0, 1.0)]))
    meta = os.path.join(path, "_meta.json")
    os.remove(meta)
    with pytest.raises(FileNotFoundError, match=re.escape(meta)):
        store.read()
    with pytest.raises(FileNotFoundError, match=re.escape(meta)):
        store.merge(_store_batch(spark, [(2, 0, 2.0)]))


def test_online_store_empty_batch(spark, tmp_path):
    """An empty first batch makes an empty store with a null max ts; the
    next merge fills it."""
    store = OnlineStore(spark, str(tmp_path / "empty"))
    store.merge(_store_batch(spark, []))
    assert store.read().count() == 0
    store.merge(_store_batch(spark, [(1, 0, 1.0)]))
    assert [r["user_id"] for r in store.read().collect()] == [1]


def test_online_store_read_schema_matches_parquet(spark, tmp_path):
    """The schema from _meta.json reads the table exactly as Parquet
    schema inference would, after a first merge and after a later one."""
    store = OnlineStore(spark, str(tmp_path / "schema"))
    batch = spark.range(3).select(
        F.col("id").alias("user_id"),
        F.timestamp_micros("id").alias("feature_ts"),
        F.lit("x").alias("s"),
    )
    for _ in range(2):
        store.merge(batch)
        assert store.read().schema == spark.read.parquet(store.path).schema


def test_run_bounded_only_shrinks_shuffle_partitions(spark, tmp_path, monkeypatch):
    """run_bounded's partition pin is min(current, cores, buckets): it
    never raises spark.sql.shuffle.partitions and restores it after."""
    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = str(tmp_path / "pin")
    os.makedirs(src)
    pd.DataFrame(
        [(i, int((t0 + dt.timedelta(seconds=i)).timestamp() * 1e9), i % 3,
          "purchase", 1.0, "{}") for i in range(30)],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(f"{src}/e.parquet", index=False)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    conf = spark.conf
    seen = []
    real_set = conf.set

    def spy(k, v):
        if k == key:
            seen.append(int(v))
        real_set(k, v)

    monkeypatch.setattr(conf, "set", spy)
    try:
        got = run_bounded(spark, src, WINDOWS, query_name="pe_pin").collect()
        assert spark.conf.get(key) == "2"
    finally:
        monkeypatch.undo()
        spark.conf.set(key, prev)
    assert len(got) == 30
    assert seen and max(seen) <= 2


def test_adaptive_buckets_empty_dir_gets_default(tmp_path):
    from aml_feature_store_spark.streaming.per_event import (
        DEFAULT_BUCKETS,
        _adaptive_buckets,
    )

    assert _adaptive_buckets(str(tmp_path)) == DEFAULT_BUCKETS


def test_sliding_features_bounded_stream(spark, tmp_path):
    """Sliding-window streaming agg runs to completion and produces per
    (window, user) rows consistent with a batch groupBy."""
    from aml_feature_store_spark.sources import load_table
    from aml_feature_store_spark.sources.tables import stream_events
    from aml_feature_store_spark.streaming.sliding import tumbling_rollup

    # restrict the file-stream to events.parquet only via exact dir: copy
    src = str(tmp_path / "ev")
    os.makedirs(src)
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), src)
    events = stream_events(spark, src)
    out = tumbling_rollup(events, length="10 minutes")
    ckpt = tempfile.mkdtemp(prefix="ckpt_slide_")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("slide_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("slide_out")
    batch = load_table(spark, SF_DIR, "events").groupBy(
        F.window("ts", "10 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    # append-mode emits only windows closed by the watermark; every emitted
    # row must match the batch computation (subset equality)
    got_map = {
        (r["window_start"], r["user_id"]): r["txn_count"] for r in got.collect()
    }
    assert len(got_map) > 0
    batch_map = {
        (r["w"]["start"], r["user_id"]): r["n"] for r in batch.collect()
    }
    for k, v in got_map.items():
        assert batch_map[k] == v, k


def test_dual_sink_topology(spark, tmp_path):
    """T2: ONE input stream drives BOTH keyed feature families (customer +
    merchant) through foreachBatch into two online stores — the
    reference's dual key_by topology (aml_stream_processor.py:363-370)."""
    from aml_feature_store_spark.streaming.online_store import OnlineStore

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), src)
    from aml_feature_store_spark.sources.tables import stream_events

    events = stream_events(spark, src)

    cust = OnlineStore(spark, str(tmp_path / "cust"), "user_id", "feature_ts")
    merch = OnlineStore(spark, str(tmp_path / "merch"), "event_type", "feature_ts")

    def route(batch_df, _epoch):
        c = batch_df.groupBy("user_id").agg(
            F.max("ts").alias("feature_ts"),
            F.count(F.lit(1)).alias("txn_count"),
            F.sum(F.col("value").cast("decimal(25,2)")).cast("double").alias(
                "txn_amount_sum"
            ),
        )
        m = batch_df.groupBy("event_type").agg(
            F.max("ts").alias("feature_ts"),
            F.count(F.lit(1)).alias("txn_count"),
            F.countDistinct("user_id").alias("unique_customers"),
        )
        cust.merge(c)
        merch.merge(m)

    q = (
        events.writeStream.foreachBatch(route)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_dual_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    c_rows = cust.read(ttl_s=100 * 86400)
    m_rows = {r["event_type"]: r for r in merch.read(ttl_s=100 * 86400).collect()}
    assert c_rows.count() == 15  # sf0.001 has 15 users
    assert set(m_rows) == {"click", "error", "purchase", "signup", "view"}
    assert all(r["unique_customers"] <= 15 for r in m_rows.values())


def test_long_span_replay_chunks_internally(spark, tmp_path):
    """A bounded replay spanning > 2^34 ms (~199 days) must succeed via
    the processor's internal time-chunking (r4 ADVICE: the old guard
    failed any >6.5-month replay) and still equal the batch computation."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    rows = []
    eid = 0
    # clusters of events every ~12h across 450 days: spans 3 composite
    # chunks, with clusters straddling whichever boundary lands mid-range
    for c in range(900):
        base = t0 + c * 12 * 3600_000 + int(rng.integers(0, 3600_000))
        for j in range(3):
            ms = base + int(rng.integers(0, 7200_000))
            rows.append((eid, ms * 1_000_000, int(rng.integers(1, 4)),
                         "purchase", float(rng.integers(1, 10_000)) / 100, "{}"))
            eid += 1
    src = str(tmp_path / "longspan")
    os.makedirs(src)
    ref = str(tmp_path / "longspan_ref")
    os.makedirs(ref)
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf.to_parquet(f"{src}/events_long.parquet", index=False)
    pdf.to_parquet(f"{ref}/events.parquet", index=False)
    span_days = (max(r[1] for r in rows) - min(r[1] for r in rows)) / 86400e9
    assert span_days > 199 * 2  # genuinely multi-chunk
    got = run_bounded(spark, src, WINDOWS, query_name="pe_longspan").collect()
    _assert_consistent(got, _batch_reference(spark, ref))


def test_long_span_state_parking_across_batches(spark, tmp_path):
    """Late-arriving batch whose events predate existing state by > one
    composite segment: newer state rows are parked past the chunk horizon
    and re-merged, and results still match the batch reference."""
    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    far = t0 + dt.timedelta(days=300)

    def ns(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e9)

    # file 0 (first micro-batch): events at T+300d -> becomes state
    f0 = [(i, ns(far + dt.timedelta(seconds=30 * i)), 1, "purchase", 10.0, "{}")
          for i in range(5)]
    # file 1 (second micro-batch): late events at T plus follow-ups at
    # T+300d+30m (whose 1h frames must see the file-0 state rows)
    f1 = [(10 + i, ns(t0 + dt.timedelta(seconds=60 * i)), 1, "purchase", 5.0, "{}")
          for i in range(5)]
    f1 += [(20 + i, ns(far + dt.timedelta(minutes=30, seconds=30 * i)), 1,
            "purchase", 7.0, "{}") for i in range(3)]
    src = str(tmp_path / "parking")
    os.makedirs(src)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, part in enumerate([f0, f1]):
        pd.DataFrame(part, columns=cols).to_parquet(
            f"{src}/part{i}.parquet", index=False)
        os.utime(f"{src}/part{i}.parquet", (1e9 + i, 1e9 + i))
    ref = str(tmp_path / "parking_ref")
    os.makedirs(ref)
    pd.DataFrame(f0 + f1, columns=cols).to_parquet(
        f"{ref}/events.parquet", index=False)
    got = run_bounded(
        spark, src, WINDOWS, query_name="pe_parking", max_files_per_trigger=1
    ).collect()
    _assert_consistent(got, _batch_reference(spark, ref))
    by_id = {r["event_id"]: r for r in got}
    # the follow-ups at +30m see the five file-0 rows in their 1h frame
    assert by_id[20]["txn_count_1h"] == 6
    assert by_id[22]["txn_count_1h"] == 8


def test_kafka_topology_file_source_e2e(spark, tmp_path):
    """S3/S4 end-to-end minus the broker (the connector jar is absent in
    this container): events are serialized through the Kafka SINK half
    (to_kafka_records -> entity key + JSON value, binary on the wire),
    the record log is replayed through an actual readStream file source,
    parsed back through the SOURCE half (parse_kafka_value), fed to the
    per-event stateful processor, and must equal the batch reference —
    the full topology of flink_job/aml_stream_processor.py:340-370 with
    the broker replaced by a durable record log."""
    from aml_feature_store_spark.schemas import EVENTS
    from aml_feature_store_spark.sources import load_table
    from aml_feature_store_spark.sources.kafka import (
        parse_kafka_value,
        to_kafka_records,
    )
    from aml_feature_store_spark.streaming.per_event import (
        output_schema,
        per_event_features,
    )

    events = load_table(spark, SF_DIR, "events")
    # per-key ordering guarantee of the keyed topic: write the log in
    # event-time order split across files -> several micro-batches
    log_dir = str(tmp_path / "topic_log")
    with_ts = to_kafka_records(events, key_col="user_id").select(
        "key", F.col("value").cast("binary").alias("value"),
        F.get_json_object(F.col("value").cast("string"), "$.ts").alias("_ts"),
    )
    pdf = with_ts.orderBy("_ts").toPandas()[["key", "value"]]
    os.makedirs(log_dir)
    n = len(pdf)
    for i, chunk in enumerate([pdf[: n // 2], pdf[n // 2 :]]):
        chunk.to_parquet(f"{log_dir}/part{i}.parquet", index=False)
        os.utime(f"{log_dir}/part{i}.parquet", (1e9 + i, 1e9 + i))

    raw = (
        spark.readStream.schema("key string, value binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir)
    )
    parsed = parse_kafka_value(raw, EVENTS)
    assert parsed.isStreaming
    out = per_event_features(parsed, WINDOWS)
    dst = str(tmp_path / "out")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.schema(output_schema(WINDOWS)).parquet(dst).collect()
    _assert_consistent(got, _batch_reference(spark, SF_DIR))


def test_extended_vector_multi_batch_state_carry(spark, tmp_path):
    """The extended per-event vector (std/velocity/night/weekend/exact
    distinct-category) must be identical whether the log arrives as one
    micro-batch or three — distinct-count state (category rows + their
    previous occurrences) carries across batches. Single-batch output is
    oracle-certified (streaming_per_event_extended), so equality here
    extends that certificate to the incremental path."""
    from aml_feature_store_spark.sources import load_table

    single = {
        r["event_id"]: r
        for r in run_bounded(
            spark, SF_DIR, WINDOWS, query_name="pex_single", extended=True
        ).collect()
    }
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    ev = load_table(spark, SF_DIR, "events").orderBy("ts").toPandas()
    ev["ts"] = ev["ts"].astype("int64")
    n = len(ev)
    for i, chunk in enumerate(
        [ev[: n // 3], ev[n // 3 : 2 * n // 3], ev[2 * n // 3 :]]
    ):
        chunk.to_parquet(f"{src}/part{i}.parquet", index=False)
        os.utime(f"{src}/part{i}.parquet", (1e9 + i, 1e9 + i))
    multi = run_bounded(
        spark, src, WINDOWS, query_name="pex_multi",
        max_files_per_trigger=1, extended=True,
    ).collect()
    assert len(multi) == len(single)
    for r in multi:
        w = single[r["event_id"]]
        for c in r.asDict():
            assert r[c] == pytest.approx(w[c], rel=1e-12), (r["event_id"], c)
    # sanity: the distinct column actually varies (not degenerate)
    assert len({r["unique_k_1h"] for r in multi}) > 1


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same events arrive again in a
    LATER micro-batch (maxFilesPerTrigger=1 forces the boundary) and must
    not be re-emitted — one row per event_id, first-seen wins."""
    import pandas as pd

    log_dir = str(tmp_path / "dup_log")
    os.makedirs(log_dir)
    base = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "user_id": [10, 10, 11],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:00", "2026-01-01 00:01:00",
                 "2026-01-01 00:02:00"]
            ).astype("datetime64[us]"),  # Spark reads micros, not nanos
            "event_type": ["a", "b", "a"],
            "value": [1.0, 2.0, 3.0],
        }
    )
    for i, chunk in enumerate([base, base]):  # identical payload twice
        chunk.to_parquet(f"{log_dir}/part{i}.parquet", index=False)
        os.utime(f"{log_dir}/part{i}.parquet", (1e9 + i, 1e9 + i))

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir)
    )
    deduped = stream.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out_dir = str(tmp_path / "out")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.schema(deduped.schema).parquet(out_dir).collect()
    assert sorted(r["event_id"] for r in got) == [1, 2, 3]


def test_prev_occurrence_hash_path_equals_lexsort_path():
    """The adaptive `_prev_occurrence` (r6) must give identical chains on
    its hash-grouped path (state >> batch, the steady-state asymptotic
    fix) and its lexsort path (batch-dominated replay), including ties
    (equal composite, same category → buffer order defines the chain)."""
    import numpy as np

    from aml_feature_store_spark.streaming.per_event import (
        _TS_SPAN,
        _prev_occurrence,
    )

    rng = np.random.default_rng(7)
    n = 5000
    tidx = np.sort(rng.integers(0, 40, n))
    off = rng.integers(0, 10_000, n)  # small range → plenty of ties
    comp = np.sort(tidx * _TS_SPAN + off)
    cat = rng.integers(-1, 8, n)
    # nb = n forces the lexsort path; nb tiny forces the hash path
    via_sort = _prev_occurrence(comp, cat, nb=n)
    via_hash = _prev_occurrence(comp, cat, nb=1)
    assert np.array_equal(via_sort, via_hash)
    # spot-check the contract itself on a brute-force oracle
    for i in rng.integers(0, n, 50):
        prev = [
            j
            for j in range(i)
            if cat[j] == cat[i] and tidx[j] == tidx[i]
        ]
        expect = prev[-1] if prev else -1
        assert via_sort[i] == expect, (i, via_sort[i], expect)
