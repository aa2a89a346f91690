"""Unit tests for trailing-window features on hand-computed tiny frames."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from aml_feature_store_spark.operators.windows import (
    TrailingWindowSpec,
    trailing_features,
)

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(i, T0 + dt.timedelta(seconds=s), u, v) for i, (s, u, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, value double",
    )


def _trailing_features_columns(df, spec):
    """The pre-r12 Column-by-Column spelling of trailing_features, kept
    as the bit-equality reference for the batched selectExpr spelling
    (the rewrite is a plan-BUILD optimization; values must not move)."""
    from pyspark.sql import Window
    from aml_feature_store_spark.operators.windows import DEC, DEC4, _ms

    out = df.withColumn("_ts_ms", _ms(spec.ts_col))
    amt_dec = F.col(spec.amount_col).cast(DEC)
    amt_sq_dec = (F.col(spec.amount_col) * F.col(spec.amount_col)).cast(DEC4)
    base = Window.partitionBy(spec.entity_col).orderBy(F.col("_ts_ms"))
    for wname, wsecs in spec.windows.items():
        w = base.rangeBetween(-wsecs * 1000, 0)
        n = F.count(F.lit(1)).over(w)
        s = F.sum(amt_dec).over(w).cast("double")
        s2 = F.sum(amt_sq_dec).over(w).cast("double")
        mean = s / n
        var = F.greatest(s2 / n - mean * mean, F.lit(0.0))
        cols = {
            f"txn_count_{wname}": n,
            f"txn_amount_sum_{wname}": s,
            f"avg_txn_amount_{wname}": mean,
            f"max_txn_amount_{wname}": F.max(spec.amount_col).over(w),
            f"min_txn_amount_{wname}": F.min(spec.amount_col).over(w),
            f"std_txn_amount_{wname}": F.round(F.sqrt(var), 6),
            f"velocity_score_{wname}": n.cast("double")
            / F.lit(wsecs / spec.velocity_unit_s),
        }
        for dcol in spec.distinct_cols:
            if spec.distinct_exact:
                dexpr = F.size(F.collect_set(dcol).over(w)).cast("long")
            else:
                dexpr = F.approx_count_distinct(dcol, 0.02).over(w)
            cols[f"unique_{dcol}_{wname}"] = dexpr
        out = out.withColumns(cols)
    return out.drop("_ts_ms")


def test_selectexpr_spelling_equals_column_spelling(spark):
    """The r12 batched-selectExpr build must be bit-equal (values, names,
    dtypes, row multiplicity) to the Column spelling across all six
    windows, exact and approximate distincts, and awkward values
    (zero-variance frames, negative amounts, timestamp ties)."""
    rows = [
        (0, 1, 10.0), (30, 1, 10.0), (30, 1, -3.25), (3601, 1, 40.0),
        (90000, 1, 7.5), (0, 2, 0.01), (59, 2, 0.01), (86460, 2, 100.0),
    ]
    df = _mk(spark, rows).withColumn(
        "event_type", (F.col("event_id") % 3).cast("string")
    )
    for exact in (True, False):
        spec = TrailingWindowSpec(
            distinct_cols=("event_type",), distinct_exact=exact
        )
        new = trailing_features(df, spec)
        ref = _trailing_features_columns(df, spec)
        assert new.schema == ref.schema
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, ref.collect())
        )


def test_trailing_counts_and_sums(spark):
    # user 1: events at t=0, 30s, 3601s. 1h window at the 3rd event must
    # include only events within [ts-3600s, ts] → itself + t=30s event.
    df = _mk(spark, [(0, 1, 10.0), (30, 1, 20.0), (3601, 1, 40.0)])
    spec = TrailingWindowSpec(windows={"1h": 3600})
    out = {
        r["event_id"]: r
        for r in trailing_features(df, spec).collect()
    }
    assert out[0]["txn_count_1h"] == 1
    assert out[1]["txn_count_1h"] == 2
    assert out[1]["txn_amount_sum_1h"] == 30.0
    assert out[2]["txn_count_1h"] == 2  # t=30s dropped (3601-3600 > 30? no: 1 <= 30 → kept)
    # window is inclusive [ts-W, ts]: at t=3601 cutoff is 1 → event at 30 kept
    assert out[2]["txn_amount_sum_1h"] == 60.0


def test_window_boundary_inclusive(spark):
    # event exactly W seconds earlier is INSIDE the frame (inclusive bound)
    df = _mk(spark, [(0, 1, 5.0), (3600, 1, 7.0)])
    spec = TrailingWindowSpec(windows={"1h": 3600})
    out = sorted(trailing_features(df, spec).collect(), key=lambda r: r["event_id"])
    assert out[1]["txn_count_1h"] == 2
    assert out[1]["txn_amount_sum_1h"] == 12.0


def test_users_partitioned_independently(spark):
    df = _mk(spark, [(0, 1, 5.0), (1, 2, 100.0), (2, 1, 5.0)])
    spec = TrailingWindowSpec(windows={"1m": 60})
    out = {r["event_id"]: r for r in trailing_features(df, spec).collect()}
    assert out[1]["txn_count_1m"] == 1
    assert out[2]["txn_count_1m"] == 2
    assert out[2]["txn_amount_sum_1m"] == 10.0


def test_backtick_in_amount_column_name(spark):
    """Column names go into SQL strings quoted; an embedded backtick must
    be escaped, not end the quoted identifier."""
    df = _mk(spark, [(0, 1, 5.0), (30, 1, 7.0)]).withColumnRenamed("value", "am`t")
    spec = TrailingWindowSpec(windows={"1h": 3600}, amount_col="am`t")
    out = sorted(trailing_features(df, spec).collect(), key=lambda r: r["event_id"])
    assert [r["am`t"] for r in out] == [5.0, 7.0]
    assert out[1]["txn_amount_sum_1h"] == 12.0
    assert out[1]["max_txn_amount_1h"] == 7.0


def test_std_and_velocity(spark):
    df = _mk(spark, [(0, 1, 10.0), (10, 1, 20.0)])
    spec = TrailingWindowSpec(windows={"1h": 3600})
    out = {r["event_id"]: r for r in trailing_features(df, spec).collect()}
    # population stddev of {10,20} = 5
    assert out[1]["std_txn_amount_1h"] == pytest.approx(5.0)
    assert out[0]["std_txn_amount_1h"] == 0.0
    # velocity = count per hour-equivalent window: 2 events / 1h
    assert out[1]["velocity_score_1h"] == pytest.approx(2.0)


def test_distinct_counts(spark):
    rows = [
        (0, 1, "a"),
        (10, 1, "b"),
        (20, 1, "a"),
        (4000, 1, "c"),
    ]
    df = spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(seconds=s), u, 1.0, m)
            for i, (s, u, m) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, value double, event_type string",
    )
    spec = TrailingWindowSpec(windows={"1h": 3600}, distinct_cols=("event_type",))
    out = {r["event_id"]: r for r in trailing_features(df, spec).collect()}
    assert out[2]["unique_event_type_1h"] == 2
    # cutoff at t=4000 is t=400 → events at 0/10/20 evicted; frame = {c}
    assert out[3]["unique_event_type_1h"] == 1


def test_distinct_counts_eviction(spark):
    rows = [(0, 1, "a"), (10, 1, "b"), (4000, 1, "c")]
    df = spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(seconds=s), u, 1.0, m)
            for i, (s, u, m) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, value double, event_type string",
    )
    spec = TrailingWindowSpec(windows={"1h": 3600}, distinct_cols=("event_type",))
    out = {r["event_id"]: r for r in trailing_features(df, spec).collect()}
    assert out[1]["unique_event_type_1h"] == 2
    assert out[2]["unique_event_type_1h"] == 1


def test_scalable_full_strategy_bit_identical(spark):
    """trailing_features_scalable must reproduce trailing_features
    bit-for-bit on every metric (the auto planner's correctness
    contract)."""
    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        trailing_features,
        trailing_features_scalable,
    )
    from aml_feature_store_spark.sources import load_table

    spec = TrailingWindowSpec(windows={"5m": 300, "1h": 3600, "24h": 86400})
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    cols = ["event_id"] + [
        f"{m}_{w}"
        for w in spec.windows
        for m in (
            "txn_count", "txn_amount_sum", "avg_txn_amount",
            "max_txn_amount", "min_txn_amount", "std_txn_amount",
            "velocity_score",
        )
    ]
    a = {r["event_id"]: r for r in trailing_features(df, spec).select(*cols).collect()}
    b = {r["event_id"]: r for r in trailing_features_scalable(df, spec).select(*cols).collect()}
    assert set(a) == set(b) and len(a) == 1000
    for eid, ra in a.items():
        rb = b[eid]
        for c in cols:
            assert ra[c] == rb[c], (eid, c, ra[c], rb[c])


def test_auto_strategy_picks_by_density(spark):
    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        trailing_features_auto,
    )
    from aml_feature_store_spark.sources import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "events")
    spec = TrailingWindowSpec(windows={"24h": 86400})
    # sf0.001: 1000 events / 150 users / 30d -> ~0.2 rows per 24h frame
    sparse = trailing_features_auto(df, spec)
    assert "_win" not in sparse.columns  # WindowExec path
    # force the dense path with a tiny threshold; results must still match
    dense = trailing_features_auto(df, spec, frame_rows_threshold=0)
    a = {r["event_id"]: r["txn_count_24h"] for r in sparse.collect()}
    b = {r["event_id"]: r["txn_count_24h"] for r in dense.collect()}
    assert a == b


def test_flag_counts_scalable_bit_identical(spark, monkeypatch):
    """trailing_flag_counts == range-frame conditional sums on both
    routes: cum+probe (threshold 0) and the WindowExec plan (10⁹)."""
    from pyspark.sql import Window

    from aml_feature_store_spark.operators import windows
    from aml_feature_store_spark.sources import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "events")
    night = (F.hour("ts") < 6) | (F.hour("ts") > 22)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis(F.col("ts")))
        .rangeBetween(-86400000, 0)
    )
    want = {
        r["event_id"]: r
        for r in df.select(
            "event_id",
            F.count(F.lit(1)).over(w).alias("cnt"),
            F.sum(F.when(night, 1).otherwise(0)).over(w).alias("night"),
        ).collect()
    }
    assert len(want) == 1000
    for threshold, cum_probe in ((0, True), (10**9, False)):
        monkeypatch.setattr(windows, "AUTO_FRAME_ROWS_THRESHOLD", threshold)
        out = windows.trailing_flag_counts(df, {"night": night}, 86400)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("_probe" in plan) == cum_probe, threshold
        assert out.columns == ["event_id", "user_id", "cnt", "night"]
        got = {r["event_id"]: r for r in out.collect()}
        assert set(got) == set(want)
        for eid, rw in want.items():
            assert (got[eid]["cnt"], got[eid]["night"]) == (rw["cnt"], rw["night"])


def test_routed_queries_equal_on_both_routes(spark, monkeypatch):
    """The queries whose density router lives in windows.py return the
    same rows on the WindowExec route (threshold 10⁹) and on the O(rows)
    route (threshold 0): the router reads AUTO_FRAME_ROWS_THRESHOLD at
    call time, so patching it switches every one of them."""
    from aml_feature_store_spark.catalog import queries
    from aml_feature_store_spark.operators import windows

    qs = queries()
    for name in ("conditional_window_counts", "unique_counts_windows",
                 "windowed_hhi_24h"):
        outs = {}
        for threshold in (10**9, 0):
            monkeypatch.setattr(windows, "AUTO_FRAME_ROWS_THRESHOLD", threshold)
            df = qs[name](spark, "/root/testdata/sf0.001")
            plan = df._jdf.queryExecution().executedPlan().toString()
            outs[threshold] = (plan, sorted(map(tuple, df.collect())))
        (p_sparse, r_sparse), (p_dense, r_dense) = outs[10**9], outs[0]
        assert p_sparse != p_dense, name
        assert len(r_sparse) == 1000 and r_sparse == r_dense, name


def test_bucketized_bit_identical(spark):
    """Hot-entity time-bucketization (literal carry stitching) must
    reproduce trailing_features bit-for-bit on every metric — forced on
    for EVERY entity with a tiny bucket count so cross-bucket carries,
    bucket-edge chunks, and empty buckets all exercise."""
    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        hot_entity_cuts,
        trailing_features,
        trailing_features_scalable,
    )
    from aml_feature_store_spark.sources import load_table

    spec = TrailingWindowSpec(windows={"5m": 300, "1h": 3600, "24h": 86400})
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    hb = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=1, buckets=4,
                         cap=1000)
    assert hb is not None and len(hb.ents) > 1
    cols = ["event_id"] + [
        f"{m}_{w}"
        for w in spec.windows
        for m in (
            "txn_count", "txn_amount_sum", "avg_txn_amount",
            "max_txn_amount", "min_txn_amount", "std_txn_amount",
            "velocity_score",
        )
    ]
    a = {r["event_id"]: r for r in
         trailing_features(df, spec).select(*cols).collect()}
    b = {r["event_id"]: r for r in
         trailing_features_scalable(df, spec, hot_buckets=hb)
         .select(*cols).collect()}
    assert set(a) == set(b) and len(a) == 1000
    for eid, ra in a.items():
        for c in cols:
            assert ra[c] == b[eid][c], (eid, c, ra[c], b[eid][c])


def test_bucketized_ties_and_markers(spark):
    """Bucketized equality on the adversarial shapes: (a) heavy
    timestamp ties around bucket edges (range-frame peers must never
    split); (b) exact windowed distincts (interval markers carry across
    buckets)."""
    import datetime as dt
    import random

    from aml_feature_store_spark.operators.windows import (
        HotBucketSpec,
        TrailingWindowSpec,
        hot_entity_cuts,
        trailing_features,
        trailing_features_scalable,
    )
    from aml_feature_store_spark.sources import load_table

    T0 = dt.datetime(2024, 1, 1)
    random.seed(7)
    rows = []
    for i in range(2000):
        s = random.choice([0, 100, 100, 3600, 3600, 3600, 7200, 86400,
                           86400, 90000, 90000, 180000])
        rows.append((i, T0 + dt.timedelta(seconds=s), 1,
                     float(random.choice([5, 10, 20]))))
    for i in range(2000, 2100):
        rows.append((i, T0 + dt.timedelta(seconds=random.randint(0, 180000)),
                     2, float(random.randint(1, 50))))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    spec = TrailingWindowSpec(windows={"5m": 300, "1h": 3600, "24h": 86400})
    # hand-pinned cuts so a tie group and a 24h chunk both straddle edges
    hb = HotBucketSpec(
        buckets=5,
        ents={1: (1704067200000 - 86400001, (180001000 + 2 * 86400002) // 5)},
    )
    cols = ["event_id"] + [
        f"{m}_{w}"
        for w in spec.windows
        for m in ("txn_count", "txn_amount_sum", "avg_txn_amount",
                  "max_txn_amount", "min_txn_amount", "std_txn_amount")
    ]
    a = {r["event_id"]: r for r in
         trailing_features(df, spec).select(*cols).collect()}
    b = {r["event_id"]: r for r in
         trailing_features_scalable(df, spec, hot_buckets=hb)
         .select(*cols).collect()}
    assert set(a) == set(b) and len(a) == 2100
    for eid, ra in a.items():
        for c in cols:
            assert ra[c] == b[eid][c], (eid, c, ra[c], b[eid][c])

    tdf = load_table(spark, "/root/testdata/sf0.001", "events")
    mspec = TrailingWindowSpec(
        entity_col="event_type",
        windows={"1h": 3600, "24h": 86400},
        distinct_cols=("user_id",),
    )
    mhb = hot_entity_cuts(tdf, "event_type", "ts", 86400, min_rows=1,
                          buckets=8, cap=100)
    mcols = ["event_id", "txn_count_1h", "unique_user_id_1h",
             "txn_count_24h", "unique_user_id_24h", "max_txn_amount_24h",
             "std_txn_amount_24h", "min_txn_amount_1h"]
    ma = {r["event_id"]: r for r in
          trailing_features(tdf, mspec).select(*mcols).collect()}
    mb = {r["event_id"]: r for r in
          trailing_features_scalable(tdf, mspec, hot_buckets=mhb)
          .select(*mcols).collect()}
    assert set(ma) == set(mb) and len(ma) == 1000
    for eid, ra in ma.items():
        for c in mcols:
            assert ra[c] == mb[eid][c], (eid, c, ra[c], mb[eid][c])


def test_sums_cumsum_bucketized_bit_identical(spark):
    """The sums query's code path — trailing_features_scalable projected
    to count/sum/avg/velocity — with hot-entity bucketization must equal
    its unbucketized self (and thus the frame-based operator)."""
    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        hot_entity_cuts,
        trailing_features_scalable,
    )
    from aml_feature_store_spark.sources import load_table

    spec = TrailingWindowSpec(windows={"5m": 300, "1h": 3600, "24h": 86400})
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    hb = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=1, buckets=4,
                         cap=1000)
    cols = ["event_id"] + [
        f"{m}_{w}"
        for w in spec.windows
        for m in ("txn_count", "txn_amount_sum", "avg_txn_amount",
                  "velocity_score")
    ]
    a = {r["event_id"]: r for r in
         trailing_features_scalable(df, spec).select(*cols).collect()}
    b = {r["event_id"]: r for r in
         trailing_features_scalable(df, spec, hot_buckets=hb)
         .select(*cols).collect()}
    assert set(a) == set(b) and len(a) == 1000
    for eid, ra in a.items():
        for c in cols:
            assert ra[c] == b[eid][c], (eid, c, ra[c], b[eid][c])


# entity / distinct values the stitch must survive: SQL quote, escape
# and backtick characters, and the parser's ${var} substitution syntax
_ODD = "it's \\ `x`"
_ODD_VAR = "${x}"


def _three_way(df, spec, hb, cols, n):
    """trailing_features == unbucketized == bucketized, bit for bit."""
    from aml_feature_store_spark.operators.windows import (
        trailing_features,
        trailing_features_scalable,
    )

    outs = [
        trailing_features(df, spec),
        trailing_features_scalable(df, spec),
        trailing_features_scalable(df, spec, hot_buckets=hb),
    ]
    ref, *others = [
        {r["event_id"]: r for r in o.select(*cols).collect()} for o in outs
    ]
    assert len(ref) == n
    for other in others:
        assert set(other) == set(ref)
        for eid, ra in ref.items():
            for c in cols:
                assert ra[c] == other[eid][c], (eid, c, ra[c], other[eid][c])


def test_bucketized_degenerate_keys_bit_identical(spark):
    """The bucketized plan on degenerate keys: a NULL user_id among the
    hot entities (it must ride bucket 0), string entities holding quote,
    backslash, backtick and ${x} characters, and the same strings as
    values of a distinct column."""
    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        hot_entity_cuts,
    )
    from aml_feature_store_spark.sources import load_table

    tdf = load_table(spark, "/root/testdata/sf0.001", "events")
    odd_type = (
        F.when(F.col("event_type") == "view", F.lit(_ODD))
        .when(F.col("event_type") == "click", F.lit(_ODD_VAR))
        .otherwise(F.col("event_type"))
    )
    odd = tdf.withColumn("event_type", odd_type).withColumn(
        "user_id", F.when(F.col("user_id") % 5 != 0, F.col("user_id"))
    )
    spec = TrailingWindowSpec(
        windows={"1h": 3600, "24h": 86400}, distinct_cols=("event_type",)
    )
    hb = hot_entity_cuts(odd, "user_id", "ts", 86400, min_rows=1, buckets=4,
                         cap=1000)
    assert None in hb.ents and len(hb.ents) > 2
    assert odd.filter(F.col("event_type") == _ODD).count() > 0
    cols = ["event_id", "txn_count_1h", "txn_amount_sum_24h",
            "max_txn_amount_1h", "min_txn_amount_24h", "std_txn_amount_24h",
            "unique_event_type_1h", "unique_event_type_24h"]
    _three_way(odd, spec, hb, cols, 1000)

    mspec = TrailingWindowSpec(
        entity_col="event_type",
        windows={"1h": 3600, "24h": 86400},
        distinct_cols=("user_id",),
    )
    mhb = hot_entity_cuts(odd, "event_type", "ts", 86400, min_rows=1,
                          buckets=8, cap=100)
    assert {_ODD, _ODD_VAR} <= set(mhb.ents)
    mcols = ["event_id", "txn_count_1h", "unique_user_id_1h",
             "txn_count_24h", "unique_user_id_24h", "max_txn_amount_24h",
             "std_txn_amount_24h", "min_txn_amount_1h"]
    _three_way(odd, mspec, mhb, mcols, 1000)


def test_bucketized_build_py4j_flat_in_buckets(spark):
    """The bucketized plan build sends the stitch as SQL text, so its
    py4j traffic does not grow with the bucket count (one ``F.lit`` per
    array element did: 8 hot entities cost ~25k commands at 4 buckets
    and ~84k at 64). Proxy-release commands are left out of the count:
    they follow Python's garbage collector, not the build."""
    import gc

    from py4j.protocol import MEMORY_COMMAND_NAME

    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        hot_entity_cuts,
        trailing_features_scalable,
    )
    from aml_feature_store_spark.sources import load_table

    spec = TrailingWindowSpec(windows={"5m": 300, "1h": 3600, "24h": 86400})
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        sent[0] += not command.startswith(MEMORY_COMMAND_NAME)
        return send(command, *args, **kwargs)

    counts = {}
    for nb in (4, 64):
        hb = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=1,
                             buckets=nb, cap=8)
        assert len(hb.ents) == 8
        gc.collect()
        sent[0] = 0
        client.send_command = counting
        try:
            trailing_features_scalable(df, spec, hot_buckets=hb)
        finally:
            del client.send_command
        counts[nb] = sent[0]
    assert counts[64] <= 1.1 * counts[4], counts


def test_auto_routes_hot_entities_to_buckets(spark):
    """trailing_features_auto engages bucketization below a forced hot
    threshold and the values stay identical to the WindowExec plan."""
    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        trailing_features,
        trailing_features_auto,
    )
    from aml_feature_store_spark.sources import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "events")
    spec = TrailingWindowSpec(windows={"24h": 86400})
    routed = trailing_features_auto(
        df, spec, frame_rows_threshold=0, hot_rows_threshold=1
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "element_at" in plan  # literal-carry stitch engaged
    a = {r["event_id"]: r["txn_count_24h"]
         for r in trailing_features(df, spec).collect()}
    b = {r["event_id"]: r["txn_count_24h"] for r in routed.collect()}
    assert a == b


def test_scalable_distinct_markers_bit_identical(spark):
    """Interval-marker exact distincts == collect_set frame distincts,
    across multiple windows and two distinct columns."""
    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        trailing_features,
        trailing_features_scalable,
    )
    from aml_feature_store_spark.sources import load_table

    spec = TrailingWindowSpec(
        entity_col="event_type",
        windows={"1h": 3600, "24h": 86400},
        distinct_cols=("user_id",),
    )
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    cols = ["event_id", "txn_count_1h", "unique_user_id_1h",
            "txn_count_24h", "unique_user_id_24h", "max_txn_amount_24h",
            "std_txn_amount_24h"]
    a = {r["event_id"]: r for r in
         trailing_features(df, spec).select(*cols).collect()}
    b = {r["event_id"]: r for r in
         trailing_features_scalable(df, spec).select(*cols).collect()}
    assert set(a) == set(b) and len(a) == 1000
    for eid, ra in a.items():
        for c in cols:
            assert ra[c] == b[eid][c], (eid, c, ra[c], b[eid][c])


def test_negative_epoch_ms_bucketized_bit_identical(spark):
    """Pre-1970 timestamps (negative epoch-ms): the driver-side carry
    fold must bucket edge positions with the plan's `div` semantics
    (truncation toward zero), not Python floor division — a mismatch
    silently drops an extrema carry at a bucket edge."""
    import datetime as dt
    import random

    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        hot_entity_cuts,
        trailing_features,
        trailing_features_scalable,
    )

    t0 = dt.datetime(1969, 6, 1)  # epoch-ms ≈ -18.5e9
    random.seed(11)
    rows = [
        (
            i,
            t0 + dt.timedelta(seconds=random.randint(0, 5 * 86400)),
            1 + (i % 2),
            float(random.randint(1, 100)),
        )
        for i in range(800)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    spec = TrailingWindowSpec(windows={"1h": 3600, "24h": 86400})
    hb = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=1, buckets=5,
                         cap=10)
    assert hb is not None and all(lo < 0 for lo, _ in hb.ents.values())
    cols = ["event_id"] + [
        f"{m}_{w}"
        for w in spec.windows
        for m in ("txn_count", "txn_amount_sum", "max_txn_amount",
                  "min_txn_amount", "std_txn_amount")
    ]
    a = {r["event_id"]: r for r in
         trailing_features(df, spec).select(*cols).collect()}
    b = {r["event_id"]: r for r in
         trailing_features_scalable(df, spec, hot_buckets=hb)
         .select(*cols).collect()}
    assert set(a) == set(b) and len(a) == 800
    for eid, ra in a.items():
        for c in cols:
            assert ra[c] == b[eid][c], (eid, c, ra[c], b[eid][c])


def test_decimal_amount_scalable_preserves_type_and_values(spark):
    """A decimal amount column must ride the scalable plans (bucketized
    and not) without coercing extrema to double — same type and values
    as the WindowExec plan."""
    import datetime as dt
    import random
    from decimal import Decimal

    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        hot_entity_cuts,
        trailing_features,
        trailing_features_scalable,
    )

    t0 = dt.datetime(2024, 3, 1)
    random.seed(13)
    rows = [
        (
            i,
            t0 + dt.timedelta(seconds=random.randint(0, 2 * 86400)),
            1 + (i % 3),
            Decimal(random.randint(100, 99999)) / 100,
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value decimal(10,2)"
    )
    spec = TrailingWindowSpec(windows={"1h": 3600, "24h": 86400})
    cols = ["event_id"] + [
        f"{m}_{w}"
        for w in spec.windows
        for m in ("txn_count", "txn_amount_sum", "max_txn_amount",
                  "min_txn_amount", "std_txn_amount")
    ]
    ref = trailing_features(df, spec).select(*cols)
    plain = trailing_features_scalable(df, spec).select(*cols)
    hb = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=1, buckets=4,
                         cap=10)
    bucketed = trailing_features_scalable(df, spec, hot_buckets=hb).select(*cols)
    assert dict(ref.dtypes)["max_txn_amount_1h"] == "decimal(10,2)"
    assert dict(plain.dtypes)["max_txn_amount_1h"] == "decimal(10,2)"
    assert dict(bucketed.dtypes)["max_txn_amount_1h"] == "decimal(10,2)"
    a = {r["event_id"]: r for r in ref.collect()}
    for out in (plain, bucketed):
        b = {r["event_id"]: r for r in out.collect()}
        assert set(a) == set(b) and len(a) == 600
        for eid, ra in a.items():
            for c in cols:
                assert ra[c] == b[eid][c], (eid, c, ra[c], b[eid][c])


def test_routing_stats_sample_agrees_with_full(spark):
    """The 1% row-sample stats pass (warehouse-scale path) must route a
    hot-key frame the same way as the full pass: same hot entity
    detected, density estimate on the same side of the threshold."""
    from pyspark.sql import functions as F

    from aml_feature_store_spark.operators.windows import (
        AUTO_FRAME_ROWS_THRESHOLD,
        _entity_stats,
        estimate_frame_rows,
        hot_entity_cuts,
    )

    # one entity owns 60k dense rows (span 6h << 24h window); 400 cold
    # entities own 50 rows each across 30 days
    hot = spark.range(60_000).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") % 21600).alias("ts"),
        F.lit(1).alias("user_id"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    cold = spark.range(20_000).select(
        (F.col("id") + 100_000).alias("event_id"),
        F.timestamp_seconds(
            F.lit(1700000000) + (F.col("id") * 7919) % (30 * 86400)
        ).alias("ts"),
        (2 + F.col("id") % 400).alias("user_id"),
        F.lit(1.0).alias("value"),
    )
    df = hot.unionByName(cold)
    est_full = estimate_frame_rows(df, "user_id", "ts", 86400, sample=False)
    est_samp = estimate_frame_rows(df, "user_id", "ts", 86400, sample=True)
    assert (est_full > AUTO_FRAME_ROWS_THRESHOLD) == (
        est_samp > AUTO_FRAME_ROWS_THRESHOLD
    )
    assert est_samp == pytest.approx(est_full, rel=0.25)
    # the rows-weighted mean: cold entities fall under the sampled noise
    # floor but keep their rows in the denominator (≈ 45k both ways)
    mean_full = _entity_stats(df, "user_id", "ts", 86400, sample=False)[1]
    mean_samp = _entity_stats(df, "user_id", "ts", 86400, sample=True)[1]
    assert mean_samp == pytest.approx(mean_full, rel=0.25)
    hb_full = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=30_000,
                              sample=False)
    hb_samp = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=30_000,
                              sample=True)
    assert hb_full is not None and hb_samp is not None
    assert set(hb_full.ents) == set(hb_samp.ents) == {1}
    # sampled cuts are a load-balancing plan over the same span (± pad)
    lo_f, w_f = hb_full.ents[1]
    lo_s, w_s = hb_samp.ents[1]
    assert abs(lo_s - lo_f) < 600_000 and abs(w_s - w_f) < 600_000


def _write_one_user(path, n, step_s):
    """n events of user 1, ``step_s`` seconds apart, as an uncompressed
    dictionary-free parquet file: its size depends on n only, never on
    the timestamp values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": list(range(n)),
            "ts": pa.array(
                [1700000000_000_000 + i * step_s * 1_000_000 for i in range(n)],
                type=pa.timestamp("us", tz="UTC"),
            ),
            "user_id": [1] * n,
            "value": [float(i) for i in range(n)],
        }
    )
    pq.write_table(tbl, path, compression="none", use_dictionary=False)


def test_routing_stats_fresh_after_inplace_rewrite(spark, tmp_path):
    """Rewriting data at the SAME path must yield fresh routing stats,
    never stale ones."""
    import time as _time

    from aml_feature_store_spark.operators.windows import estimate_frame_rows

    path = str(tmp_path / "ev.parquet")
    _write_one_user(path, 500, 1)
    est1 = estimate_frame_rows(
        spark.read.parquet(path), "user_id", "ts", 86400
    )
    _time.sleep(0.01)  # ensure a distinct mtime_ns
    _write_one_user(path, 2000, 1)
    est2 = estimate_frame_rows(
        spark.read.parquet(path), "user_id", "ts", 86400
    )
    assert est1 == pytest.approx(500.0) and est2 == pytest.approx(2000.0)


def test_routing_stats_fresh_after_same_size_mtime_rewrite(spark, tmp_path):
    """A rewrite that keeps path, size AND mtime (cp -p, rsync -a, an
    object-store overwrite) must still yield fresh routing stats: the
    router holds no state between plan builds."""
    import os

    from aml_feature_store_spark.operators.windows import estimate_frame_rows

    path = str(tmp_path / "ev.parquet")
    _write_one_user(path, 500, 1)  # span 499 s: every frame holds all 500
    st = os.stat(path)
    est1 = estimate_frame_rows(spark.read.parquet(path), "user_id", "ts", 86400)
    _write_one_user(path, 500, 3600)  # span 499 h
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    est2 = estimate_frame_rows(spark.read.parquet(path), "user_id", "ts", 86400)
    assert est1 == 500.0
    assert est2 == 500 * (86400_000 / (499 * 3600_000))


def test_auto_build_runs_one_stats_pass(spark, tmp_path, monkeypatch):
    """Routing a dense build (scalable plan, no hot entity) costs the
    footer sniff plus ONE stats pass: ≤ 4 jobs for the whole build."""
    from aml_feature_store_spark.operators import windows
    from aml_feature_store_spark.sources.tables import load_events

    routed = []
    scalable = windows.trailing_features_scalable
    monkeypatch.setattr(
        windows,
        "trailing_features_scalable",
        lambda *a, **k: routed.append(k) or scalable(*a, **k),
    )
    path = str(tmp_path / "ev.parquet")
    _write_one_user(path, 500, 1)  # 500 rows per 24 h frame
    sc = spark.sparkContext
    sc.setJobGroup("auto_build", "auto_build")
    try:
        windows.trailing_features_auto(
            load_events(spark, path),
            windows.TrailingWindowSpec(windows={"24h": 86400}),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert routed == [{"hot_buckets": None}]
    assert len(sc.statusTracker().getJobIdsForGroup("auto_build")) <= 4


def test_fused_stats_exact_on_skew_fixture(spark):
    """estimate_frame_rows, the rows-weighted mean and hot_entity_cuts,
    all readers of the one per-entity aggregate, return hand-computed
    values: the densest entity's frame rows, Σ cₑ·fₑ / Σ cₑ, and the hot
    set by count descending with ties broken by entity."""
    from pyspark.sql import functions as F

    from aml_feature_store_spark.operators.windows import (
        _entity_stats,
        estimate_frame_rows,
        hot_entity_cuts,
    )

    t0 = 1_700_000_000
    # user 1: 600 rows 1 min apart; user 2: 600 rows 10 min apart;
    # user 3: 700 rows 1 h apart; users 10-19: 5 rows each, 6 days apart
    legs = [(1, 600, 60), (2, 600, 600), (3, 700, 3600)] + [
        (u, 5, 6 * 86400) for u in range(10, 20)
    ]
    df = None
    for uid, n, step in legs:
        leg = spark.range(n).select(
            (F.col("id") + uid * 10_000).alias("event_id"),
            F.timestamp_seconds(F.lit(t0) + F.col("id") * step).alias("ts"),
            F.lit(uid).cast("long").alias("user_id"),
            F.lit(1.0).alias("value"),
        )
        df = leg if df is None else df.unionByName(leg)
    # spans: 35 940 s, 359 400 s, 2 516 400 s
    assert estimate_frame_rows(df, "user_id", "ts", 86400) == 600.0
    f = [600.0, 600 * (86400 / 359_400), 700 * (86400 / 2_516_400),
         5 * (86400 / (4 * 6 * 86400))]
    c = [600, 600, 700, 10 * 5]
    mean = sum(ci * fi for ci, fi in zip(c, f)) / sum(c)
    assert mean == pytest.approx(237.63, abs=0.01)
    assert _entity_stats(df, "user_id", "ts", 86400)[1] == pytest.approx(
        mean, rel=1e-12
    )
    assert estimate_frame_rows(df, "user_id", "ts", 3600) == max(
        600 * (3600_000 / 35_940_000),
        600 * (3600_000 / 359_400_000),
        700 * (3600_000 / 2_516_400_000),
        5 * (3600_000 / (4 * 6 * 86400_000)),
    )
    pad = 86400_000 + 1
    lo = t0 * 1000 - pad

    def cut(n, step):
        return (lo, -(-(((t0 + (n - 1) * step) * 1000 + pad + 1) - lo) // 8))

    hb = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=600,
                         buckets=8, cap=2)
    assert hb.buckets == 8
    assert list(hb.ents.items()) == [(3, cut(700, 3600)), (1, cut(600, 60))]
    hb = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=600,
                         buckets=8, cap=32)
    assert list(hb.ents) == [3, 1, 2]
    assert hb.ents[2] == cut(600, 600)
    assert hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=701) is None


def _route_input(spark, legs):
    """Event log from ``(n, user, seconds)`` legs: ``spark.range(n)`` with
    the user and the offset from 2023-11-14 as SQL expressions of ``id``."""
    df = None
    for k, (n, user, secs) in enumerate(legs):
        leg = spark.range(n).select(
            (F.col("id") + k * 1_000_000).alias("event_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.expr(secs)).alias("ts"),
            F.expr(user).cast("long").alias("user_id"),
            (F.col("id") % 97).cast("double").alias("value"),
        )
        df = leg if df is None else df.unionByName(leg)
    return df


_ROUTE_INPUTS = {
    # backfill's shape: 2 hot users with 2000 rows over 30 days (≈ 67
    # frame rows), 298 users with ≈ 54 (≈ 1.8): max 66.7, mean ≈ 14.8
    "backfill_skew": [(4000, "id % 2", "id div 2 * 1296"),
                      (16_000, "2 + id % 298", "id * 7919 % 2592000")],
    # the hot anchor's density: 20 users with 440 rows over 2 days (≈ 220)
    "uniform_dense": [(8800, "id % 20", "id * 7919 % 172800")],
    # test_frame_estimate_is_skew_aware's fixture: 1000 one-row users
    # 100 days apart, one user with 2000 rows in one day (mean ≈ 1334)
    "skew_aware": [(1000, "id + 1", "id * 8640"), (2000, "0", "id * 40")],
    # one hot user with 2% of the rows inside a day: max 300, mean ≈ 7.7
    "small_share_hot": [(300, "0", "id * 200"),
                        (14_700, "1 + id % 300", "id * 7919 % 2592000")],
}


@pytest.mark.parametrize(
    "router,fixture,route",
    [
        ("trailing", "backfill_skew", "window"),
        ("trailing", "small_share_hot", "window"),
        ("trailing", "uniform_dense", "scalable"),
        ("trailing", "skew_aware", "scalable"),
        ("flags", "backfill_skew", "window"),
        ("flags", "uniform_dense", "scalable"),
        ("flags", "skew_aware", "scalable"),
        ("pit", "small_share_hot", "scalable"),
    ],
)
def test_router_route_and_decision_record(spark, caplog, router, fixture,
                                          route):
    """Each router's executed plan and its DEBUG decision record. The
    trailing routers read the rows-weighted mean frame rows, so a few
    hot users in a sparse log stay on WindowExec; the pit router reads
    the densest entity, so one small-share hot user takes O(rows). The
    plan carries an O(rows)-only column exactly on the scalable route."""
    import logging

    from aml_feature_store_spark.operators import pit, windows

    df = _route_input(spark, _ROUTE_INPUTS[fixture])
    with caplog.at_level(logging.DEBUG, logger="aml_feature_store_spark.route"):
        if router == "trailing":
            op, marker = "trailing_features_auto", "_win"
            out = windows.trailing_features_auto(
                df, TrailingWindowSpec(windows={"1h": 3600, "24h": 86400})
            )
        elif router == "flags":
            op, marker = "trailing_flag_counts", "_probe"
            out = windows.trailing_flag_counts(
                df, {"big": F.col("value") > 50}, 86400
            )
        else:
            op, marker = "point_in_time_features_auto", "_kind"
            out = pit.point_in_time_features_auto(
                df.filter(F.col("event_id") % 10 == 0), df
            )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert (marker in plan) == (route == "scalable")
    [rec] = [r.getMessage() for r in caplog.records
             if r.name == "aml_feature_store_spark.route"]
    assert rec.startswith(f"{op} route={route} max_frame_rows=")
    assert "mean_frame_rows=" in rec and rec.endswith("threshold=32")


def test_jdiv_truncates_toward_zero():
    """Spark-div arithmetic helper (pure python)."""
    from aml_feature_store_spark.operators.windows import _jdiv

    # trunc-toward-zero vs floor: differs on negatives
    assert _jdiv(7, 2) == 3 and _jdiv(-7, 2) == -3 and (-7) // 2 == -4
    assert _jdiv(-86400001, 3600000) == -24
