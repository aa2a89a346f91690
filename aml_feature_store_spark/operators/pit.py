"""Point-in-time (as-of) join — SURVEY §2.3 J2, the engine's key custom op.

Semantics: for each spine row (entity, t) produce aggregates over that
entity's events with event-time in ``[t − W, t]`` (and optionally the
as-of-latest event row). The reference computes this with an O(n·m)
per-row pandas loop (reference: feature_engineering/advanced_features.py:
399-419, notebooks cell 8 l.11-35); Feast's get_historical_features has
the same contract (feature_repo/definitions.py:27-46, ttl=24h).

Spark-first physical strategy — **union-spine + range-frame window**:

    1. events tagged is_spine=0, spine tagged is_spine=1, unioned by name;
    2. one Window.partitionBy(entity).orderBy(epoch_ms).rangeBetween(-W, 0)
       with aggregates conditioned on is_spine=0 (spine rows contribute
       nothing to the aggregates but observe the frame);
    3. filter is_spine=1.

    Cost: ONE shuffle of (events ∪ spine) on the entity key + one sort —
    no join explosion, no per-row re-scan. This is the plan that survives
    100 TB: it is linear in input, partition-parallel by entity, and
    spills via UnsafeExternalSorter. Events at exactly t are included
    (range frames include peers — tie order is irrelevant by construction).

A second strategy (broadcast-spine range join) would win only when the
spine is tiny and events are huge-but-indexed; deferred.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

DEC = "decimal(25,2)"


def point_in_time_features(
    spine: DataFrame,
    events: DataFrame,
    entity_col: str = "user_id",
    spine_ts_col: str = "ts",
    event_ts_col: str = "ts",
    amount_col: str = "value",
    spine_id_col: str = "event_id",
    window_s: int = 86400,
    suffix: str = "24h",
) -> DataFrame:
    """As-of aggregate features for every spine row.

    Returns spine (id, entity, ts columns) + pit_count/pit_sum/pit_avg/
    pit_max/pit_min aliased with ``suffix``. Empty frames yield count=0 and
    NULL-free zero defaults (P6 semantics: reference
    feature_engineering/advanced_features.py:210-227 zero-features).
    """
    ev = events.select(
        F.col(entity_col).alias("_ent"),
        F.unix_millis(F.col(event_ts_col)).alias("_ms"),
        F.col(amount_col).alias("_amt"),
        F.lit(0).alias("_is_spine"),
        F.lit(None).cast("long").alias("_spine_id"),
    )
    sp = spine.select(
        F.col(entity_col).alias("_ent"),
        F.unix_millis(F.col(spine_ts_col)).alias("_ms"),
        F.lit(None).cast("double").alias("_amt"),
        F.lit(1).alias("_is_spine"),
        F.col(spine_id_col).cast("long").alias("_spine_id"),
    )
    u = ev.unionByName(sp)
    w = Window.partitionBy("_ent").orderBy("_ms").rangeBetween(-window_s * 1000, 0)
    amt_ev = F.when(F.col("_is_spine") == 0, F.col("_amt"))
    amt_dec = amt_ev.cast(DEC)
    n = F.sum(F.when(F.col("_is_spine") == 0, 1).otherwise(0)).over(w)
    s = F.sum(amt_dec).over(w).cast("double")
    out = (
        u.withColumns(
            {
                f"pit_count_{suffix}": n,
                f"pit_sum_{suffix}": F.coalesce(s, F.lit(0.0)),
                f"pit_avg_{suffix}": F.coalesce(s / n, F.lit(0.0)),
                f"pit_max_{suffix}": F.max(amt_ev).over(w),
                f"pit_min_{suffix}": F.min(amt_ev).over(w),
            }
        )
        .filter(F.col("_is_spine") == 1)
        .select(
            F.col("_spine_id").alias(spine_id_col),
            F.col("_ent").alias(entity_col),
            F.col("_ms").alias("spine_ts_ms"),
            f"pit_count_{suffix}",
            f"pit_sum_{suffix}",
            f"pit_avg_{suffix}",
            f"pit_max_{suffix}",
            f"pit_min_{suffix}",
        )
    )
    return out


def point_in_time_features_scalable(
    spine: DataFrame,
    events: DataFrame,
    entity_col: str = "user_id",
    spine_ts_col: str = "ts",
    event_ts_col: str = "ts",
    amount_col: str = "value",
    spine_id_col: str = "event_id",
    window_s: int = 86400,
    suffix: str = "24h",
) -> DataFrame:
    """O(rows) physical strategy for the as-of join — same contract and
    bit-identical output as :func:`point_in_time_features`, for dense
    frames where WindowExec's O(rows × frame) recompute dominates.

    Same decomposition as windows.trailing_features_scalable: spine rows
    become READER rows at t (cumulative event count/sum INCLUSIVE, own-
    chunk prefix extrema) plus one PROBE row at t−W (cumulative EXCLUSIVE
    via an (unbounded,−1) frame, previous-chunk suffix extrema via a
    descending window); frame value = reader − probe for the invertible
    metrics and greatest/least(prefix, suffix) for min/max. One hash
    exchange on the entity; every window is an incrementally-maintained
    unbounded frame.

    Hot-key note (r10): like every entity-partitioned window plan, one
    entity's rows run in one task. The trailing operator family fixes
    this with time-bucketization + literal carry stitching
    (windows.trailing_features_scalable(hot_buckets=...)); the same
    decomposition applies here if an as-of spine ever binds on a hot
    key — measured NOT binding at the skew anchor (purchase spine ≪
    event log: 3.7 s settled vs the trailing plan's pre-fix 12 s), so
    the machinery is not wired into this path yet.
    """
    wms = window_s * 1000
    ev = events.select(
        F.col(entity_col).alias("_ent"),
        F.unix_millis(F.col(event_ts_col)).alias("_ms"),
        F.col(amount_col).alias("_amt"),
        F.lit(None).cast("long").alias("_spine_id"),
        F.lit("ev").alias("_kind"),
    )
    sp_base = spine.select(
        F.col(entity_col).alias("_ent"),
        F.unix_millis(F.col(spine_ts_col)).alias("_ms"),
        F.col(spine_id_col).cast("long").alias("_spine_id"),
    )
    rd = sp_base.select(
        "_ent", "_ms", F.lit(None).cast("double").alias("_amt"),
        "_spine_id", F.lit("rd").alias("_kind"),
    )
    pb = sp_base.select(
        "_ent",
        (F.col("_ms") - F.lit(wms)).alias("_ms"),
        F.lit(None).cast("double").alias("_amt"),
        "_spine_id",
        F.lit("pb").alias("_kind"),
    )
    u = ev.unionByName(rd).unionByName(pb).repartition("_ent")

    is_ev = F.col("_kind") == "ev"
    amt_dec = F.when(is_ev, F.col("_amt")).cast(DEC)
    cnt_flag = F.when(is_ev, 1).otherwise(0)
    wcum = Window.partitionBy("_ent").orderBy("_ms")
    incl = wcum.rangeBetween(Window.unboundedPreceding, 0)
    excl = wcum.rangeBetween(Window.unboundedPreceding, -1)
    ck = F.expr(f"_ms div {wms}")
    asc = (
        Window.partitionBy("_ent", ck)
        .orderBy("_ms")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    desc = (
        Window.partitionBy("_ent", ck)
        .orderBy(F.col("_ms").desc())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    ev_amt = F.when(is_ev, F.col("_amt"))
    cum = u.withColumns(
        {
            "_cs_i": F.sum(amt_dec).over(incl),
            "_cn_i": F.sum(cnt_flag).over(incl),
            "_cs_e": F.sum(amt_dec).over(excl),
            "_cn_e": F.coalesce(F.sum(cnt_flag).over(excl), F.lit(0)),
            "_pmx": F.max(ev_amt).over(asc),
            "_pmn": F.min(ev_amt).over(asc),
            "_smx": F.max(ev_amt).over(desc),
            "_smn": F.min(ev_amt).over(desc),
        }
    ).filter(F.col("_spine_id").isNotNull())

    is_rd = F.col("_kind") == "rd"
    is_pb = F.col("_kind") == "pb"
    agg = cum.groupBy("_ent", "_spine_id").agg(
        F.max(F.when(is_rd, F.col("_ms"))).alias("_t"),
        F.max(F.when(is_rd, F.col("_cs_i"))).alias("_at_s"),
        F.max(F.when(is_rd, F.col("_cn_i"))).alias("_at_n"),
        F.max(F.when(is_pb, F.coalesce(F.col("_cs_e"), F.lit(0).cast(DEC)))).alias(
            "_b_s"
        ),
        F.max(F.when(is_pb, F.col("_cn_e"))).alias("_b_n"),
        F.max(F.when(is_rd, F.col("_pmx"))).alias("_px"),
        F.min(F.when(is_rd, F.col("_pmn"))).alias("_pn"),
        F.max(F.when(is_pb, F.col("_smx"))).alias("_sx"),
        F.min(F.when(is_pb, F.col("_smn"))).alias("_sn"),
    )
    n = F.col("_at_n") - F.col("_b_n")
    s = (F.coalesce(F.col("_at_s"), F.lit(0).cast(DEC)) - F.col("_b_s")).cast(
        "double"
    )
    return agg.select(
        F.col("_spine_id").alias(spine_id_col),
        F.col("_ent").alias(entity_col),
        F.col("_t").alias("spine_ts_ms"),
        n.alias(f"pit_count_{suffix}"),
        s.alias(f"pit_sum_{suffix}"),
        # empty-frame guard: s is 0.0 here (not NULL like the window
        # strategy), so 0/0 would raise under ANSI instead of nulling out
        F.when(n > 0, s / n).otherwise(F.lit(0.0)).alias(f"pit_avg_{suffix}"),
        F.greatest(F.col("_px"), F.col("_sx")).alias(f"pit_max_{suffix}"),
        F.least(F.col("_pn"), F.col("_sn")).alias(f"pit_min_{suffix}"),
    )


def point_in_time_features_auto(
    spine: DataFrame,
    events: DataFrame,
    entity_col: str = "user_id",
    window_s: int = 86400,
    **kw,
) -> DataFrame:
    """Adaptive as-of join: estimate expected frame density from one cheap
    events-side stats pass and pick the window strategy (sparse frames)
    or the O(rows) reader/probe strategy (dense frames). Bit-identical
    results either way (property-tested). Density is the DENSEST
    entity's frame rows (windows.estimate_frame_rows), compared with
    windows.AUTO_FRAME_ROWS_THRESHOLD. Unlike the trailing routers,
    which read the rows-weighted mean, this plan has a single window,
    so the one WindowExec task of a hot entity decides its wall: with
    1M events and a 2% hot user the O(rows) plan takes 2.6 s against
    WindowExec's 5.5 s while the mean (15.3) would pick WindowExec."""
    from .windows import _dense_route

    ts_col = kw.get("event_ts_col", "ts")
    dense, _ = _dense_route(
        "point_in_time_features_auto", events, entity_col, ts_col, window_s,
        by_max=True,
    )
    fn = point_in_time_features_scalable if dense else point_in_time_features
    return fn(spine, events, entity_col=entity_col, window_s=window_s, **kw)


def pit_oracle(
    spine_sql: str,
    entity: str = "user_id",
    amount: str = "value",
    spine_id: str = "event_id",
    window_s: int = 86400,
    suffix: str = "24h",
    events_table: str = "events",
) -> str:
    """Correlated-subquery oracle for :func:`point_in_time_features` —
    the semantic spec (DuckDB decorrelates it into a join)."""
    wms = window_s * 1000
    corr = (
        f"FROM {events_table} ev WHERE ev.{entity} = s.{entity} "
        f"AND epoch_ms(ev.ts) BETWEEN epoch_ms(s.ts) - {wms} AND epoch_ms(s.ts)"
    )
    return f"""
WITH spine AS ({spine_sql})
SELECT s.{spine_id}, s.{entity}, epoch_ms(s.ts) AS spine_ts_ms,
  (SELECT COUNT(*) {corr}) AS pit_count_{suffix},
  COALESCE((SELECT CAST(SUM(CAST(ev.{amount} AS DECIMAL(25,2))) AS DOUBLE) {corr}), 0.0)
    AS pit_sum_{suffix},
  COALESCE((SELECT CAST(SUM(CAST(ev.{amount} AS DECIMAL(25,2))) AS DOUBLE) / COUNT(*) {corr}), 0.0)
    AS pit_avg_{suffix},
  (SELECT MAX(ev.{amount}) {corr}) AS pit_max_{suffix},
  (SELECT MIN(ev.{amount}) {corr}) AS pit_min_{suffix}
FROM spine s
"""


def latest_snapshot(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Latest row per entity (the online-store materialization primitive:
    last-write-wins MERGE emulation; reference Redis HSET-latest semantics,
    flink_job/aml_stream_processor.py:203-221)."""
    w = Window.partitionBy(entity_col).orderBy(
        F.unix_millis(F.col(ts_col)).desc(), F.col(tiebreak_col).desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
