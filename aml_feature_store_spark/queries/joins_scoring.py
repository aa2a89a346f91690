"""Registered queries: point-in-time join, online lookup + risk scoring,
feature-view concat join (SURVEY §2.3 J1-J4, §3 EP2, §2.10 D1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import register
from ..functions.risk import risk_score, risk_score_sql
from ..operators import stats
from ..operators.pit import (
    latest_snapshot,
    pit_oracle,
    point_in_time_features,
    point_in_time_features_auto,
)
from ..sources import load_table

# ---------------------------------------------------------------------------
# J2 — point-in-time (as-of) join: purchase spine over the full event log
# ---------------------------------------------------------------------------

_PURCHASE_SPINE_SQL = (
    "SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'"
)


@register(
    "pit_join_purchases_24h",
    oracle=pit_oracle(_PURCHASE_SPINE_SQL, window_s=86400, suffix="24h"),
)
def pit_join_purchases_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of features for each purchase over ALL the user's events in the
    trailing 24h (J2): union-spine + one range-frame window pass — replaces
    the reference's O(n·m) per-row loop (advanced_features.py:399-419).
    Physical strategy is adaptive: a densest user's 24 h frame above
    AUTO_FRAME_ROWS_THRESHOLD rows routes to the O(rows) reader/probe
    plan (bit-identical, property-tested). Not the trailing routers'
    mean: one window, so one hot user's WindowExec task sets the wall."""
    events = load_table(spark, sf_dir, "events")
    spine = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return point_in_time_features_auto(
        spine, events, window_s=86400, suffix="24h"
    )


# ---------------------------------------------------------------------------
# J1 + D1 — online feature view (latest per entity) + batch risk scoring
# ---------------------------------------------------------------------------

_FEATURES = [
    "txn_count_1h",
    "txn_amount_sum_1h",
    "velocity_score_1h",
    "unique_event_type_1h",
    "night_txn_count_24h",
    "night_txn_ratio_24h",
]


def _online_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    base = Window.partitionBy("user_id").orderBy(ms)
    w1 = base.rangeBetween(-3600000, 0)
    w24 = base.rangeBetween(-86400000, 0)
    hour = F.hour("ts")
    night = (hour < 6) | (hour > 22)
    n1 = F.count(F.lit(1)).over(w1)
    n24 = F.count(F.lit(1)).over(w24)
    night24 = F.sum(F.when(night, 1).otherwise(0)).over(w24)
    feats = df.select(
        "user_id",
        "ts",
        "event_id",
        n1.alias("txn_count_1h"),
        F.sum(F.col("value").cast("decimal(25,2)")).over(w1).cast("double").alias(
            "txn_amount_sum_1h"
        ),
        (n1.cast("double") / F.lit(1.0)).alias("velocity_score_1h"),
        F.size(F.collect_set("event_type").over(w1)).cast("long").alias(
            "unique_event_type_1h"
        ),
        night24.alias("night_txn_count_24h"),
        (night24.cast("double") / n24.cast("double")).alias("night_txn_ratio_24h"),
    )
    return latest_snapshot(feats).drop("ts", "event_id")


_ONLINE_FEATURES_SQL = """
WITH latest AS (
  SELECT user_id, ts, event_id FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
)
SELECT l.user_id,
  (SELECT COUNT(*) FROM events e WHERE e.user_id = l.user_id
     AND epoch_ms(e.ts) BETWEEN epoch_ms(l.ts) - 3600000 AND epoch_ms(l.ts))
    AS txn_count_1h,
  (SELECT CAST(SUM(CAST(e.value AS DECIMAL(25,2))) AS DOUBLE) FROM events e
     WHERE e.user_id = l.user_id
     AND epoch_ms(e.ts) BETWEEN epoch_ms(l.ts) - 3600000 AND epoch_ms(l.ts))
    AS txn_amount_sum_1h,
  CAST((SELECT COUNT(*) FROM events e WHERE e.user_id = l.user_id
     AND epoch_ms(e.ts) BETWEEN epoch_ms(l.ts) - 3600000 AND epoch_ms(l.ts))
    AS DOUBLE) / 1.0 AS velocity_score_1h,
  (SELECT COUNT(DISTINCT e.event_type) FROM events e WHERE e.user_id = l.user_id
     AND epoch_ms(e.ts) BETWEEN epoch_ms(l.ts) - 3600000 AND epoch_ms(l.ts))
    AS unique_event_type_1h,
  CAST((SELECT SUM(CASE WHEN hour(e.ts) < 6 OR hour(e.ts) > 22 THEN 1 ELSE 0 END)
     FROM events e WHERE e.user_id = l.user_id
     AND epoch_ms(e.ts) BETWEEN epoch_ms(l.ts) - 86400000 AND epoch_ms(l.ts))
    AS BIGINT) AS night_txn_count_24h,
  CAST((SELECT SUM(CASE WHEN hour(e.ts) < 6 OR hour(e.ts) > 22 THEN 1 ELSE 0 END)
     FROM events e WHERE e.user_id = l.user_id
     AND epoch_ms(e.ts) BETWEEN epoch_ms(l.ts) - 86400000 AND epoch_ms(l.ts)) AS DOUBLE)
  / CAST((SELECT COUNT(*) FROM events e WHERE e.user_id = l.user_id
     AND epoch_ms(e.ts) BETWEEN epoch_ms(l.ts) - 86400000 AND epoch_ms(l.ts)) AS DOUBLE)
    AS night_txn_ratio_24h
FROM latest l
"""


@register("online_feature_view", oracle=_ONLINE_FEATURES_SQL)
def online_feature_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online store materialization: the CURRENT feature vector per user =
    trailing features as-of each user's latest event (S5/S6 last-write-wins
    Redis semantics re-expressed as latest_snapshot over one window pass)."""
    return _online_features(spark, sf_dir)


@register("risk_scores", oracle=risk_score_sql(_ONLINE_FEATURES_SQL.strip()))
def risk_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch risk scoring = online lookup (J1) + rule model (D1): normalize,
    weighted sum, business-rule bumps, clamp, LOW/MEDIUM/HIGH bucket — all
    codegen'd column expressions (reference: api/main.py:106-241)."""
    return risk_score(_online_features(spark, sf_dir))


# ---------------------------------------------------------------------------
# J3 — feature-view concat join: one wide behavioral feature table
# ---------------------------------------------------------------------------

_WIDE_ORACLE = f"""
SELECT g.user_id, g.gini_amount, h.concentration_hhi, h.n_categories,
       en.hour_entropy, en.peak_bucket_ratio,
       ia.avg_gap_s, ia.std_gap_s, ia.burst_ratio, ia.regularity_score,
       tr.amount_trend_slope, tr.amount_trend_strength,
       mo.txn_count, mo.amount_cv, mo.amount_skewness, mo.amount_kurtosis
FROM ({stats.gini_oracle()}) g
JOIN ({stats.hhi_oracle()}) h USING (user_id)
JOIN ({stats.entropy_oracle()}) en USING (user_id)
JOIN ({stats.interarrival_oracle()}) ia USING (user_id)
JOIN ({stats.trend_oracle()}) tr USING (user_id)
JOIN ({stats.moments_oracle()}) mo USING (user_id)
"""


@register("behavioral_feature_vector", oracle=_WIDE_ORACLE)
def behavioral_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-view concat (J3): the full behavioral vector per user — the
    reference's features.update(...) dict merge (advanced_features.py:
    345-365). Physical plan is the FUSED single-pass variant: gini/trend/
    inter-arrival/moments share one shuffle + one combined aggregation
    (operators.stats.behavioral_vector_fused); only HHI/entropy join in
    separately. Bit-identical to the naive 6-way concat join the oracle
    spells out."""
    return stats.behavioral_vector_fused(load_table(spark, sf_dir, "events"))
