"""Registered queries: derived time flags, conditional window counts,
windowed distinct counts, JSON payload parsing (SURVEY §2.2 P4/P5, §2.4
A6/A8, §2.8 F2/F4/F7)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import register
from ..schemas import EVENT_PROPS, prop_k_fast
from ..sources import load_table

_NIGHT = "(hour(ts) < 6 OR hour(ts) > 22)"


@register(
    "derived_time_flags",
    oracle=f"""
SELECT event_id, user_id, hour(ts) AS hour_of_day, isodow(ts) - 1 AS weekday,
       isodow(ts) - 1 >= 5 AS is_weekend,
       {_NIGHT} AS is_night,
       hour(ts) BETWEEN 9 AND 17 AS is_business_hours
FROM events
""",
)
def derived_time_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/ordinal time-derived columns per event (P4, F2, F7).

    Reference: offline_data/generate_sample_data.py:72-73 (is_weekend,
    hour_of_day), producer/transaction_producer.py:134-136 (is_night).
    weekday is 0=Mon..6=Sun on both engines (Spark weekday ≡ DuckDB
    isodow−1) — the F2 dayofweek trap from SURVEY §2.8.
    """
    df = load_table(spark, sf_dir, "events")
    hour = F.hour("ts")
    wd = F.weekday("ts")
    return df.select(
        "event_id",
        "user_id",
        hour.cast("long").alias("hour_of_day"),
        wd.cast("long").alias("weekday"),
        (wd >= 5).alias("is_weekend"),
        ((hour < 6) | (hour > 22)).alias("is_night"),
        hour.between(9, 17).alias("is_business_hours"),
    )


@register(
    "conditional_window_counts",
    oracle=f"""
SELECT event_id, user_id,
  COUNT(*) OVER w AS txn_count_24h,
  CAST(SUM(CASE WHEN {_NIGHT} THEN 1 ELSE 0 END) OVER w AS BIGINT)
    AS night_txn_count_24h,
  CAST(SUM(CASE WHEN isodow(ts) - 1 >= 5 THEN 1 ELSE 0 END) OVER w AS BIGINT)
    AS weekend_txn_count_24h,
  CAST(SUM(CASE WHEN hour(ts) BETWEEN 9 AND 17 THEN 1 ELSE 0 END) OVER w AS BIGINT)
    AS business_hours_txn_count_24h,
  CAST(SUM(CASE WHEN {_NIGHT} THEN 1 ELSE 0 END) OVER w AS DOUBLE)
    / CAST(COUNT(*) OVER w AS DOUBLE) AS night_txn_ratio_24h,
  CAST(SUM(CASE WHEN isodow(ts) - 1 >= 5 THEN 1 ELSE 0 END) OVER w AS DOUBLE)
    / CAST(COUNT(*) OVER w AS DOUBLE) AS weekend_txn_ratio_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW)
""",
)
def conditional_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Night/weekend/business-hours counts + ratios over a trailing 24h
    window per user (A8, P5).

    Reference: flink_job/aml_stream_processor.py:189-199 (night/weekend
    loops per event) — here a single WindowExec with conditional sums,
    switching to the O(rows) cum+probe flag-count strategy on dense
    frames (adaptive, bit-identical).
    """
    from ..operators.windows import trailing_flag_counts

    df = load_table(spark, sf_dir, "events")
    hour = F.hour("ts")
    flags = {
        "night": (hour < 6) | (hour > 22),
        "weekend": F.weekday("ts") >= 5,
        "business": hour.between(9, 17),
    }
    n, nite, wkd = F.col("cnt"), F.col("night"), F.col("weekend")
    return trailing_flag_counts(df, flags, 86400).select(
        "event_id",
        "user_id",
        n.alias("txn_count_24h"),
        nite.alias("night_txn_count_24h"),
        wkd.alias("weekend_txn_count_24h"),
        F.col("business").alias("business_hours_txn_count_24h"),
        (nite.cast("double") / n.cast("double")).alias("night_txn_ratio_24h"),
        (wkd.cast("double") / n.cast("double")).alias("weekend_txn_ratio_24h"),
    )


@register(
    "unique_counts_windows",
    oracle="""
SELECT e.event_id, e.user_id,
  (SELECT COUNT(DISTINCT e2.event_type) FROM events e2
   WHERE e2.user_id = e.user_id
     AND epoch_ms(e2.ts) BETWEEN epoch_ms(e.ts) - 3600000 AND epoch_ms(e.ts))
    AS unique_event_type_1h,
  (SELECT COUNT(DISTINCT e2.event_type) FROM events e2
   WHERE e2.user_id = e.user_id
     AND epoch_ms(e2.ts) BETWEEN epoch_ms(e.ts) - 86400000 AND epoch_ms(e.ts))
    AS unique_event_type_24h
FROM events e
""",
)
def unique_counts_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct event_type count over trailing 1h/24h windows (A6/U1).

    Engine plan: trailing_features_auto projected to the two distinct
    columns (Catalyst prunes the other metrics). Sparse frames run
    size(collect_set() OVER range-frame) — one window pass (memory ∝
    distinct values per frame); dense frames run the scalable kernel's
    previous-occurrence interval markers (exact, O(rows), no per-frame
    set). At 100 TB switch TrailingWindowSpec.distinct_exact=False → HLL
    sketch (approx_count_distinct, 2% tolerance). The oracle's
    correlated subqueries are the semantic spec only, not the engine
    plan. Reference: flink_job/aml_stream_processor.py:166-171 (set()
    over state).
    """
    from ..operators.windows import TrailingWindowSpec, trailing_features_auto

    df = load_table(spark, sf_dir, "events")
    spec = TrailingWindowSpec(
        windows={"1h": 3600, "24h": 86400}, distinct_cols=("event_type",)
    )
    return trailing_features_auto(df, spec).select(
        "event_id", "user_id", "unique_event_type_1h", "unique_event_type_24h"
    )


@register(
    "props_json_extract",
    oracle=r"""
SELECT event_id, user_id,
       CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS prop_k,
       CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 10 AS prop_k_bucket
FROM events
""",
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON payload parse of events.props (F4).

    Engine uses from_json with a pinned schema (never schema_of_json on the
    hot path); oracle uses regexp for dialect neutrality.
    Reference: flink_job/aml_stream_processor.py:68-73 (json.loads per event).
    """
    df = load_table(spark, sf_dir, "events")
    parsed = df.withColumn("_p", F.from_json("props", EVENT_PROPS))
    return parsed.select(
        "event_id",
        "user_id",
        F.col("_p.k").alias("prop_k"),
        (F.col("_p.k") % 10).alias("prop_k_bucket"),
    )


@register(
    "funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(epoch_ms(ts)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_ms(e.ts) > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view,
       c.t_click, p.t_purchase,
       c.t_click IS NOT NULL AS reached_click,
       p.t_purchase IS NOT NULL AS converted
FROM v LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user — first view, first click AFTER that
    view, first purchase AFTER that click (strict event-time ordering,
    not mere co-occurrence). Three user-keyed conditional-min
    aggregations chained by joins on the same key, so at scale every
    stage reuses one hash partitioning; no window over the raw stream.
    The stage-k filter needs stage-(k-1)'s timestamp, which is exactly
    the dependency a single groupBy cannot express."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ms") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ms") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_click").isNotNull().alias("reached_click"),
            F.col("t_purchase").isNotNull().alias("converted"),
        )
    )


@register(
    "cohort_retention_weekly",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         epoch_ms(date_trunc('week', MIN(ts))) AS cohort_week_ms
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT e.user_id, f.cohort_week_ms,
         CAST((epoch_ms(date_trunc('week', e.ts)) - f.cohort_week_ms)
              // 604800000 AS BIGINT) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
),
sizes AS (
  SELECT cohort_week_ms, COUNT(*) AS cohort_size
  FROM firsts GROUP BY cohort_week_ms
)
SELECT a.cohort_week_ms, a.week_offset,
       COUNT(*) AS n_active,
       round(CAST(COUNT(*) AS DOUBLE) / s.cohort_size, 6) + 0.0
         AS retention
FROM active a JOIN sizes s ON a.cohort_week_ms = s.cohort_week_ms
GROUP BY a.cohort_week_ms, a.week_offset, s.cohort_size
""",
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-seen week,
    retention = share of the cohort active k weeks later — the standard
    product-analytics rollup. Two user-keyed aggregations + one distinct
    on (user, cohort, offset); cohort sizes ride a broadcast join (#cohort
    rows is tiny by construction at any scale)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis(F.date_trunc("week", "ts")).alias("week_ms")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min("week_ms").alias("cohort_week_ms")
    )
    active = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week_ms",
            (
                (F.col("week_ms") - F.col("cohort_week_ms"))
                / F.lit(604800000)
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week_ms").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        active.groupBy("cohort_week_ms", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week_ms")
        .select(
            "cohort_week_ms",
            "week_offset",
            "n_active",
            (
                F.round(
                    F.col("n_active").cast("double") / F.col("cohort_size"), 6
                )
                + F.lit(0.0)
            ).alias("retention"),
        )
    )


_RFM_EDGES = "[0.2, 0.4, 0.6, 0.8]"


@register(
    "rfm_segments",
    oracle=f"""
WITH rfm AS (
  SELECT user_id,
         MAX(epoch_ms(ts)) AS recency_ms,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS monetary
  FROM events GROUP BY user_id
),
edges AS (
  SELECT list_transform(quantile_cont(recency_ms, {_RFM_EDGES}),
                        e -> round(e, 9)) AS r_edges,
         list_transform(quantile_cont(CAST(frequency AS DOUBLE), {_RFM_EDGES}),
                        e -> round(e, 9)) AS f_edges,
         list_transform(quantile_cont(monetary, {_RFM_EDGES}),
                        e -> round(e, 9)) AS m_edges
  FROM rfm
)
SELECT user_id, recency_ms, frequency, monetary,
       1 + len(list_filter(e.r_edges, x -> x < recency_ms)) AS r_score,
       1 + len(list_filter(e.f_edges, x -> x < CAST(frequency AS DOUBLE)))
         AS f_score,
       1 + len(list_filter(e.m_edges, x -> x < monetary)) AS m_score
FROM rfm CROSS JOIN edges e
""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency/frequency/monetary quintile
    scores 1-5. Scores come from exact-percentile BREAKPOINTS broadcast
    as three 4-element arrays and assigned by comparison — not ntile
    over a global window (which would single-partition-sort the world;
    the house rule test_plans.py bans that shape). Strict `<` on
    9-dp-rounded edges keeps the two engines' bucket assignment
    bit-identical even for users sitting exactly on a breakpoint."""
    ev = load_table(spark, sf_dir, "events")
    rfm = ev.groupBy("user_id").agg(
        F.max(F.unix_millis("ts")).alias("recency_ms"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("value").cast("decimal(25,2)")).cast("double").alias(
            "monetary"
        ),
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    edges = rfm.agg(
        F.transform(
            F.percentile(F.col("recency_ms").cast("double"), F.lit(qs)),
            lambda e: F.round(e, 9),
        ).alias("r_edges"),
        F.transform(
            F.percentile(F.col("frequency").cast("double"), F.lit(qs)),
            lambda e: F.round(e, 9),
        ).alias("f_edges"),
        F.transform(
            F.percentile("monetary", F.lit(qs)), lambda e: F.round(e, 9)
        ).alias("m_edges"),
    )
    return rfm.crossJoin(F.broadcast(edges)).select(
        "user_id",
        "recency_ms",
        "frequency",
        "monetary",
        (
            F.lit(1)
            + F.expr("size(filter(r_edges, x -> x < recency_ms))")
        ).cast("long").alias("r_score"),
        (
            F.lit(1)
            + F.expr("size(filter(f_edges, x -> x < cast(frequency as double)))")
        ).cast("long").alias("f_score"),
        (
            F.lit(1) + F.expr("size(filter(m_edges, x -> x < monetary))")
        ).cast("long").alias("m_score"),
    )


@register(
    "event_type_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts), event_id) AS nxt
  FROM events
),
pairs AS (
  SELECT cur, nxt, COUNT(*) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
tot AS (SELECT cur, SUM(n) AS n_cur FROM pairs GROUP BY cur)
SELECT p.cur, p.nxt, p.n,
       round(CAST(p.n AS DOUBLE) / t.n_cur, 6) + 0.0 AS p_transition
FROM pairs p JOIN tot t ON p.cur = t.cur
""",
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    sequence: P(next=j | current=i) with (ts, event_id) total ordering —
    the sequence-statistics feature the reference's LSTM slot consumes
    (and a classic behavioral fingerprint). One user-partitioned lag
    pass + a k²-row reduce; no global window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_millis("ts"), F.col("event_id")
    )
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    tot = pairs.groupBy("cur").agg(F.sum("n").alias("n_cur"))
    return pairs.join(F.broadcast(tot), "cur").select(
        "cur",
        "nxt",
        "n",
        (
            F.round(F.col("n").cast("double") / F.col("n_cur"), 6) + F.lit(0.0)
        ).alias("p_transition"),
    )


@register(
    "basket_lift_pairs",
    oracle="""
WITH items AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS item
  FROM events
  WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''
),
baskets AS (SELECT COUNT(DISTINCT (user_id, day)) AS n_baskets FROM items),
item_supp AS (
  SELECT item, COUNT(*) AS n_item FROM items GROUP BY item
),
pair_supp AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
  FROM items a JOIN items b
    ON a.user_id = b.user_id AND a.day = b.day AND a.item < b.item
  GROUP BY a.item, b.item
)
SELECT p.item_a, p.item_b, p.n_pair,
       round(CAST(p.n_pair AS DOUBLE) * bk.n_baskets
             / (ia.n_item * ib.n_item), 6) + 0.0 AS lift
FROM pair_supp p
JOIN item_supp ia ON ia.item = p.item_a
JOIN item_supp ib ON ib.item = p.item_b
CROSS JOIN baskets bk
WHERE p.n_pair >= 5
""",
)
def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: item pairs (prop_k) co-occurring in the
    same user-day basket, with lift = P(a,b)/(P(a)·P(b)) and a min-support
    floor. The self-join runs on the DISTINCT (user, day, item) relation
    keyed by basket — candidate pairs are bounded by per-basket item
    counts (squared within the basket, never across baskets), the
    classic a-priori support shape; item supports and the basket count
    ride broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    items = (
        ev.withColumn("item", prop_k_fast())
        # events without an item key are not basket members (mirrors the
        # oracle's empty-match guard — ADVICE r5)
        .filter(F.col("item").isNotNull())
        .select(
            "user_id",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "item",
        )
        .distinct()
    )
    baskets = items.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    item_supp = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select("user_id", "day", F.col("item").alias("item_a"))
    b = items.select("user_id", "day", F.col("item").alias("item_b"))
    pair_supp = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    return (
        pair_supp.join(
            F.broadcast(item_supp.withColumnRenamed("item", "item_a")
                        .withColumnRenamed("n_item", "n_a")),
            "item_a",
        )
        .join(
            F.broadcast(item_supp.withColumnRenamed("item", "item_b")
                        .withColumnRenamed("n_item", "n_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(baskets))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            (
                F.round(
                    F.col("n_pair").cast("double")
                    * F.col("n_baskets")
                    / (F.col("n_a") * F.col("n_b")),
                    6,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
    )


@register(
    "viewers_never_purchased",
    oracle="""
WITH mx AS (SELECT MAX(ts) AS mx FROM events),
win AS (
  SELECT e.* FROM events e, mx WHERE e.ts > mx.mx - INTERVAL 3 DAY
)
SELECT v.user_id,
       COUNT(*) AS n_views,
       MAX(epoch_ms(v.ts)) AS last_view_ms
FROM win v
WHERE v.event_type = 'view'
  AND NOT EXISTS (
    SELECT 1 FROM win p
    WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
  )
GROUP BY v.user_id
""",
)
def viewers_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recent never-converted audience: users who VIEWED in the last 3
    days of data but did not PURCHASE in that window — the retargeting
    segment every event pipeline extracts. The window anchor is a
    broadcast max-ts scalar; the exclusion is a LEFT ANTI join
    (Catalyst's native NOT EXISTS — the probe side streams, the
    purchaser key set builds once, nothing materialized per non-match),
    then one user-keyed aggregation."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    win = ev.crossJoin(F.broadcast(mx)).filter(
        F.col("ts") > F.col("mx") - F.expr("INTERVAL 3 DAYS")
    )
    purchasers = win.filter(F.col("event_type") == "purchase").select(
        "user_id"
    ).distinct()
    return (
        win.filter(F.col("event_type") == "view")
        .join(purchasers, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.max(F.unix_millis("ts")).alias("last_view_ms"),
        )
    )
