"""Registered queries: trailing-window feature family (SURVEY §2 A1-A8, W1).

`events` stands in for the transaction log: user_id→customer_id,
value→amount, ts→event_timestamp, event_type→merchant-ish category
(FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import register
from ..operators.windows import (
    TrailingWindowSpec,
    trailing_features,
    trailing_features_auto,
    trailing_features_scalable,
    trailing_features_sql_oracle,
    trailing_sums_scalable_oracle,
)
from ..sources import load_table

# core spec: count/sum/avg/max/min/std/velocity over 1h — the
# customer_transaction_features view (reference: feature_repo/definitions.py:27-46)
SPEC_1H = TrailingWindowSpec(windows={"1h": 3600})
_CORE_COLS_1H = [
    "event_id",
    "user_id",
    "txn_count_1h",
    "txn_amount_sum_1h",
    "avg_txn_amount_1h",
    "max_txn_amount_1h",
    "min_txn_amount_1h",
    "std_txn_amount_1h",
    "velocity_score_1h",
]


@register("trailing_1h_features", oracle=trailing_features_sql_oracle(SPEC_1H))
def trailing_1h_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1h count/sum/avg/max/min/std/velocity per user.

    Reference semantics: flink_job/aml_stream_processor.py:147-163 (per-event
    trailing windows); one WindowExec pass, single shuffle on user_id.
    """
    df = load_table(spark, sf_dir, "events")
    return trailing_features(df, SPEC_1H).select(*_CORE_COLS_1H)


SPEC_MULTI = TrailingWindowSpec(windows={"5m": 300, "1h": 3600, "24h": 86400})


def _multi_cols() -> list[str]:
    cols = ["event_id", "user_id"]
    for w in SPEC_MULTI.windows:
        cols += [
            f"txn_count_{w}",
            f"txn_amount_sum_{w}",
            f"avg_txn_amount_{w}",
            f"max_txn_amount_{w}",
            f"min_txn_amount_{w}",
            f"std_txn_amount_{w}",
            f"velocity_score_{w}",
        ]
    return cols


# the invertible metrics of SPEC_MULTI, in the sums query's column order
_SUMS_COLS = ["user_id", "event_id"] + [
    f"{m}_{w}"
    for w in SPEC_MULTI.windows
    for m in ("txn_count", "txn_amount_sum", "avg_txn_amount", "velocity_score")
]


@register(
    "trailing_sums_cumsum_strategy",
    oracle=trailing_sums_scalable_oracle(SPEC_MULTI),
)
def trailing_sums_cumsum_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The big-frame physical strategy for the invertible trailing-window
    aggregates: cumulative sums + shadow probes, O(rows) independent of
    frame width (vs WindowExec's O(rows × frame)). Same semantics, same
    oracle family as trailing_multiwindow_features — two physical plans,
    one logical operator.

    Engine plan: the one cum+probe kernel, trailing_features_scalable,
    projected to count/sum/avg/velocity; Catalyst prunes the extrema,
    sum-of-squares and their stitch columns (1 Exchange + 1 Sort + 1
    Window unbucketized). Hot entities (r10 s5) additionally
    time-bucketize so one key can't serialize a task — see
    trailing_features_scalable(hot_buckets=...)."""
    from ..operators.windows import hot_entity_cuts

    df = load_table(spark, sf_dir, "events")
    hb = hot_entity_cuts(
        df, SPEC_MULTI.entity_col, SPEC_MULTI.ts_col,
        max(SPEC_MULTI.windows.values()),
    )
    return trailing_features_scalable(df, SPEC_MULTI, hot_buckets=hb).select(
        *_SUMS_COLS
    )


@register(
    "trailing_multiwindow_features",
    oracle=trailing_features_sql_oracle(SPEC_MULTI),
)
def trailing_multiwindow_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event features over 5m/1h/24h trailing windows in ONE window pass.

    Replaces the reference's six-window per-event loop
    (flink_job/real_time_processor.py:153-230): Catalyst collapses all
    frames sharing (partition, order) into a single sort + WindowExec.

    Physical strategy is adaptive (trailing_features_auto): a frame-density
    estimate picks WindowExec for sparse frames or the O(rows)
    cumsum/chunked-extrema plan for dense ones — bit-identical results
    either way (property-tested), same oracle.
    """
    df = load_table(spark, sf_dir, "events")
    return trailing_features_auto(df, SPEC_MULTI).select(*_multi_cols())
