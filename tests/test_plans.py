"""Physical-plan quality gates (SURVEY 'optimize for scale — concretely'):
pushdown, column pruning, broadcast joins, shuffle counts. These keep the
plans honest as the engine evolves — a regression here is a 100TB
regression even if results stay correct."""

from __future__ import annotations

import contextlib
import io

import pytest

from aml_feature_store_spark.catalog import queries

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes of a type (details section lists each once)."""
    import re

    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def _codegen(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    return buf.getvalue()


@pytest.fixture(scope="module")
def qs():
    return queries()


def test_pricing_summary_pushdown_and_pruning(spark, qs):
    plan = _plan(qs["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched columns must not be read
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read and "l_suppkey" not in read
    assert "l_quantity" in read


def test_regional_revenue_broadcasts_dims(spark, qs):
    plan = _plan(qs["regional_revenue"](spark, SF))
    assert _nodes(plan, "BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_trailing_multiwindow_single_shuffle(spark, qs):
    plan = _plan(qs["trailing_multiwindow_features"](spark, SF))
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Sort") == 1  # one sort feeds all three frames
    assert _nodes(plan, "Window") == 1  # one selectExpr: one Window node


def test_trailing_reads_only_needed_columns(spark, qs):
    plan = _plan(qs["trailing_1h_features"](spark, SF))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read and "event_type" not in read


def test_pit_join_is_single_window_pass(spark, qs):
    plan = _plan(qs["pit_join_purchases_24h"](spark, SF))
    # union-spine strategy: no join operator at all
    assert "Join" not in plan
    assert _nodes(plan, "Window") == 1


def test_top_orders_uses_window_group_limit(spark, qs):
    plan = _plan(qs["top_orders_per_customer"](spark, SF))
    assert "WindowGroupLimit" in plan  # top-k pushdown, no full per-group sort


def test_top_events_global_take_ordered(spark, qs):
    plan = _plan(qs["top_events_global"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_on_risk_model(spark, qs):
    plan = _codegen(qs["risk_scores"](spark, SF))
    # at least one fused codegen subtree; model math lives JVM-side
    assert "WholeStageCodegen subtrees" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_pairs_no_cartesian(spark, qs):
    plan = _plan(qs["dedup_simhash"](spark, SF))
    # band-bucketed candidates: equi-join on (band_id, band_val), never a
    # cartesian pair scan (operators/dedup.py simhash_pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_no_cartesian(spark, qs):
    # r2 verdict's last undeclared all-pairs: the crossJoin is replaced by
    # IVF bucket-pair candidates (triangle-inequality complete), so the
    # plan must contain only equi-joins
    plan = _plan(qs["embedding_near_dup_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_windowed_gini_single_shuffle_no_join(spark, qs):
    plan = _plan(qs["windowed_gini_24h"](spark, SF))
    # one (user, chunk) shuffle into the partition-batched Arrow kernel;
    # the old interval self-join shape (Join + second event_id shuffle)
    # must not return, and neither must per-group applyInPandas
    # (FlatMapGroupsInPandas), whose per-group pandas overhead dominated
    # once chunking multiplied the group count
    assert "Join" not in plan
    assert _nodes(plan, "Exchange") == 1
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_windowed_hhi_single_window_pass(spark, qs):
    plan = _plan(qs["windowed_hhi_24h"](spark, SF))
    assert "Join" not in plan
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Window") == 1


def _window_sections(plan: str) -> list[str]:
    """The formatted plan's detail section of every Window node."""
    import re

    return re.findall(r"\(\d+\) Window\b.*?(?=\n\(\d+\) |\Z)", plan, re.S)


def test_cumsum_strategy_single_shuffle_no_join(spark, qs):
    plan = _plan(qs["trailing_sums_cumsum_strategy"](spark, SF))
    # shadow-probe reattachment is a pivot aggregation that reuses the
    # window's entity partitioning — one Exchange total, never W joins
    assert "Join" not in plan
    assert _nodes(plan, "Exchange") == 1
    # the sums query is a projection of the full kernel: Catalyst prunes
    # the chunked extrema windows, leaving one cumulative Window + Sort
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "Sort") == 1
    windows = _window_sections(plan)
    assert len(windows) == 1
    assert not any(f in w for w in windows for f in ("max(", "min(")), windows


def test_cumsum_strategy_bucketized_plan_shape(spark):
    """Bucketized, the same projection keeps 1 Window + 1 Sort; the
    (entity, bucket) repartition adds the second Exchange."""
    from aml_feature_store_spark.operators.windows import (
        hot_entity_cuts,
        trailing_features_scalable,
    )
    from aml_feature_store_spark.queries.window_features import (
        SPEC_MULTI,
        _SUMS_COLS,
    )
    from aml_feature_store_spark.sources import load_table

    df = load_table(spark, SF, "events")
    hb = hot_entity_cuts(df, "user_id", "ts", 86400, min_rows=1)
    assert hb is not None
    plan = _plan(
        trailing_features_scalable(df, SPEC_MULTI, hot_buckets=hb).select(
            *_SUMS_COLS
        )
    )
    assert "Join" not in plan
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "Sort") == 1
    assert _nodes(plan, "Exchange") == 2


def test_no_single_partition_windows_in_drift_and_zscore(spark, qs):
    """KS/AUC/percent_rank formerly used Window.orderBy with no partition —
    a whole-relation single-partition sort at scale. The two-pass prefix
    scan must leave every window partitioned (by the range bucket `_b`)."""
    import re

    # a WindowExec's Arguments end "[funcs], [partitionSpec], [orderSpec]";
    # empty partitionSpec = whole relation in one partition
    unpartitioned = re.compile(r"\], \[\], \[[^\[\]]*(ASC|DESC)[^\[\]]*\]\s*$")
    for name in ("ks_drift_value", "model_auc", "population_zscore_per_user"):
        plan = _plan(qs[name](spark, SF))
        for line in plan.splitlines():
            if "windowspecdefinition" in line:
                assert not unpartitioned.search(line), (
                    f"{name}: unpartitioned window: {line}"
                )


def test_scalable_trailing_single_exchange(spark):
    """The O(rows) strategy's core property: ONE hash exchange on the
    entity serves the cumulative window AND every per-window chunked
    extrema window (their (entity, chunk) clustering is satisfied by the
    coarser hashpartitioning(entity)). Local sorts are fine; a second
    Exchange is a regression."""
    from aml_feature_store_spark.operators.windows import (
        TrailingWindowSpec,
        trailing_features_scalable,
    )
    from aml_feature_store_spark.sources import load_table

    df = load_table(spark, SF, "events")
    spec = TrailingWindowSpec(windows={"5m": 300, "1h": 3600, "24h": 86400})
    plan = _plan(trailing_features_scalable(df, spec))
    assert _nodes(plan, "Exchange") == 1


def test_span_dup_coverage_equi_joins_only(spark, qs):
    # corpus span-count join-back must stay an equi-join on the span key
    # (never a nested-loop), and the per-doc agg pre-combines map-side
    plan = _plan(qs["span_dup_coverage"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _nodes(plan, "Exchange") <= 4


def test_repetition_stats_equi_joins_only(spark, qs):
    plan = _plan(qs["repetition_stats"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dbscan_sliced_two_shuffles(spark, qs):
    # one Exchange for the per-user row_number window, one for the hash
    # buckets feeding the vectorized kernel — nothing else
    plan = _plan(qs["dbscan_outliers_sliced"](spark, SF))
    assert _nodes(plan, "Exchange") <= 2
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_and_take_ordered(spark, qs):
    """BM25: idf/corpus stats ride broadcasts, the term filter lands
    before the first aggregation's shuffle, and the final top-k is a
    TakeOrderedAndProject — no global Sort node materializes."""
    plan = _plan(qs["bm25_rank"](spark, SF))
    assert _nodes(plan, "TakeOrderedAndProject") == 1
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_uses_partitioned_window(spark, qs):
    """Per-doc top-k is a doc_id-partitioned window (no 'Moving all data
    to a single partition' shape) with the rank filter pushed into a
    WindowGroupLimit."""
    plan = _plan(qs["tfidf_top_terms"](spark, SF))
    assert _nodes(plan, "WindowGroupLimit") >= 1
    assert "partitionBy=[doc_id" in plan.replace(" ", "") or "doc_id" in plan


def test_decontamination_broadcasts_eval_grams(spark, qs):
    """The eval-side n-gram set is the broadcast build side; the training
    n-gram stream is probe-only (no shuffle of the exploded grams into a
    SortMergeJoin)."""
    plan = _plan(qs["benchmark_decontamination"](spark, SF))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_domain_mixture_no_single_partition_window(spark, qs):
    plan = _plan(qs["domain_mixture_weights"](spark, SF))
    assert _nodes(plan, "Window") == 0
