"""Unit tests: rule risk model (D1) and graph operators (J5/A27/A28), and
the exact oracle check of every query that calls the risk model or the
connected-components kernel."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from conftest import SF_CORRECT

from aml_feature_store_spark.functions.risk import risk_score
from aml_feature_store_spark.operators.graph import (
    edge_list,
    node_degrees,
    shared_neighbor_pairs,
)

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import check  # noqa: E402

FEATURE_SCHEMA = (
    "user_id long, txn_amount_sum_1h double, txn_count_1h long, "
    "velocity_score_1h double, unique_event_type_1h long, "
    "night_txn_count_24h long, night_txn_ratio_24h double"
)


def test_risk_score_zero_features(spark):
    df = spark.createDataFrame([(1, 0.0, 0, 0.0, 0, 0, 0.0)], FEATURE_SCHEMA)
    row = risk_score(df).collect()[0]
    assert row["risk_score"] == 0.0
    assert row["risk_level"] == "LOW"


def test_risk_score_maxed_features_clamped(spark):
    df = spark.createDataFrame(
        [(1, 50000.0, 100, 10.0, 10, 50, 1.0)], FEATURE_SCHEMA
    )
    row = risk_score(df).collect()[0]
    # all normalized terms cap at 1 → base = Σ weights = 1.0; bumps +0.6 → clamp 1
    assert row["risk_score"] == 1.0
    assert row["risk_level"] == "HIGH"


def test_risk_bucketing_boundaries(spark):
    # amount_sum normalizes to s/10000*0.25: pick values hitting each bucket
    rows = [
        (1, 4000.0, 0, 0.0, 0, 0, 0.0),   # 0.4*0.25 = 0.10 → LOW
        (2, 10000.0, 4, 0.0, 0, 0, 0.0),  # 0.25 + 0.4*0.2 = 0.33 → MEDIUM
        (3, 50000.0, 100, 10.0, 0, 0, 0.0),  # 0.25+0.2+0.2 + bumps 0.5 → HIGH
    ]
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    got = {r["user_id"]: r["risk_level"] for r in risk_score(df).collect()}
    assert got == {1: "LOW", 2: "MEDIUM", 3: "HIGH"}


def test_risk_score_matches_duckdb_when_bumps_stack(spark):
    """The oracle's CASE bumps are DECIMAL literals that sum exactly; the
    engine must not add 0.2 + 0.1 as doubles (0.30000000000000004). Rows
    where two or three bumps fire are compared bit for bit with DuckDB
    running risk_score_sql over the same rows."""
    import random

    import duckdb

    from aml_feature_store_spark.functions.risk import risk_score_sql

    rng = random.Random(11)
    rows = []
    for i in range(200):
        rows.append((
            i,
            rng.choice([rng.uniform(0, 9999), rng.uniform(10001, 20000)]),
            rng.randrange(0, 12),
            rng.uniform(1.51, 2.5),  # velocity bump fires
            rng.randrange(0, 6),
            rng.randrange(4, 9),  # night-count bump fires
            rng.random(),
        ))
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    got = {r["user_id"]: r["risk_score"] for r in risk_score(df).collect()}
    con = duckdb.connect()
    con.register("feats", df.toPandas())
    want = dict(
        con.sql(
            f"SELECT user_id, risk_score FROM ({risk_score_sql('SELECT * FROM feats')})"
        ).fetchall()
    )
    assert got == want


# every registered caller of risk_score, plus the one registered query
# over the connected-components kernel
ORACLE_EXACT_QUERIES = [
    "risk_scores",
    "model_calibration_bins",
    "model_auc",
    "model_eval_metrics",
    "batch_score_requests",
    "dedup_components_lsh",
]


@pytest.fixture(scope="module")
def oracle_con():
    import duckdb

    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(SF_CORRECT, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_EXACT_QUERIES)
def test_query_matches_oracle_exactly(spark, oracle_con, name):
    """The query on SF_CORRECT equals its catalog oracle on DuckDB with
    no tolerance, through tools/check.py's own compare."""
    import __spark_entry__ as ent

    sdf = ent.queries()[name](spark, SF_CORRECT).toPandas()
    odf = oracle_con.sql(ent.oracle_sql()[name]).df()
    assert check.compare(sdf, odf, name) == []


def _txn_df(spark):
    rows = [
        # (user, k, value)
        (1, 10, 100.0),
        (1, 10, 50.0),
        (1, 20, 25.0),
        (2, 10, 10.0),
        (3, 30, 5.0),
    ]
    return spark.createDataFrame(rows, "user_id long, prop_k long, value double")


def test_edge_list_weights(spark):
    e = {(r["src"], r["dst"]): r for r in edge_list(_txn_df(spark)).collect()}
    assert e[(1, 10)]["weight"] == 150.0 and e[(1, 10)]["n_txn"] == 2
    assert e[(1, 20)]["weight"] == 25.0
    assert len(e) == 4


def test_node_degrees_and_centrality(spark):
    edges = edge_list(_txn_df(spark))
    d = {r["node"]: r for r in node_degrees(edges, side="src").collect()}
    assert d[1]["degree"] == 2 and d[1]["weighted_degree"] == 175.0
    assert d[2]["degree"] == 1
    # nodes: 3 users + 3 ks = 6 → centrality = degree/5
    assert d[1]["degree_centrality"] == pytest.approx(2 / 5)


def test_shared_neighbor_pairs(spark):
    pairs = {
        (r["u"], r["v"]): r["shared_dsts"]
        for r in shared_neighbor_pairs(edge_list(_txn_df(spark))).collect()
    }
    assert pairs == {(1, 2): 1}  # users 1,2 share k=10; user 3 isolated


def test_shapley_efficiency_axiom(spark):
    """sum_i phi_i + base_value == pre-clamp margin, per entity (exact
    Shapley property for the additively separable rule model)."""
    from aml_feature_store_spark.operators.explain import shapley_linear

    rows = [
        (1, 500.0, 3, 0.5, 2, 1, 0.2),
        (2, 20000.0, 15, 3.0, 6, 5, 0.9),  # trips all three rule bumps
        (3, 0.0, 0, 0.0, 0, 0, 0.0),
    ]
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    phi = shapley_linear(df).toPandas()
    assert len(phi) == 3 * 6  # six features per entity
    # margin = weighted terms + bumps, before clamp
    import numpy as np

    margins = {1: None, 2: None, 3: None}
    for uid, amt, cnt, vel, uniq, night_c, night_r in rows:
        m = (
            min(amt / 10000.0, 1.0) * 0.25
            + min(cnt / 10.0, 1.0) * 0.20
            + min(vel / 2.0, 1.0) * 0.20
            + min(uniq / 5.0, 1.0) * 0.15
            + min(night_r / 1.0, 1.0) * 0.20
            + (0.3 if amt > 10000.0 else 0.0)
            + (0.2 if vel > 1.5 else 0.0)
            + (0.1 if night_c > 3.0 else 0.0)
        )
        margins[uid] = m
    g = phi.groupby("user_id").agg(phi_sum=("phi", "sum"), base=("base_value", "first"))
    for uid, row in g.iterrows():
        assert abs(row["phi_sum"] + row["base"] - margins[uid]) < 1e-5
    # base_value identical across entities (population property)
    assert phi["base_value"].nunique() == 1


def test_funnel_requires_strict_ordering(spark):
    """A purchase BEFORE the first qualifying click must not convert;
    a full v->c->p chain must."""
    import aml_feature_store_spark.queries.behavioral as bh

    rows = [
        # user 1: view(10) -> click(20) -> purchase(30): converts
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # user 2: purchase(5) precedes view(10)->click(20): no conversion
        (2, "purchase", 5), (2, "view", 10), (2, "click", 20),
        # user 3: click(5) precedes view(10): never reaches click stage
        (3, "click", 5), (3, "view", 10),
    ]
    import datetime as dt

    df = spark.createDataFrame(
        [
            (u, t, dt.datetime(2026, 1, 1, 0, 0, s))
            for u, t, s in rows
        ],
        "user_id long, event_type string, ts timestamp",
    )
    orig = bh.load_table
    try:
        bh.load_table = lambda *a, **k: df
        out = {r["user_id"]: r for r in bh.funnel_conversion(spark, "x").collect()}
    finally:
        bh.load_table = orig
    assert out[1]["converted"] and out[1]["reached_click"]
    assert out[2]["reached_click"] and not out[2]["converted"]
    assert not out[3]["reached_click"] and not out[3]["converted"]
