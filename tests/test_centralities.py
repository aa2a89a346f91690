"""Centralities on hand-computed graphs (networkx conventions)."""

from __future__ import annotations

import pytest

from aml_feature_store_spark.operators.graph import global_centralities


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_path_graph(spark):
    # a(0) - b(1) - c(2)
    out = {r["node"]: r for r in global_centralities(_pairs(spark, [(0, 1), (1, 2)])).collect()}
    assert out[1]["betweenness_centrality"] == pytest.approx(1.0)
    assert out[0]["betweenness_centrality"] == 0.0
    assert out[1]["closeness_centrality"] == pytest.approx(1.0)
    assert out[0]["closeness_centrality"] == pytest.approx(2 / 3, abs=1e-6)


def test_complete_graph_uniform(spark):
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    out = global_centralities(_pairs(spark, pairs)).collect()
    for r in out:
        assert r["closeness_centrality"] == pytest.approx(1.0)
        assert r["betweenness_centrality"] == 0.0


def test_star_graph_center(spark):
    pairs = [(0, i) for i in range(1, 6)]  # hub 0, 5 leaves
    out = {r["node"]: r for r in global_centralities(_pairs(spark, pairs)).collect()}
    assert out[0]["betweenness_centrality"] == pytest.approx(1.0)
    assert out[0]["closeness_centrality"] == pytest.approx(1.0)
    # leaf: dists = 1 + 4*2 = 9 → (5/9)*(5/5) = 0.5556
    assert out[1]["closeness_centrality"] == pytest.approx(5 / 9, abs=1e-6)


def test_max_nodes_guard(spark):
    with pytest.raises(Exception):
        global_centralities(
            _pairs(spark, [(0, 1), (1, 2), (2, 3)]), max_nodes=2
        ).collect()


def test_two_components_match_single_group(spark):
    # two disjoint graphs: path 0-1-2 and star 10-{11,12,13}; the
    # per-component run must equal the single-group run EXACTLY (shortest
    # paths never cross components; normalization keeps global N)
    pairs = [(0, 1), (1, 2), (10, 11), (10, 12), (10, 13)]
    split = {
        r["node"]: r
        for r in global_centralities(_pairs(spark, pairs)).collect()
    }
    single = {
        r["node"]: r
        for r in global_centralities(
            _pairs(spark, pairs), per_component=False
        ).collect()
    }
    assert set(split) == set(single)
    for node in single:
        assert split[node]["closeness_centrality"] == single[node]["closeness_centrality"]
        assert split[node]["betweenness_centrality"] == single[node]["betweenness_centrality"]


def test_connected_components_labels(spark):
    from aml_feature_store_spark.operators.graph import connected_components

    pairs = [(5, 6), (6, 7), (1, 2), (9, 9)]
    labels = {
        r["node"]: r["comp"]
        for r in connected_components(_pairs(spark, pairs)).collect()
    }
    assert labels == {5: 5, 6: 5, 7: 5, 1: 1, 2: 1, 9: 9}


def test_path_graph_65_nodes(spark):
    """A 65-node path through the per-component split: closed-form path
    centralities (node i: betweenness 2·i·(n−1−i)/((n−1)(n−2)), closeness
    (n−1)/Σdist)."""
    n = 65
    out = {
        r["node"]: r
        for r in global_centralities(
            _pairs(spark, [(i, i + 1) for i in range(n - 1)])
        ).collect()
    }
    assert sorted(out) == list(range(n))
    for i in range(n):
        j = n - 1 - i
        dist = i * (i + 1) // 2 + j * (j + 1) // 2
        assert out[i]["closeness_centrality"] == pytest.approx((n - 1) / dist, abs=1e-6)
        assert out[i]["betweenness_centrality"] == pytest.approx(
            2 * i * j / ((n - 1) * (n - 2)), abs=1e-6
        )


def test_multi_source_bfs_exact_distances(spark):
    """Path graph 1-2-3-4-5 plus isolated pair (8,9): exact BFS distances
    from two roots, unreachable nodes absent, max_depth cap honored."""
    from aml_feature_store_spark.operators.graph import multi_source_bfs

    und = [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    sources = spark.createDataFrame([(1,), (8,)], "node long")
    got = {
        (r["root"], r["node"]): r["dist"]
        for r in multi_source_bfs(edges, sources, max_depth=8).collect()
    }
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3, (1, 5): 4,
        (8, 8): 0, (8, 9): 1,
    }
    capped = {
        (r["root"], r["node"]): r["dist"]
        for r in multi_source_bfs(edges, sources, max_depth=2).collect()
    }
    assert (1, 4) not in capped and (1, 3) in capped


def test_landmark_closeness_networkx_convention(spark):
    """Star graph (center 0, leaves 1..4): center closeness = 1.0, leaf
    closeness = (n-1)/sum_dist * (n-1)/(N-1) with dist 1 + 2*3."""
    from aml_feature_store_spark.operators.graph import landmark_closeness

    und = [(0, 1), (0, 2), (0, 3), (0, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {
        r["node"]: r
        for r in landmark_closeness(edges, k_landmarks=2, max_depth=8).collect()
    }
    # landmarks: node 0 (degree 4) then node 1 (degree 1, lowest id tie)
    assert set(got) == {0, 1}
    assert got[0]["closeness"] == pytest.approx(1.0, abs=1e-9)
    # leaf: dists to 0,2,3,4 = 1,2,2,2 -> (4/7)*(4/4) = 0.571429
    assert got[1]["closeness"] == pytest.approx(round(4 / 7, 6), abs=1e-9)
    assert got[1]["n_reached"] == 4 and got[1]["total_dist"] == 7


def test_pagerank_star_converges_to_closed_form(spark):
    """Undirected star (center + 3 leaves): the stationary solution
    solves r_c = 0.15/4 + 0.85*3*r_l, r_l = 0.15/4 + 0.85*r_c/3 ->
    r_c = 0.133125/0.2775, r_l = (1 - r_c)/3. 60 iterations converge
    well past 9 dp."""
    from aml_feature_store_spark.operators.graph import pagerank

    pairs = [("c", "l1"), ("c", "l2"), ("c", "l3")]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], ["src", "dst"]
    )
    ranks = {r["node"]: r["pagerank"] for r in pagerank(edges, n_iters=60).collect()}
    r_c = 0.133125 / 0.2775
    assert ranks["c"] == pytest.approx(r_c, abs=1e-4)
    for leaf in ("l1", "l2", "l3"):
        assert ranks[leaf] == pytest.approx((1 - r_c) / 3, abs=1e-4)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-8)


def test_pagerank_ring_is_uniform(spark):
    """A directed 4-cycle is rank-regular: every node keeps exactly 1/n."""
    from aml_feature_store_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    )
    ranks = [r["pagerank"] for r in pagerank(edges, n_iters=8).collect()]
    assert ranks == [0.25] * 4


def test_hits_star_concentrates_authority(spark):
    """Directed star u1..u3 -> m plus a side edge u1 -> m2: the shared
    sink m must take (almost) all authority; u1 (touching both sinks)
    must out-hub the single-edge users. Scores are L2-normalized.

    Closed form: the authorities are the principal eigenvector of
    AᵀA = [[3, 1], [1, 1]], i.e. (cos π/8, sin π/8), and the hubs are
    A·a normalized. The eigenvalue ratio (2 − √2)/(2 + √2) ≈ 0.17
    shrinks the error per round; 8 rounds is the fewest within 1e-6."""
    import math

    from aml_feature_store_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("u1", "m"), ("u2", "m"), ("u3", "m"), ("u1", "m2")],
        ["src", "dst"],
    )
    rows = hits(edges, n_iters=8).collect()
    hubs = {r["node"]: r["score"] for r in rows if r["role"] == "hub"}
    auths = {r["node"]: r["score"] for r in rows if r["role"] == "authority"}
    assert auths["m"] > 0.9 and auths["m"] > auths["m2"]
    assert hubs["u1"] > hubs["u2"] == hubs["u3"]
    assert math.isclose(sum(v * v for v in hubs.values()), 1.0, abs_tol=1e-6)
    assert math.isclose(sum(v * v for v in auths.values()), 1.0, abs_tol=1e-6)
    c, s = math.cos(math.pi / 8), math.sin(math.pi / 8)
    norm = math.hypot(c + s, c, c)
    assert auths == pytest.approx({"m": c, "m2": s}, abs=1e-6)
    assert hubs == pytest.approx(
        {"u1": (c + s) / norm, "u2": c / norm, "u3": c / norm}, abs=1e-6
    )


def test_bounded_exact_matches_brandes(spark):
    """The r7 relational derivation (BFS + level-synchronous sigma + the
    pair-dependency sum) must agree with the numpy Brandes kernel on an
    irregular graph with multiple equal-length shortest paths."""
    import random

    from aml_feature_store_spark.operators.graph import (
        bounded_exact_centralities,
    )

    rng = random.Random(7)
    n = 14
    pairs = sorted(
        {
            (a, b)
            for _ in range(30)
            for a, b in [sorted(rng.sample(range(n), 2))]
        }
    )
    edges = _pairs(spark, pairs).selectExpr(
        "u as src", "v as dst"
    ).unionAll(_pairs(spark, pairs).selectExpr("v as src", "u as dst"))
    rel = {
        r["node"]: r for r in bounded_exact_centralities(edges).collect()
    }
    brandes = {
        r["node"]: r for r in global_centralities(_pairs(spark, pairs)).collect()
    }
    assert set(rel) == set(brandes)
    for node in rel:
        assert rel[node]["closeness_centrality"] == pytest.approx(
            brandes[node]["closeness_centrality"], abs=2e-6
        ), node
        assert rel[node]["betweenness_centrality"] == pytest.approx(
            brandes[node]["betweenness_centrality"], abs=2e-6
        ), node


def test_bounded_exact_includes_directed_sink_nodes(spark):
    """On a DIRECTED (non-symmetrized) edge list, nodes that only appear
    as destinations must still be output rows and count toward the
    n_nodes normalization (networkx includes every endpoint) — the r7
    src-only node derivation silently dropped them (ADVICE r8)."""
    from aml_feature_store_spark.operators.graph import (
        bounded_exact_centralities,
    )

    # path 0 -> 1 -> 2: node 2 is a pure sink (never a src)
    edges = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    rows = {r["node"]: r for r in bounded_exact_centralities(edges).collect()}
    assert set(rows) == {0, 1, 2}
    # sink: nothing reachable, closeness 0; never an intermediary
    assert rows[2]["closeness_centrality"] == pytest.approx(0.0)
    assert rows[2]["betweenness_centrality"] == pytest.approx(0.0)
    # node 1 lies on the single 0->2 shortest path: ordered-pair Brandes
    # dependency 1/((n-1)(n-2)) = 0.5
    assert rows[1]["betweenness_centrality"] == pytest.approx(0.5, abs=2e-6)
    # closeness, networkx reachable-set convention: node 0 reaches both
    # others at distances 1 and 2 -> (2/2) * (2/3) ... = (k-1)/sum_d * (k-1)/(n-1)
    # with k=3 reachable incl. self: ((3-1)/3) * ((3-1)/(3-1)) = 2/3
    assert rows[0]["closeness_centrality"] == pytest.approx(2 / 3, abs=2e-6)


def test_masked_bfs_equals_row_bfs_random_graph(spark):
    """multi_source_bfs_masked returns the exact same (root, node, dist)
    set as the row-based BFS on a seeded random directed graph (including
    multi-root same-round discoveries and the max_depth cap), plus the
    empty-sources and capped cases."""
    import numpy as np

    from aml_feature_store_spark.operators.graph import (
        multi_source_bfs,
        multi_source_bfs_masked,
    )

    rng = np.random.Generator(np.random.PCG64(42))
    n = 60
    pairs = {
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(240, 2))
        if a != b
    }
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    sources = spark.createDataFrame([(0,), (7,), (13,), (41,)], "node long")
    for depth in (2, 8):
        row = {
            (r["root"], r["node"], r["dist"])
            for r in multi_source_bfs(edges, sources, depth).collect()
        }
        masked = {
            (r["root"], r["node"], r["dist"])
            for r in multi_source_bfs_masked(edges, sources, depth).collect()
        }
        assert masked == row and row
    empty = multi_source_bfs_masked(
        edges, spark.createDataFrame([], "node long"), 8
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["root", "node", "dist"]


# Degenerate bipartite edge lists for the small-side pins, as (big, small)
# pairs; the small side has negative ids.
_DEGENERATE = {
    "empty": [],
    "one_edge": [(1, -1)],
    "dup_pairs": [(1, -1), (1, -1), (2, -1), (2, -2)],
    "null_big": [(1, -1), (2, -1), (2, -2), (None, -1), (None, -3)],
    "null_big_isolated": [(1, -1), (None, -2)],
    "null_small": [(1, -1), (2, -1), (2, -2), (1, None)],
}


def _bipartite(spark, graph, seed, schema):
    """The named degenerate graph, or a random bipartite graph of 1,500
    draws over 300 × 25 ids (about 1,350 distinct pairs)."""
    import numpy as np

    if graph != "random":
        return spark.createDataFrame(_DEGENERATE[graph], schema)
    rng = np.random.default_rng(seed)
    pairs = {
        (int(a), -int(b) - 1)
        for a, b in zip(rng.integers(0, 300, 1500), rng.integers(0, 25, 1500))
    }
    return spark.createDataFrame(sorted(pairs), schema)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize(
    "graph,n_iters",
    [("random", k) for k in (0, 1, 2, 8)] + [(g, 1) for g in _DEGENERATE],
)
def test_pagerank_smallside_equals_generic(spark, graph, n_iters):
    """pagerank_bipartite_smallside is BIT-equal (==, not approx) to the
    generic pagerank over the symmetrized edge list — the structural
    rewrite (adjacency arrays + one-row broadcast score map + explode
    partial-agg) may not change a single 12-dp intermediate — and so is
    its max_small_side fallback. A NULL `a` is a node that neither sends
    nor receives rank; a NULL `b` cannot key the broadcast map and raises
    on both routes."""
    from pyspark.sql import functions as F

    from aml_feature_store_spark.operators.graph import (
        pagerank,
        pagerank_bipartite_smallside,
    )

    base = _bipartite(spark, graph, 10, "a long, b long")
    small = lambda **kw: _rows(  # noqa: E731
        pagerank_bipartite_smallside(base, n_iters=n_iters, **kw)
    )
    if graph == "null_small":
        for kw in ({}, {"max_small_side": 0}):
            with pytest.raises(ValueError, match="edges.b must be non-NULL"):
                small(**kw)
        return
    sym = base.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        base.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    generic = _rows(pagerank(sym, n_iters=n_iters))
    assert small() == generic
    assert len(generic) > 300 or graph != "random"
    if (graph, n_iters) == ("random", 1):  # the fallback runs the generic kernel
        assert small(max_small_side=0) == generic


@pytest.mark.parametrize(
    "graph,n_iters",
    [("random", k) for k in (1, 2, 8)] + [(g, 1) for g in _DEGENERATE],
)
def test_hits_smallside_equals_generic(spark, graph, n_iters):
    """hits_smallside ≡ hits bit-exactly, including the L2-norm
    DECIMAL(38,0) recipe and the 12-dp resync, and so is its
    max_small_side fallback. A NULL `src` feeds no authority and is a hub
    only if it points at one; a NULL `dst` cannot key the broadcast map
    and raises on both routes."""
    from aml_feature_store_spark.operators.graph import hits, hits_smallside

    edges = _bipartite(spark, graph, 11, "src long, dst long")
    small = lambda **kw: _rows(  # noqa: E731
        hits_smallside(edges, n_iters=n_iters, **kw)
    )
    if graph == "null_small":
        for kw in ({}, {"max_small_side": 0}):
            with pytest.raises(ValueError, match="edges.dst must be non-NULL"):
                small(**kw)
        return
    generic = _rows(hits(edges, n_iters=n_iters))
    assert small() == generic
    assert len(generic) > 300 or graph != "random"
    if (graph, n_iters) == ("random", 1):  # the fallback runs the generic kernel
        assert small(max_small_side=0) == generic


def test_hits_smallside_build_checkpoints_once_per_round(spark):
    """An 8-round hits_smallside build on the random graph fires at most
    60 jobs: one eager checkpoint per round, about 6 jobs per round
    under AQE (each shuffle stage and each broadcast is its own job),
    plus the adjacency and count passes."""
    from aml_feature_store_spark.operators.graph import hits_smallside

    edges = _bipartite(spark, "random", 11, "src long, dst long")
    sc = spark.sparkContext
    sc.setJobGroup("hits_smallside_build", "hits_smallside_build")
    try:
        hits_smallside(edges, n_iters=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("hits_smallside_build")) <= 60


def test_round_dp_matches_duckdb_round(spark):
    """The graph kernels' 12-dp resync and 9-dp output rounding equals
    DuckDB's ``round(x, n)`` (the oracle's) on half-boundary doubles,
    where Spark's own ``round`` rounds a decimal-string 5 up."""
    import math
    import random

    import duckdb
    import pyarrow as pa
    from pyspark.sql import functions as F

    from aml_feature_store_spark.operators.graph import _round_dp

    rng = random.Random(408)
    xs = [0.0627800175]
    for dp in (9, 12):
        for _ in range(400):
            x = (rng.randrange(10**dp) + 0.5) / 10**dp
            xs += [x, math.nextafter(x, 0.0), math.nextafter(x, 1.0)]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    got = {
        r["i"]: (r["r9"], r["r12"])
        for r in df.select(
            "i",
            _round_dp(F.col("x"), 9).alias("r9"),
            _round_dp(F.col("x"), 12).alias("r12"),
        ).collect()
    }
    t = pa.table({"i": list(range(len(xs))), "x": xs})  # noqa: F841
    want = {
        i: (r9, r12)
        for i, r9, r12 in duckdb.sql(
            "SELECT i, round(x, 9), round(x, 12) FROM t"
        ).fetchall()
    }
    assert got == want
    assert got[0][0] == 0.062780017
    spark_round = df.filter("i = 0").select(F.round("x", 9)).first()[0]
    assert spark_round == 0.062780018
