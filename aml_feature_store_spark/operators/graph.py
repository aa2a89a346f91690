"""Graph feature operators on an edge-list DataFrame (SURVEY §2.4 A27/A28,
§2.3 J5).

The reference builds a networkx customer–merchant/IP graph row by row
(reference: feature_engineering/advanced_features.py:23-105) and keeps
streaming edge weights in unbounded MapState (flink_job/
real_time_processor.py:270-332). Spark-first: the graph IS a DataFrame
``(src, dst, weight, n_txn)`` produced by one groupBy — degrees and
centralities are aggregations over it; 2-hop metrics are edge self-joins.

Scale notes: degree/weighted-degree is one shuffle. Triangle counting via
self-join explodes on hub nodes — cap or sample high-degree nodes at
production scale (documented approximation; betweenness/closeness are
inherently global and stay out of engine scope per SURVEY §4.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEC = "decimal(25,2)"


def _round_dp(col: Column, dp: int) -> Column:
    """``round(x, dp)`` with the oracle's double semantics: x·10^dp
    rounded to the nearest integer (half away from zero), divided back.
    Spark's ``F.round(x, dp)`` applies HALF_UP to x's decimal string
    instead, so it rounds up a double whose string ends in an exact 5
    past ``dp`` while DuckDB, rounding the scaled double, rounds it down
    (0.0627800175: Spark 0.062780018, DuckDB 0.062780017). At 0 dp the
    two agree, since a double that is not a half never prints as one."""
    scale = F.lit(float(10**dp))
    return F.round(col * scale, 0) / scale


def edge_list(
    df: DataFrame,
    src_col: str = "user_id",
    dst_col: str = "prop_k",
    amount_col: str = "value",
) -> DataFrame:
    """Weighted bipartite edge list: (src, dst) → Σamount, count (J5).

    Reference: advanced_features.py:30-50 (G.add_edge(customer, merchant,
    weight=amount_sum)); one hash aggregation here.
    """
    return df.groupBy(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).agg(
        F.sum(F.col(amount_col).cast(DEC)).cast("double").alias("weight"),
        F.count(F.lit(1)).alias("n_txn"),
    )


def node_degrees(edges: DataFrame, side: str = "src") -> DataFrame:
    """Degree / weighted degree / degree centrality per node (A27/A28).

    Degree centrality = degree / (N − 1) with N = total node count of the
    bipartite graph (networkx convention the reference relies on,
    advanced_features.py:64-69).
    """
    # bipartite: node universe = distinct src ∪ distinct dst (disjoint
    # types). The count folds in as a broadcast 1-row join, so the whole
    # operator is ONE lazy plan — no driver action, no persisted edge list
    # to leak; Catalyst's exchange reuse shares the edge aggregation
    # between the two subtrees.
    n = edges.agg(
        (F.countDistinct("src") + F.countDistinct("dst")).alias("_n_nodes")
    )
    deg = edges.groupBy(F.col(side).alias("node")).agg(
        F.count(F.lit(1)).alias("degree"),
        F.sum(F.col("weight").cast(DEC)).cast("double").alias("weighted_degree"),
        F.sum("n_txn").alias("total_txns"),
    )
    centrality = F.when(
        F.col("_n_nodes") > 1,
        F.col("degree").cast("double") / (F.col("_n_nodes") - 1).cast("double"),
    ).otherwise(F.lit(0.0))  # networkx convention for a single-node graph
    return deg.join(F.broadcast(n)).select(
        "node",
        "degree",
        "weighted_degree",
        "total_txns",
        centrality.alias("degree_centrality"),
    )


CENTRALITY_SCHEMA = "node long, closeness_centrality double, betweenness_centrality double"


MAX_ROUNDS = 32


def connected_components(
    pairs: DataFrame, u_col: str = "u", v_col: str = "v",
    max_rounds: int = MAX_ROUNDS,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14). Returns (node, comp) for every endpoint of
    ``pairs`` with comp = min node id of its component; a node whose only
    edge is a self-loop labels itself.

    Unlike min-label propagation (rounds ∝ diameter), star contraction
    shrinks component height geometrically, so rounds grow with
    log(component size) on any graph shape. Measured on local[4]: a
    65-node path converges in 7-8 rounds, a 301-node path in 9-10, a
    3,001-node path in 13-16 and a 20k-node random graph in 7-8; the loop
    stops at convergence, so the default bound costs nothing on graphs
    that converge. Each half-round is one groupBy (per-node min) plus one
    equi-join (attach the min back to each edge) — no collect_list, no
    driver-side graph. Each round's edge set is localCheckpoint-
    materialized, so the plan stays one round deep, and convergence is
    a single-row (count, xxhash64 bit_xor) probe per round, not a
    full-frame comparison.

    Both directions emit the same fixpoint: a star per component centered
    at its minimum id, so the final label read-off is one per-node min.

    Raises RuntimeError if the fixpoint is not reached within
    ``max_rounds`` — partial labels would silently split one component
    into several, so non-convergence is an error, never a fallthrough.
    """
    # the input is read once: self-loops stay in the checkpoint so the
    # final read-off still labels their node, and leave the contraction
    # through the filter
    und = (
        pairs.select(
            F.greatest(u_col, v_col).alias("u"), F.least(u_col, v_col).alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = und.filter(F.col("u") != F.col("v"))

    def _probe(x: DataFrame):
        # bit_xor: order-independent and overflow-free under ANSI mode
        # (a SUM of xxhash64 values overflows long)
        row = x.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    sig = _probe(edges)
    converged = sig[0] == 0
    for _ in range(max_rounds):
        if converged:
            break
        # large-star: every strictly-larger neighbor of u links to
        # m = min(N(u) ∪ {u}); symmetric processing covers both endpoints
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("_mv", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )
        # small-star: orient edges large→small; every smaller neighbor
        # (and u itself) links to the minimum
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(mins2, "u")
        small = (
            joined.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(
                joined.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = _probe(small)
        converged = new_sig == sig or new_sig[0] == 0
        sig = new_sig
        edges = small
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} "
            "rounds; raise max_rounds"
        )
    return (
        edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .unionByName(und.filter(F.col("u") == F.col("v")))
        .groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select(F.col("u").alias("node"), F.least("_mv", F.col("u")).alias("comp"))
    )


def multi_source_bfs(
    edges: DataFrame, sources: DataFrame, max_depth: int = 8
) -> DataFrame:
    """Distributed multi-source BFS: exact shortest-path distance from
    each source ("landmark") node to every node within ``max_depth`` hops.
    ``edges`` is a directed (src, dst) list — pass both directions for an
    undirected graph; ``sources`` has one ``node`` column.

    This is the Pregel / GraphFrames aggregateMessages shape expressed in
    DataFrames: each round joins the current frontier to the edge list,
    anti-joins out already-visited (root, node) pairs, and checkpoints to
    cut lineage. Rounds = min(graph diameter, max_depth) Spark jobs;
    distributed state is K·V (root, node, dist) rows — never a
    driver-side adjacency structure. The frontier-empty check is one
    bounded driver action per round, like connected_components'
    convergence probe, but BFS needs one round per hop (up to
    ``max_depth``) where star contraction needs O(log size) rounds.

    At 100 TB this is the published landmark/pivot pattern (Eppstein-
    Wang): K landmarks give exact per-landmark closeness and a 2-approx
    all-pairs distance bound at K·V state instead of V² — the only BFS
    shape that survives V in the billions.

    Returns (root, node, dist) with dist = exact BFS distance ≤ max_depth.
    """
    from functools import reduce

    frames = [
        sources.select(
            F.col("node").alias("root"), F.col("node"), F.lit(0).alias("dist")
        ).localCheckpoint(eager=True)
    ]
    frontier = frames[0]
    # materialize the edge list ONCE — every round joins against it, and
    # without this the upstream lineage (scan + parse + distinct) re-runs
    # per round; at cluster scale this is the standard Pregel edge persist
    e = edges.select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    ).localCheckpoint(eager=True)
    for d in range(1, max_depth + 1):
        # visited = union of already-materialized frontier frames — never
        # re-checkpointed, so each round costs ONE materialization (the
        # new frontier), not a rewrite of the whole distance set
        visited = reduce(
            DataFrame.union, (f.select("root", "node") for f in frames)
        )
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select("root", F.col("_d").alias("node"))
            .distinct()
            .join(visited, ["root", "node"], "left_anti")
            .withColumn("dist", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        frames.append(nxt)
        frontier = nxt
    return reduce(DataFrame.union, frames)


def multi_source_bfs_masked(
    edges: DataFrame, sources: DataFrame, max_depth: int = 8
) -> DataFrame:
    """Bitmask variant of :func:`multi_source_bfs` for SMALL source sets
    (K ≤ 62, r10): the K BFS waves share ONE per-node int64 bitmask
    instead of K·V (root, node) rows. Per round the frontier is at most V
    (node, mask) rows — small enough to BROADCAST, so the edge list never
    shuffles — and the row-BFS's ``distinct`` over up-to-K·|edges| joined
    rows becomes a ``bit_or`` aggregate over |edges| rows; the
    visited-set anti-join becomes one V-row full-outer mask merge. Same
    exact (root, node, dist) output (BFS distances are integers — any
    correct frontier expansion yields identical rows), pinned equal to
    the row variant in tests/test_centralities.py. Falls back to the row
    variant when K > 62. The ``sources`` collect is K bounded rows — the
    same driver budget as the per-round isEmpty check."""
    from functools import reduce

    spark = edges.sparkSession
    roots = sorted(int(r["node"]) for r in sources.select("node").collect())
    if len(roots) > 62:
        return multi_source_bfs(edges, sources, max_depth=max_depth)
    if not roots:
        return spark.createDataFrame([], "root bigint, node bigint, dist int")
    e = edges.select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    ).localCheckpoint(eager=True)
    init = spark.createDataFrame(
        [(n, 1 << j) for j, n in enumerate(roots)], "node bigint, mask bigint"
    ).localCheckpoint(eager=True)
    frames = [init.withColumn("dist", F.lit(0))]
    visited = init.withColumnRenamed("mask", "vmask")
    frontier = init
    for d in range(1, max_depth + 1):
        msgs = (
            e.join(F.broadcast(frontier), e["_s"] == frontier["node"])
            .groupBy(F.col("_d").alias("node"))
            .agg(F.bit_or("mask").alias("_m"))
        )
        merged = (
            visited.join(msgs, "node", "full_outer")
            .select(
                "node",
                F.coalesce("vmask", F.lit(0)).alias("_v"),
                F.coalesce("_m", F.lit(0)).alias("_mm"),
            )
            .select(
                "node",
                F.col("_v").bitwiseOR(F.col("_mm")).alias("vmask"),
                F.col("_mm")
                .bitwiseAND(F.col("_v").bitwiseXOR(F.lit(-1)))
                .alias("new"),
            )
            .localCheckpoint(eager=True)
        )
        frontier = merged.filter(F.col("new") != 0).select(
            "node", F.col("new").alias("mask")
        )
        if frontier.isEmpty():
            break
        visited = merged.select("node", "vmask")
        frames.append(frontier.withColumn("dist", F.lit(d)))
    allm = reduce(DataFrame.union, frames)
    return reduce(
        DataFrame.union,
        (
            allm.filter(
                F.col("mask").bitwiseAND(F.lit(1 << j)) != 0
            ).select(F.lit(n).cast("bigint").alias("root"), "node", "dist")
            for j, n in enumerate(roots)
        ),
    )


def landmark_closeness(
    edges: DataFrame, k_landmarks: int = 4, max_depth: int = 8
) -> DataFrame:
    """Exact closeness centrality (networkx convention, reachable-set
    scaled) for the K highest-degree nodes with src ≥ 0, via distributed
    multi-source BFS. Distances are capped at ``max_depth`` hops — the
    oracle applies the identical cap, so results stay engine-portable on
    graphs deeper than the cap (a documented bounded-radius closeness).

    Reference semantic: explainability-grade closeness from
    advanced_features.py's networkx closeness_centrality, restricted to
    landmark nodes so the computation is K·V, not V² (A28 at scale).

    r10: the edge list is materialized ONCE here — deg, n_nodes, and the
    BFS previously each re-ran the caller's upstream lineage (a
    10M-event parse + distinct at the 100× anchor, three times over) —
    and the BFS runs the bitmask variant (K ≤ 62 always holds here)."""
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    deg = (
        edges.filter(F.col("src") >= 0)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .orderBy(F.col("_deg").desc(), F.col("src").asc())
        .limit(k_landmarks)
        .select(F.col("src").alias("node"))
    )
    nn = edges.select("src").distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    dist = multi_source_bfs_masked(edges, deg, max_depth=max_depth)
    cnt = F.count(F.lit(1)).cast("double")
    sd = F.sum("dist").cast("double")
    return (
        dist.groupBy("root")
        .agg(
            (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("n_reached"),
            F.sum("dist").cast("long").alias("total_dist"),
            ((cnt - 1.0) / sd).alias("_inv"),
            (cnt - 1.0).alias("_nr"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("root").alias("node"),
            "n_reached",
            "total_dist",
            F.round(
                F.when(
                    F.col("total_dist") > 0,
                    F.col("_inv")
                    * (F.col("_nr") / (F.col("n_nodes").cast("double") - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("closeness"),
        )
    )


def bounded_exact_centralities(
    edges: DataFrame, max_depth: int = 8
) -> DataFrame:
    """Exact closeness AND betweenness centrality on a BOUNDED graph,
    computed entirely with relational operators (r7) — the oracle-checkable
    counterpart of :func:`global_centralities`'s numpy Brandes kernel.

    Decomposition (all joins/aggregations, no driver-side graph):
      1. all-sources BFS (:func:`multi_source_bfs` from every node) →
         exact distances d(s,v) capped at ``max_depth`` (bounded-radius
         semantics, mirrored by the oracle's identical cap);
      2. shortest-path counts σ(s,v) by level-synchronous counting:
         σ at level d = Σ σ of level-(d−1) in-neighbors, restricted to
         true level-d nodes — one join + aggregation per level;
      3. betweenness by Brandes' pair-dependency identity
         bet(v) = Σ_{s≠v≠t} [d(s,v)+d(v,t)=d(s,t)] · σ_sv·σ_vt/σ_st over
         ORDERED (s,t) pairs, normalized by (n−1)(n−2) — algebraically
         what Brandes' backward accumulation computes (Brandes 2001, eq. 6),
         but expressed as a three-way self-join + aggregation;
      4. closeness from the distance table (networkx reachable-set
         convention, same formula as :func:`landmark_closeness`).

    Determinism: each dependency term is snapped to the 1e-9 lattice and
    summed in DECIMAL(38,12) — exact, order-independent, mirrored by the
    DuckDB oracle. σ products stay in int64 (exact while σ_sv·σ_vt <
    2^53, far beyond any bounded slice this runs on).

    Scale contract: state is O(V²) distance/count rows and the dependency
    join is O(paths) — this is for BOUNDED subgraphs (deterministic
    slices, ego nets); the V-scalable paths are landmark_closeness (K·V)
    and the per-component Brandes kernel. Cross-checked against the numpy
    Brandes implementation in tests/test_centralities.py.
    """
    from functools import reduce

    e = edges.select("src", "dst").localCheckpoint(eager=True)
    # node set = union of BOTH endpoints: on a directed (non-symmetrized)
    # edge list a src-only derivation silently drops pure-sink nodes from
    # the output and from the n_nodes normalization (networkx includes
    # every endpoint). The symmetrized callers see the identical set, so
    # certified results are unchanged.
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_total = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    dist = multi_source_bfs(e, nodes, max_depth=max_depth).localCheckpoint(
        eager=True
    )
    cur = nodes.select(
        F.col("node").alias("root"), "node", F.lit(1).cast("long").alias("sigma")
    ).localCheckpoint(eager=True)
    frames = [cur.withColumn("dist", F.lit(0))]
    for d in range(1, max_depth + 1):
        lvl = dist.filter(F.col("dist") == d).select("root", "node")
        nxt = (
            cur.join(e, cur["node"] == e["src"])
            .select("root", F.col("dst").alias("node"), "sigma")
            .join(lvl, ["root", "node"])
            .groupBy("root", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        frames.append(nxt.withColumn("dist", F.lit(d)))
        cur = nxt
    sig = reduce(DataFrame.union, frames).localCheckpoint(eager=True)

    sv = sig.select(
        F.col("root").alias("s"),
        F.col("node").alias("v"),
        F.col("dist").alias("d1"),
        F.col("sigma").alias("g1"),
    )
    vt = sig.select(
        F.col("root").alias("v"),
        F.col("node").alias("t"),
        F.col("dist").alias("d2"),
        F.col("sigma").alias("g2"),
    )
    st = sig.select(
        F.col("root").alias("s"),
        F.col("node").alias("t"),
        F.col("dist").alias("d3"),
        F.col("sigma").alias("g3"),
    )
    term = F.round(
        (F.col("g1") * F.col("g2")).cast("double") / F.col("g3").cast("double"),
        9,
    )
    bet = (
        sv.filter(F.col("v") != F.col("s"))
        .join(vt.filter(F.col("v") != F.col("t")), "v")
        .filter(F.col("s") != F.col("t"))
        .join(st, ["s", "t"])
        .filter(F.col("d3") == F.col("d1") + F.col("d2"))
        .groupBy("v")
        .agg(
            F.sum(term.cast("decimal(38,12)")).cast("double").alias("_bsum")
        )
    )
    cnt = F.count(F.lit(1)).cast("double")
    clo = dist.groupBy("root").agg(
        # guard inside the agg, not just downstream: a root that reaches
        # only itself (directed pure sink) has Σdist = 0, and under ANSI
        # the unguarded quotient raises before the outer WHEN can mask it
        F.when(
            F.sum("dist") > 0, (cnt - 1.0) / F.sum("dist").cast("double")
        ).otherwise(F.lit(0.0)).alias("_inv"),
        (cnt - 1.0).alias("_nr"),
        F.sum("dist").cast("long").alias("_td"),
    )
    nd = F.col("n_nodes").cast("double")
    return (
        clo.crossJoin(F.broadcast(n_total))
        .join(bet.withColumnRenamed("v", "root"), "root", "left")
        .select(
            F.col("root").alias("node"),
            F.round(
                F.when(
                    F.col("_td") > 0,
                    F.col("_inv") * (F.col("_nr") / (nd - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("closeness_centrality"),
            F.round(
                F.when(
                    F.col("n_nodes") > 2,
                    F.coalesce(F.col("_bsum"), F.lit(0.0))
                    / ((nd - 1.0) * (nd - 2.0)),
                ).otherwise(0.0),
                6,
            ).alias("betweenness_centrality"),
        )
    )


def global_centralities(
    pairs: DataFrame,
    max_nodes: int = 20_000,
    u_col: str = "u",
    v_col: str = "v",
    per_component: bool = True,
) -> DataFrame:
    """Closeness + betweenness centrality on an undirected pair list
    (A28's inherently-global metrics; reference advanced_features.py:59-72
    networkx calls).

    At unbounded V these metrics do not decompose economically into
    relational operators (the exact relational form,
    :func:`bounded_exact_centralities`, carries O(V²) distance state and
    is reserved for bounded slices) — this is the documented
    applyInPandas escape hatch running Brandes' algorithm (2001,
    O(V·E)) in numpy, pinned equal to the relational derivation in
    tests/test_centralities.py. Shortest paths never cross components, so by
    default the graph is first split with distributed
    :func:`connected_components` and Brandes runs per component IN
    PARALLEL — ``max_nodes`` then guards the largest component, not the
    whole graph, and the output is identical to the single-group run
    (normalization deliberately keeps the GLOBAL node count, carried into
    each group, matching networkx on the full graph). The engine refuses
    silently-unbounded inputs.

    Conventions match networkx: closeness = (n_reachable−1)/Σdist scaled
    by (n_reachable−1)/(N−1); betweenness normalized by 2/((N−1)(N−2)).
    """
    import numpy as np
    import pandas as pd

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes = pd.unique(pd.concat([pdf["u"], pdf["v"]], ignore_index=True))
        n_local = len(nodes)
        n = int(pdf["_n_total"].iloc[0])  # GLOBAL node count (networkx N)
        if n_local > max_nodes:
            raise ValueError(
                f"component has {n_local} nodes > max_nodes={max_nodes}; "
                "cap degrees first"
            )
        idx = {x: i for i, x in enumerate(nodes)}
        adj: list[list[int]] = [[] for _ in range(n_local)]
        for a, b in zip(pdf["u"], pdf["v"]):
            ia, ib = idx[a], idx[b]
            adj[ia].append(ib)
            adj[ib].append(ia)
        closeness = np.zeros(n_local)
        betweenness = np.zeros(n_local)
        for s in range(n_local):
            # Brandes single-source shortest-path accumulation
            dist = np.full(n_local, -1, dtype=np.int64)
            sigma = np.zeros(n_local)
            dist[s] = 0
            sigma[s] = 1.0
            order: list[int] = []
            preds: list[list[int]] = [[] for _ in range(n_local)]
            queue = [s]
            while queue:
                nxt: list[int] = []
                for x in queue:
                    order.append(x)
                    for y in adj[x]:
                        if dist[y] == -1:
                            dist[y] = dist[x] + 1
                            nxt.append(y)
                        if dist[y] == dist[x] + 1:
                            sigma[y] += sigma[x]
                            preds[y].append(x)
                queue = nxt
            reach = dist >= 0
            nr = int(reach.sum())
            if nr > 1:
                total = float(dist[reach].sum())
                closeness[s] = ((nr - 1) / total) * ((nr - 1) / (n - 1))
            delta = np.zeros(n_local)
            for w in reversed(order):
                for p in preds[w]:
                    delta[p] += (sigma[p] / sigma[w]) * (1.0 + delta[w])
                if w != s:
                    betweenness[w] += delta[w]
        if n > 2:
            betweenness = betweenness / ((n - 1) * (n - 2))  # undirected: /2 ×2 paths
        return pd.DataFrame(
            {
                "node": nodes.astype("int64"),
                "closeness_centrality": np.round(closeness, 6),
                "betweenness_centrality": np.round(betweenness, 6),
            }
        )

    prepared = pairs.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    if per_component:
        comps = connected_components(prepared)
        grouped = prepared.join(
            comps.select(F.col("node").alias("u"), F.col("comp").alias("_g")),
            "u",
        )
        n_total = comps.agg(F.count(F.lit(1)).alias("_n_total"))
    else:
        grouped = prepared.withColumn("_g", F.lit(0))
        n_total = (
            prepared.select(F.col("u").alias("x"))
            .union(prepared.select(F.col("v").alias("x")))
            .agg(F.countDistinct("x").alias("_n_total"))
        )
    return (
        grouped.join(F.broadcast(n_total))
        .groupBy("_g")
        .applyInPandas(lambda pdf: compute(pdf), schema=CENTRALITY_SCHEMA)
    )


def shared_neighbor_pairs(edges: DataFrame) -> DataFrame:
    """Unipartite projection: (src_a, src_b) pairs sharing ≥1 dst, with the
    shared-neighbor count — the 2-hop self-join primitive behind
    clustering/triangle metrics (A28)."""
    a = edges.select(F.col("src").alias("u"), "dst")
    b = edges.select(F.col("src").alias("v"), "dst")
    return (
        a.join(b, "dst")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("shared_dsts"))
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 8,
    damping: float = 0.85,
    checkpoint_every: int = 2,
) -> DataFrame:
    """PageRank by fixed-round power iteration over a directed edge list
    (`src`, `dst` columns; pass a symmetrized list for undirected
    semantics — then every node has outdeg ≥ 1 and no dangling-mass
    term is needed).

    Determinism contract (mirrors the unrolled-CTE DuckDB oracle): every
    iteration's rank is rounded to 12 dp, resynchronizing Spark's and the
    oracle's float summation orders; the final output rounds to 9 dp.
    Both roundings are :func:`_round_dp`, the oracle's own ``round``.

    Scale shape: per iteration, one src-keyed broadcast-free join + one
    dst-keyed hash aggregation — the canonical distributed PageRank. The
    rank/outdeg/node frames are `localCheckpoint`-materialized (every
    `checkpoint_every` rounds — measured ~25% faster than per-round at
    the sf0.1 anchor, while keeping lineage depth bounded) so the
    plan stays O(1) deep across iterations instead of O(iters), and the
    edge list is scanned once per iteration (never re-derived from the
    source scan). A 1000-executor run partitions edges by src and
    reuses that layout every round.
    """
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    outdeg = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ).localCheckpoint(eager=True)
    # outdeg never changes across iterations — join it into the edge list
    # ONCE (r7: saves one src-keyed shuffle join per iteration; the r6
    # code re-joined outdeg in all 8 rounds). Same values, so the oracle
    # (which joins outdeg per unrolled CTE) is unaffected.
    edges_w = edges.join(outdeg, "src").localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pagerank", F.lit(0.0))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for it in range(n_iters):
        # per-edge contributions summed as 1e12-lattice longs (_snap);
        # per-dst sums are ≤ Σranks·1e12 ≈ 1e12, far inside int64
        contrib = (
            edges_w.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(
                (
                    F.sum(_snap(F.col("rank") / F.col("outdeg"))).cast("double")
                    / F.lit(1e12)
                ).alias("c")
            )
        )
        ranks = (
            nodes.join(
                contrib.withColumnRenamed("dst", "node"), "node", "left"
            )
            .select(
                "node",
                _round_dp(
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("c", F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        )
        if (it + 1) % checkpoint_every == 0 or it == n_iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node", (_round_dp(F.col("rank"), 9) + F.lit(0.0)).alias("pagerank")
    )


def _snap(c: Column) -> Column:
    """The nearest 1e12-lattice integer of a score x ≤ 1: the fp error of
    x·1e12 is ≲1e-4 ≪ 0.5, so Spark and the oracle compute the same long
    from bit-identical doubles, and long sums are order-independent."""
    return F.floor(c * F.lit(1e12) + F.lit(0.5))


def _guarded_norm(side: str):
    """The L2 norm column with an explicit overflow trap: a DECIMAL(38,0)
    sum that overflows yields NULL (non-ANSI) — dividing by it would
    silently NULL every score, while the DuckDB oracle's HUGEINT raises.
    Raise loudly instead, naming the documented bound (Σ raw² < 1e14)."""
    return F.when(
        F.col("nrm").isNotNull() & (F.col("nrm") > 0), F.col("nrm")
    ).otherwise(
        F.raise_error(
            F.lit(
                f"hits: {side} L2 norm overflowed DECIMAL(38,0) "
                "(sum of squared 1e12-scaled scores >= 1e38, i.e. "
                "sum(raw^2) >= 1e14 — a node with degree >= ~1e7); "
                "shard the hot node or lower the lattice scale"
            )
        )
    )


def _l2(raw: Column) -> Column:
    """HITS's exact L2 norm ``nrm`` of 1e12-lattice longs: (19,0)² products
    summed at DECIMAL(38,0), exact while Σ raw² < 1e14 (raw in score
    units). In round 1 raw is the in-degree, so one node of in-degree
    ≥ ~1e7 overflows; :func:`_guarded_norm` raises on that, as DuckDB's
    HUGEINT does. The 1e12 scale cancels in raw / nrm."""
    return F.sqrt(
        F.sum(raw.cast("decimal(19,0)") * raw.cast("decimal(19,0)")).cast(
            "double"
        )
    ).alias("nrm")


def hits(
    edges: DataFrame, n_iters: int = 8, checkpoint_every: int = 2
) -> DataFrame:
    """HITS hubs-and-authorities by fixed-round mutual recursion over a
    DIRECTED edge list: a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v), each
    L2-normalized per round (Kleinberg 1999). On the user→merchant
    bipartite graph, hub scores rank users by how broadly they touch
    high-traffic merchants, authority scores rank merchants — the
    complementary eigenvector pair to PageRank's single stationary
    vector.

    Same determinism/scale recipe as :func:`pagerank`: per-round 12-dp
    resync rounding against an unrolled-CTE oracle, src/dst-keyed joins
    and aggregations only, `localCheckpoint` lineage cuts every
    `checkpoint_every` rounds. Output: one row per node with its role
    ('hub' for sources, 'authority' for destinations) and 9-dp score.
    """
    if n_iters < 1:
        raise ValueError("hits() needs at least one iteration")
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    hubs = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "s", F.lit(1.0)
    ).localCheckpoint(eager=True)

    def half_step(scores, on, by, side):
        raw = (
            edges.join(scores.withColumnRenamed("node", on), on)
            .groupBy(by)
            .agg(F.sum(_snap(F.col("s"))).alias("raw"))
        )
        return raw.crossJoin(F.broadcast(raw.agg(_l2(F.col("raw"))))).select(
            F.col(by).alias("node"),
            _round_dp(F.col("raw").cast("double") / _guarded_norm(side), 12)
            .alias("s"),
        )

    for it in range(n_iters):
        cp = (it + 1) % checkpoint_every == 0 or it == n_iters - 1
        # checkpoint auths before hubs read them, so the hubs checkpoint
        # is one join+agg from a fresh snapshot, not the whole round
        auths = half_step(hubs, "src", "dst", "authority")
        if cp:
            auths = auths.localCheckpoint(eager=True)
        hubs = half_step(auths, "dst", "src", "hub")
        if cp:
            hubs = hubs.localCheckpoint(eager=True)
    return _hits_output(hubs, auths)


def _hits_output(hubs: DataFrame, auths: DataFrame) -> DataFrame:
    return hubs.select(
        "node", F.lit("hub").alias("role"),
        (_round_dp(F.col("s"), 9) + F.lit(0.0)).alias("score"),
    ).union(
        auths.select(
            "node", F.lit("authority").alias("role"),
            (_round_dp(F.col("s"), 9) + F.lit(0.0)).alias("score"),
        )
    )


def _spread(big: DataFrame, arr: str, key: str, weight: Column) -> DataFrame:
    """Big side → small side: explode each adjacency array with its row's
    lattice weight and sum the longs per small-side ``key`` into ``_c``.
    Partial aggregation runs before the shuffle, so the shuffle carries
    at most |small side| × n_partitions rows."""
    return (
        big.select(weight.alias("_w"), F.explode(arr).alias(key))
        .groupBy(key)
        .agg(F.sum("_w").alias("_c"))
    )


def _gather(arr: str, term) -> Column:
    """Small side → big side: Σ ``term(_m[x])`` over each adjacency array,
    ``_m`` being the one-row broadcast map crossJoined onto the row. A key
    absent from the map adds nothing, as an edge that finds no score row
    drops out of the generic kernels' inner join."""
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.coalesce(term(F.element_at(F.col("_m"), x)), F.lit(0)),
    )


def _score_map(
    df: DataFrame, key: str, raw: Column, *extra: Column, value=lambda v: v
) -> DataFrame:
    """One-row frame ``_m``: map<key → value(raw)> over a SMALL frame, the
    broadcast side of the small-side kernels (the broadcast-join idiom:
    one row × |small side| entries). ``extra`` aggregates, such as a
    norm, share the aggregate row, so ``value`` may read them; it runs
    once per key, never per edge."""
    return df.agg(
        F.collect_list(F.struct(F.col(key).alias("k"), raw.alias("v")))
        .alias("_e"),
        *extra,
    ).select(
        F.map_from_entries(
            F.transform("_e", lambda e: F.struct(e["k"], value(e["v"])))
        ).alias("_m")
    )


def _small_side(df: DataFrame, key: str, fn: str) -> int:
    """The row count of ``df``, one row per small-side id, in the job
    ``count`` would run. A NULL id raises: the ids key the broadcast map,
    and a map key cannot be NULL."""
    n, n_null = df.agg(
        F.count(F.lit(1)), F.count(F.when(F.col(key).isNull(), 1))
    ).first()
    if n_null:
        raise ValueError(f"{fn}: edges.{key} must be non-NULL (map key)")
    return n


def pagerank_bipartite_smallside(
    edges: DataFrame,
    n_iters: int = 8,
    damping: float = 0.85,
    max_small_side: int = 2_000_000,
) -> DataFrame:
    """PageRank over the SYMMETRIZED bipartite graph (`a`, `b` columns,
    disjoint id domains), specialized for a bounded-small `b` side:
    bit-identical to ``pagerank(edges.union(edges.reversed))``
    (pytest-pinned), with no symmetrized edge list and no per-round edge
    join. The `a`-side adjacency ``(a, [b...], outdeg)`` is grouped once.
    Each round then makes the a-side ranks by :func:`_gather` against the
    one-row map of the b side's lattice contributions, inline in the
    same scan that makes the b-side ranks by :func:`_spread`: one
    adjacency pass and one eager ``localCheckpoint`` (of the |b|-row
    ``(b, outdeg, r)`` frame) per round. Under AQE, where each shuffle
    stage and each broadcast is its own job, an 8-round build of a 300 ×
    25 graph runs 47 jobs.

    `b` must be non-NULL (it keys the map; ``ValueError`` otherwise, on
    every route). A NULL `a` is one node that neither sends nor receives
    rank, as in the generic kernel's src-keyed join. Above
    ``max_small_side`` distinct `b` ids (the map's broadcast bound, ~2M
    entries ≈ 32 MB) it falls back to the generic :func:`pagerank`. The
    arithmetic is the generic kernel's (per-edge lattice snaps, long
    sums, 12-dp resync, 9-dp output), so the unrolled-CTE oracle of
    `pagerank_bipartite` applies verbatim.
    """
    edges = edges.select("a", "b").localCheckpoint(eager=True)
    adj = (
        edges.groupBy("a")
        .agg(F.collect_list("b").alias("bs"), F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    bdeg = (
        edges.groupBy("b")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    n_a = adj.count()
    n_b = _small_side(bdeg, "b", "pagerank_bipartite_smallside")
    if n_b > max_small_side:
        sym = edges.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        return pagerank(sym, n_iters=n_iters, damping=damping)
    n = n_a + n_b
    if n == 0:
        return adj.select(F.col("a").alias("node")).withColumn(
            "pagerank", F.lit(0.0)
        )
    base = (1.0 - damping) / n
    lattice = _snap(F.col("r") / F.col("outdeg"))
    rank_of = lambda c: _round_dp(  # noqa: E731
        F.lit(base) + F.lit(damping) * (c.cast("double") / F.lit(1e12)), 12
    )
    live = F.col("a").isNotNull()

    def a_side(mb):  # the a-side ranks one round after the b-side's `mb`
        if mb is None:
            return adj.withColumn("r", F.lit(1.0 / n))
        return adj.crossJoin(F.broadcast(_score_map(mb, "b", lattice))).withColumn(
            "r", rank_of(F.when(live, _gather("bs", lambda v: v)).otherwise(0))
        )

    # Only mb_{k-2} and mb_{k-1} are read, so two slots: a dropped
    # reference lets the ContextCleaner free that round's checkpoint.
    mbs = [None, bdeg.withColumn("r", F.lit(1.0 / n))]
    for _ in range(n_iters):
        mb = (
            _spread(a_side(mbs[0]), "bs", "b", F.when(live, lattice).otherwise(0))
            .join(F.broadcast(bdeg), "b")
            .select("b", "outdeg", rank_of(F.col("_c")).alias("r"))
            .localCheckpoint(eager=True)
        )
        mbs = [mbs[1], mb]
    out = lambda df, key: df.select(  # noqa: E731
        F.col(key).alias("node"),
        (_round_dp(F.col("r"), 9) + F.lit(0.0)).alias("pagerank"),
    )
    return out(a_side(mbs[0]), "a").union(out(mbs[1], "b"))


def hits_smallside(
    edges: DataFrame,
    n_iters: int = 8,
    max_small_side: int = 2_000_000,
) -> DataFrame:
    """HITS over a DIRECTED bipartite edge list (`src`, `dst`, disjoint id
    domains) specialized for a bounded-small `dst` side: bit-identical to
    :func:`hits` (pytest-pinned), on the helpers of
    :func:`pagerank_bipartite_smallside`. The src-side adjacency
    ``(src, [dst...])`` is grouped once. Each round then builds ONE eager
    ``localCheckpoint``, the one-row authority map: :func:`_spread` of
    the hubs' lattice scores, with the L2 norm taken in the same
    aggregate row, so each authority is normalized and 12-dp rounded
    once. The hubs stay lazy: :func:`_gather` against that map,
    normalized by a broadcast one-row norm aggregate. The last round's
    authorities are read off its map with ``explode``. Under AQE each
    shuffle stage and each broadcast is its own job: a round after the
    first runs 6 (the previous map's broadcast, the hub norm's stage and
    broadcast, the spread's stage, the map aggregate's stage, the
    checkpoint), so an 8-round build runs 51 with the setup passes.

    `dst` must be non-NULL (it keys the map; ``ValueError`` otherwise, on
    every route). A NULL `src` gives no authority score and is a hub only
    if it points at an authority, as in the generic kernel's joins. Falls
    back to :func:`hits` above ``max_small_side`` distinct `dst` ids. The
    arithmetic is :func:`hits`'s (lattice snaps, long sums, DECIMAL(38,0)
    L2 norms with the overflow trap, 12-dp resync, 9-dp output), so the
    unrolled-CTE oracle applies verbatim.
    """
    if n_iters < 1:
        raise ValueError("hits_smallside() needs at least one iteration")
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    adj = (
        edges.groupBy("src")
        .agg(F.collect_list("dst").alias("ds"))
        .localCheckpoint(eager=True)
    )
    n_dst = _small_side(edges.select("dst").distinct(), "dst", "hits_smallside")
    if n_dst > max_small_side:
        return hits(edges, n_iters=n_iters)
    live = F.col("src").isNotNull()
    hit = live | F.exists("ds", lambda x: F.map_contains_key(F.col("_m"), x))
    hubs = adj.withColumn("s", F.lit(1.0))
    for _ in range(n_iters):
        amap = _score_map(
            _spread(hubs.where(live), "ds", "dst", _snap(F.col("s"))),
            "dst",
            F.col("_c"),
            _l2(F.col("_c")),
            value=lambda raw: _round_dp(
                raw.cast("double") / _guarded_norm("authority"), 12
            ),
        ).localCheckpoint(eager=True)
        h = adj.crossJoin(F.broadcast(amap)).where(hit).withColumn(
            "raw", _gather("ds", _snap)
        )
        hubs = h.crossJoin(F.broadcast(h.agg(_l2(F.col("raw"))))).withColumn(
            "s", _round_dp(F.col("raw").cast("double") / _guarded_norm("hub"), 12)
        )
    return _hits_output(
        hubs.withColumnRenamed("src", "node"),
        amap.select(F.explode("_m").alias("node", "s")),
    )
