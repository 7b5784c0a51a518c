"""Graph operator tests vs a pure-python Dijkstra reference on a
planted Manhattan-like grid (FIXTURES.md §6 shape)."""

from __future__ import annotations

import heapq
import random

from pyspark.sql import functions as F

from geo_big_data_analysis_spark.graph.algorithms import (
    convex_hull,
    degrees,
    isochrone_nodes,
    points_in_hull,
    shortest_path_length,
    shortest_path_route,
    sssp,
    sssp_distributed,
)

N = 8  # 8×8 grid


def _grid_graph():
    """Grid with deterministic pseudo-random weights; 4-neighbor edges."""
    rnd = random.Random(42)
    nodes = [(r * N + c, float(c) * 100.0, float(r) * 100.0) for r in range(N) for c in range(N)]
    edges = []
    for r in range(N):
        for c in range(N):
            u = r * N + c
            if c + 1 < N:
                edges.append((u, u + 1, 100.0 + rnd.uniform(0, 20)))
            if r + 1 < N:
                edges.append((u, u + N, 100.0 + rnd.uniform(0, 20)))
    return nodes, edges


def _dijkstra(edges, source, directed=False):
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
        if not directed:
            adj.setdefault(v, []).append((u, w))
    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def test_degrees_grid_distribution(spark):
    nodes, edges = _grid_graph()
    edf = spark.createDataFrame(edges, ["src", "dst", "weight"])
    deg = {r.id: r.degree for r in degrees(edf).collect()}
    # closed-form: corners 2, edges 3, interior 4 (FIXTURES.md §6)
    from collections import Counter

    c = Counter(deg.values())
    assert c[2] == 4 and c[3] == 4 * (N - 2) and c[4] == (N - 2) ** 2


def test_sssp_matches_dijkstra(spark):
    nodes, edges = _grid_graph()
    edf = spark.createDataFrame(edges, ["src", "dst", "weight"])
    ref = _dijkstra(edges, 0)
    got = {r.id: r.dist for r in sssp(edf, 0, directed=False).collect()}
    assert set(got) == set(ref)
    assert all(abs(got[k] - ref[k]) < 1e-9 for k in ref)


def test_sssp_distributed_matches_driver_path(spark):
    # cross-verify the scale path against the driver path on a smaller grid
    rnd = random.Random(1)
    n = 5
    edges = []
    for r in range(n):
        for c in range(n):
            u = r * n + c
            if c + 1 < n:
                edges.append((u, u + 1, 1.0 + rnd.uniform(0, 1)))
            if r + 1 < n:
                edges.append((u, u + n, 1.0 + rnd.uniform(0, 1)))
    edf = spark.createDataFrame(edges, ["src", "dst", "weight"])
    ref = _dijkstra(edges, 0)
    got = {r.id: r.dist for r in sssp_distributed(edf, 0, directed=False).collect()}
    assert set(got) == set(ref)
    assert all(abs(got[k] - ref[k]) < 1e-9 for k in ref)


def test_sssp_directed_unreachable(spark):
    edf = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], ["src", "dst", "weight"])
    got = {r.id: r.dist for r in sssp(edf, 2, directed=True).collect()}
    assert got == {2: 0.0}  # nothing reachable from sink


def test_shortest_path_length_corner_to_corner(spark):
    nodes, edges = _grid_graph()
    edf = spark.createDataFrame(edges, ["src", "dst", "weight"])
    ref = _dijkstra(edges, 0)[N * N - 1]
    got = shortest_path_length(edf, 0, N * N - 1, directed=False)
    assert abs(got - ref) < 1e-9


def test_isochrone_cutoff_set(spark):
    nodes, edges = _grid_graph()
    ndf = spark.createDataFrame(nodes, ["id", "x", "y"])
    edf = spark.createDataFrame(edges, ["src", "dst", "weight"])
    radius = 350.0
    ref = {k for k, v in _dijkstra(edges, 0).items() if v <= radius}
    iso = isochrone_nodes(edf, ndf, 0, radius, weight="weight", directed=False)
    assert {r.id for r in iso.collect()} == ref


def test_shortest_path_route_basic(spark):
    # direct edge 0-2 costs 5; the detour through 1 costs 2 → route 0,1,2
    edf = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0)], ["src", "dst", "weight"]
    )
    route = shortest_path_route(edf, 0, 2, directed=False).collect()
    assert [(r.seq, r.node_id, r.dist_along) for r in route] == [
        (0, 0, 0.0),
        (1, 1, 1.0),
        (2, 2, 2.0),
    ]


def test_shortest_path_route_min_id_tiebreak(spark):
    # two equal-cost routes to 3 (via 1 or via 2) → min-id predecessor wins
    edf = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)],
        ["src", "dst", "weight"],
    )
    route = shortest_path_route(edf, 0, 3, directed=False).collect()
    assert [r.node_id for r in route] == [0, 1, 3]


def test_shortest_path_route_unreachable(spark):
    edf = spark.createDataFrame([(0, 1, 1.0)], ["src", "dst", "weight"])
    assert shortest_path_route(edf, 0, 5, directed=False).count() == 0


def test_shortest_path_route_distributed_matches_driver(spark, force_distributed):
    """Forced, the route runs distributed SSSP, the predecessor join and
    the per-hop filter walk of the predecessor table."""
    _, edges = _grid_graph()
    edf = spark.createDataFrame(edges, ["src", "dst", "weight"])
    tgt = max(max(s, d) for s, d, _ in edges)
    drv = shortest_path_route(edf, 0, tgt, directed=False).collect()
    force_distributed()
    dst = shortest_path_route(edf, 0, tgt, directed=False).collect()
    assert [(r.seq, r.node_id) for r in drv] == [(r.seq, r.node_id) for r in dst]
    for a, b in zip(drv, dst):
        assert abs(a.dist_along - b.dist_along) < 1e-9


def test_convex_hull_and_membership(spark):
    pts = spark.createDataFrame(
        [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (2.0, 2.0), (1.0, 3.0)],
        ["x", "y"],
    )
    hull = convex_hull(pts)
    assert sorted(hull) == [(0.0, 0.0), (0.0, 4.0), (4.0, 0.0), (4.0, 4.0)]
    probe = spark.createDataFrame([(1, 2.0, 2.0), (2, 5.0, 2.0)], ["id", "x", "y"])
    inside = points_in_hull(probe, hull)
    assert [r.id for r in inside.collect()] == [1]


def test_triangle_counts_known_graph(spark):
    from geo_big_data_analysis_spark.graph.algorithms import triangle_counts

    # K4 on {0,1,2,3} plus a pendant edge (4,5): 4 triangles, each K4
    # node in exactly 3; pendant nodes in none. Edges given in mixed
    # orientation with a duplicate to exercise canonicalization.
    edges = [(0, 1), (1, 0), (2, 0), (1, 2), (0, 3), (3, 1), (2, 3), (4, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["tri_count"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_triangle_free(spark):
    from geo_big_data_analysis_spark.graph.algorithms import triangle_counts

    # bipartite square 0-1-2-3-0 has no triangles
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)], ["src", "dst"])
    assert triangle_counts(df).count() == 0


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from geo_big_data_analysis_spark.graph.algorithms import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 0), (1, 3)]
    n, d, iters = 4, 0.85, 10
    A = np.zeros((n, n))
    for s, t in edges:
        A[t, s] = 1.0
    outdeg = A.sum(axis=0)
    M = A / outdeg
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (M @ r)

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {row["id"]: row["pr"] for row in pagerank(df, iterations=iters, damping=d).collect()}
    assert set(got) == set(range(n))
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12, (i, got[i], r[i])


def test_pagerank_sums_to_one(spark):
    from geo_big_data_analysis_spark.graph.algorithms import pagerank

    # ring 0→1→…→5→0: uniform stationary distribution, mass conserved
    edges = [(i, (i + 1) % 6) for i in range(6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = pagerank(df, iterations=4).collect()
    total = sum(r["pr"] for r in rows)
    assert abs(total - 1.0) < 1e-9
    for r in rows:
        assert abs(r["pr"] - 1.0 / 6) < 1e-12


def test_triangle_counts_property_random_graphs(spark):
    """Property-based: on arbitrary small graphs, the distributed
    wedge-close counts match a brute-force itertools enumeration."""
    from itertools import combinations

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=12, deadline=None)
    @given(
        st.sets(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=0, max_size=25,
        )
    )
    def check(edge_set):
        from geo_big_data_analysis_spark.graph.algorithms import triangle_counts

        und = {(min(a, b), max(a, b)) for a, b in edge_set if a != b}
        nodes = {v for e in und for v in e}
        want: dict[int, int] = {}
        for a, b, c in combinations(sorted(nodes), 3):
            if {(a, b), (b, c), (a, c)} <= und:
                for v in (a, b, c):
                    want[v] = want.get(v, 0) + 1
        if not edge_set:
            return
        df = spark.createDataFrame(list(edge_set), ["src", "dst"])
        got = {r["id"]: r["tri_count"] for r in triangle_counts(df).collect()}
        assert got == want

    check()


def _mod_edges_py():
    n = 300
    raw = set()
    for i in range(n):
        for d in ((2 * i + 1) % n, (3 * i + 7) % n, (i * i + 3) % n):
            if i != d:
                raw.add((min(i, d), max(i, d)))
    return raw


def test_kcore_matches_bruteforce_peeling(spark):
    from collections import Counter

    from geo_big_data_analysis_spark.plans.registry import REGISTRY

    und = _mod_edges_py()
    while True:
        deg = Counter()
        for u, v in und:
            deg[u] += 1
            deg[v] += 1
        keep = {x for x, d in deg.items() if d >= 4}
        nxt = {(u, v) for u, v in und if u in keep and v in keep}
        if nxt == und:
            break
        und = nxt
    deg = Counter()
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    got = {
        (r.id, r.core_degree)
        for r in REGISTRY["kcore_mod"][0](spark, "/root/testdata/sf0.001").collect()
    }
    assert got == set(deg.items())


def test_clustering_coefficient_bruteforce(spark):
    from collections import defaultdict

    from geo_big_data_analysis_spark.plans.registry import REGISTRY

    adj = defaultdict(set)
    for u, v in _mod_edges_py():
        adj[u].add(v)
        adj[v].add(u)
    rows = REGISTRY["clustering_coefficient_mod"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == len(adj)
    for r in rows[::17]:  # spot-check a deterministic sample
        nbrs = adj[r.id]
        assert len(nbrs) == r.deg
        links = sum(
            1 for a in nbrs for b in nbrs if a < b and b in adj[a]
        )
        assert links == r.tri_count
        expect = (
            round(2.0 * links / (r.deg * (r.deg - 1)), 6) if r.deg >= 2 else 0.0
        )
        assert abs(r.coef - expect) < 1e-9


def test_convex_hull_distributed_matches_driver_path(spark, force_distributed):
    """A >threshold ring of points: the per-partition-reduce path must
    return exactly the hull the single-collect path returns (hulls
    compose associatively), and interior points never survive."""
    import math

    from geo_big_data_analysis_spark.graph import algorithms as GA

    n = 5000
    ring = spark.range(n).selectExpr(
        f"cos(2 * pi() * id / {n}) * 100 AS x",
        f"sin(2 * pi() * id / {n}) * 100 AS y",
    )
    interior = spark.range(20000).selectExpr(
        "cos(id * 0.7) * 50 AS x", "sin(id * 1.3) * 50 AS y"
    )
    pts = ring.unionByName(interior).repartition(16)
    small_path = GA.convex_hull(pts)
    force_distributed()
    dist_path = GA.convex_hull(pts)
    assert dist_path == small_path
    assert len(dist_path) >= 3
    # every hull vertex is from the radius-100 ring, no interior point
    assert all(abs(math.hypot(px, py) - 100.0) < 1e-6 for px, py in dist_path)


def test_scc_fwbw_matches_closure_labels(spark):
    """FW-BW pivoting (the default scc_labels) must produce exactly the
    closure-based labels on a graph mixing a 4-cycle, a 3-cycle hung off
    a DAG tail, isolated-in/out chains, and self-referential noise."""
    from geo_big_data_analysis_spark.graph.algorithms import (
        scc_labels,
        scc_labels_closure,
        scc_labels_fwbw,
    )

    edges = [
        # 4-cycle 0→1→2→3→0
        (0, 1), (1, 2), (2, 3), (3, 0),
        # 3-cycle 10→11→12→10 reachable from the 4-cycle
        (2, 10), (10, 11), (11, 12), (12, 10),
        # DAG tail
        (12, 20), (20, 21), (21, 22),
        # back-edge creating a 2-cycle inside the tail
        (21, 20),
        # disconnected chain (all singletons)
        (30, 31), (31, 32),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    fwbw = {r["id"]: r["scc_id"] for r in scc_labels_fwbw(df).collect()}
    dispatched = {r["id"]: r["scc_id"] for r in scc_labels(df).collect()}
    assert dispatched == fwbw
    anchor = {r["id"]: r["scc_id"] for r in scc_labels_closure(df).collect()}
    assert fwbw == anchor
    assert fwbw[0] == fwbw[1] == fwbw[2] == fwbw[3] == 0
    assert fwbw[10] == fwbw[11] == fwbw[12] == 10
    assert fwbw[20] == fwbw[21] == 20
    assert fwbw[22] == 22 and fwbw[30] == 30


def test_scc_fwbw_random_graph_parity(spark):
    """Parity on a denser pseudo-random directed graph (mod-arithmetic
    edges, the registry fixture shape) — exercises multi-round trims,
    multiple color classes, and repeated outer rounds."""
    from geo_big_data_analysis_spark.graph.algorithms import (
        scc_labels_closure,
        scc_labels_fwbw,
    )

    n = 80
    ids = spark.range(n)
    edges = ids.selectExpr("id AS src", f"(2 * id + 1) % {n} AS dst").union(
        ids.selectExpr("id AS src", f"(id * id + 3) % {n} AS dst")
    ).filter("src <> dst").distinct()
    fwbw = {r["id"]: r["scc_id"] for r in scc_labels_fwbw(edges).collect()}
    anchor = {
        r["id"]: r["scc_id"] for r in scc_labels_closure(edges).collect()
    }
    assert fwbw == anchor and len(fwbw) > 0


def test_closure_guard_raises_without_exact(spark):
    """reachability_closure / hop_distances refuse >200k-pair
    materializations unless exact=True (VERDICT r2 #4 guard)."""
    import pytest

    from geo_big_data_analysis_spark.graph import algorithms as GA

    # 700-node directed path: closure is ~700*701/2 ≈ 245k pairs — over
    # the guard — but the INITIAL pair table (~2.1k) is fine, so the
    # guard must trip mid-doubling, not at entry.
    n = 700
    path_edges = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
    with pytest.raises(ValueError, match="pair table"):
        GA.reachability_closure(path_edges).count()
    with pytest.raises(ValueError, match="pair table"):
        GA.hop_distances(path_edges).count()
    # exact=True opts in (smaller instance to keep the test fast)
    small = spark.range(40).selectExpr("id AS src", "id + 1 AS dst")
    assert GA.reachability_closure(small, exact=True).count() == 41 * 42 // 2


def test_pagerank_distributed_matches_driver_path(spark, force_distributed):
    """The size dispatch must be a pure physical choice: both paths on
    the same graph, identical ranks to well under the 8dp callers
    round to."""
    from geo_big_data_analysis_spark.graph.algorithms import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 0), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    drv = {r["id"]: r["pr"] for r in pagerank(df, iterations=6).collect()}
    force_distributed()
    dist = {r["id"]: r["pr"] for r in pagerank(df, iterations=6).collect()}
    assert set(drv) == set(dist)
    assert all(abs(drv[k] - dist[k]) < 1e-12 for k in drv)


def test_kcore_distributed_matches_driver_path(spark, force_distributed):
    from geo_big_data_analysis_spark.graph.algorithms import kcore

    rnd = random.Random(7)
    edges = list({(rnd.randrange(40), rnd.randrange(40)) for _ in range(160)})
    df = spark.createDataFrame(edges, ["src", "dst"])
    drv = {
        (r["id"], r["core_degree"])
        for r in kcore(df, k=3, rounds=6).collect()
    }
    force_distributed()
    dist = {
        (r["id"], r["core_degree"])
        for r in kcore(df, k=3, rounds=6).collect()
    }
    assert drv == dist and len(drv) > 0


def test_label_propagation_distributed_matches_driver_path(spark, force_distributed):
    from geo_big_data_analysis_spark.graph.algorithms import label_propagation

    rnd = random.Random(11)
    edges = list({(rnd.randrange(30), rnd.randrange(30)) for _ in range(90)})
    df = spark.createDataFrame(edges, ["src", "dst"])
    drv = {
        (r["id"], r["label"])
        for r in label_propagation(df, rounds=4).collect()
    }
    force_distributed()
    dist = {
        (r["id"], r["label"])
        for r in label_propagation(df, rounds=4).collect()
    }
    assert drv == dist and len(drv) > 0


def test_scc_driver_matches_closure_and_fwbw(spark):
    from geo_big_data_analysis_spark.graph.algorithms import (
        _scc_driver,
        scc_labels,
        scc_labels_closure,
        scc_labels_fwbw,
    )

    rnd = random.Random(13)
    edges = list({(rnd.randrange(25), rnd.randrange(25)) for _ in range(70)})
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, ["src", "dst"])
    drv = {r["id"]: r["scc_id"] for r in _scc_driver(spark, edges).collect()}
    anchor = {
        r["id"]: r["scc_id"] for r in scc_labels_closure(df).collect()
    }
    fwbw = {r["id"]: r["scc_id"] for r in scc_labels_fwbw(df).collect()}
    via_dispatch = {r["id"]: r["scc_id"] for r in scc_labels(df).collect()}
    assert drv == anchor == fwbw == via_dispatch and len(drv) > 0


def test_distributed_cc_and_lpa_scan_their_input_once(spark, force_distributed):
    """The distributed connected components and label propagation build
    their symmetric edge lists from one scan of the lazily checkpointed
    input. Each input row is evaluated once, and the first job (the
    edge distinct's map side) runs one task per input partition; a union
    of the two directions ran two."""
    from geo_big_data_analysis_spark.graph.algorithms import label_propagation
    from geo_big_data_analysis_spark.operators.dbscan import connected_components

    sc = spark.sparkContext
    n, parts = 40, 3

    def counted_ring():
        acc = sc.accumulator(0)

        @F.udf("bigint")
        def tick(x):
            acc.add(1)
            return x

        ring = spark.range(0, n, 1, parts).select(
            tick.asNondeterministic()(F.col("id")).alias("a"),
            ((F.col("id") + 1) % n).alias("b"),
        )
        return acc, ring

    force_distributed()
    acc, ring = counted_ring()
    group = "graph_cc_one_scan"
    sc.setJobGroup(group, group)
    try:
        cc = connected_components(ring, "a", "b").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r["comp"] for r in cc} == {0} and len(cc) == n
    assert acc.value == n
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    first = tracker.getJobInfo(min(tracker.getJobIdsForGroup(group)))
    assert tracker.getStageInfo(min(first.stageIds)).numTasks == parts

    acc, ring = counted_ring()
    labels = label_propagation(ring, rounds=2, src="a", dst="b").collect()
    assert len(labels) == n
    assert acc.value == n
