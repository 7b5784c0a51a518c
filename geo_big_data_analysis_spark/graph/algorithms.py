"""Graph operators: degree, weighted SSSP (with cutoff), isochrone.

Reference semantics:
- G7 node degree: lab3a nb (cell 20, json 1314) ``dict(G_proj.degree())``
- G4 weighted shortest path: lab3a nb (cell 8, json 302)
  ``nx.shortest_path(G, o, d, weight='length')`` (Dijkstra)
- G6 isochrone/ego-graph: lab3a nb (cell 12, json 520)
  ``nx.ego_graph(G, node, radius=900, distance='travel_time')`` +
  convex hull of reachable nodes.

Spark-first: SSSP is iterative Bellman-Ford-style relaxation — each
round joins the frontier with the edge list (hash join on src) and
keeps the min distance per node. With a cutoff (isochrone), iteration
count is bounded by cutoff/min_edge_weight; without, by graph diameter
in hops. Each round shuffles only the frontier (changed nodes), so work
decays as the search converges. At cluster scale the edge list is
pre-partitioned by src so frontier joins are co-located.

Size dispatch: each algorithm with a driver kernel (Dijkstra, the route
backtrack, the convex hull, PageRank, k-core, LPA, the SCC closure) asks
`operators/dispatch` whether its input fits the cap named beside it
(``DRIVER_EDGE_CAP``, ``PRED_DRIVER_CAP``, ``HULL_COLLECT_MAX_ROWS``,
``SCC_DRIVER_VERTEX_CAP``) and runs its distributed loop otherwise.
The probed input is lazily checkpointed, and each loop reads it in one
scan per job: both edge directions, or both endpoints, come from one
``inline``/``explode`` of it, not a union of two projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import dispatch
from ..sources.tables import local_frame

#: Edge-list row cap of the graph driver kernels (Dijkstra, PageRank,
#: k-core peeling, LPA): at most this many edges are collected and the
#: whole algorithm runs driver-side; past it the distributed loop runs.
DRIVER_EDGE_CAP = 200_000


def degrees(edges: DataFrame) -> DataFrame:
    """G7 — undirected degree per node of a (src, dst) edge list (counts
    parallel edges, matching networkx MultiGraph.degree)."""
    ends = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    return ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def sssp_distributed(
    edges: DataFrame,
    source: int,
    weight: str = "weight",
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    cutoff: float | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """G4 scale path — frontier-based distributed relaxation.

    Returns (id, dist) for every reachable node (dist ≤ cutoff if given).
    Only nodes improved in round k join the edge list in round k+1, so
    per-round work decays as the search converges. Each round's frontier
    and distance table are materialized (localCheckpoint) — both are
    consumed twice by the next round, and leaving them lazy recomputes
    the whole prefix exponentially. The emptiness check runs every 4th
    round (it is a separate job; extra no-op rounds after convergence
    are harmless).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"),
        F.col(weight).cast("double").alias("w"),
    )
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    e = e.localCheckpoint()

    dist = local_frame(e.sparkSession, [(source, 0.0)], "id bigint, dist double")
    frontier = dist
    for it in range(max_iter):
        cand = (
            frontier.join(e, frontier["id"] == e["src"], "inner")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        if cutoff is not None:
            cand = cand.filter(F.col("nd") <= cutoff)
        joined = cand.join(dist, "id", "left")
        improved = joined.filter(
            F.col("dist").isNull() | (F.col("nd") < F.col("dist"))
        ).select("id", F.col("nd").alias("dist")).localCheckpoint()
        dist = (
            dist.join(improved.select(F.col("id").alias("_iid")), dist["id"] == F.col("_iid"), "left_anti")
            .unionByName(improved)
            .localCheckpoint()
        )
        frontier = improved
        if (it + 1) % 4 == 0 and frontier.isEmpty():
            break
    return dist


def _weighted_edges(edges: DataFrame, weight: str, src: str, dst: str) -> DataFrame:
    """(u bigint, v bigint, w double) — the edge rows both SSSP driver
    kernels read and the route's predecessor join starts from."""
    return edges.select(
        F.col(src).cast("bigint").alias("u"),
        F.col(dst).cast("bigint").alias("v"),
        F.col(weight).cast("double").alias("w"),
    )


def _sssp_driver(
    spark, rows: list, source: int, directed: bool, cutoff: float | None
) -> DataFrame:
    """G4 small-graph path — heap Dijkstra on collected edges.

    Numerically identical to the distributed path; right when the edge
    list fits the driver (the reference's road networks are ~10⁴ edges —
    SURVEY §2.10 notes the driver-side fallback explicitly). Result is
    returned as a DataFrame so downstream plan shape is unchanged.
    """
    import heapq

    adj: dict[int, list[tuple[int, float]]] = {}
    for u, v, w in rows:
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
            if (cutoff is None or nd <= cutoff) and nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return local_frame(spark, sorted(dist.items()), "id bigint, dist double")


def sssp(
    edges: DataFrame,
    source: int,
    weight: str = "weight",
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    cutoff: float | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """G4 — single-source shortest paths; size-dispatched physical
    strategy (same pattern as driver-side Voronoi, SURVEY §2.8): heap
    Dijkstra when the edge list fits ``DRIVER_EDGE_CAP``, distributed
    frontier relaxation otherwise. Both paths return the same (id, dist)
    table and are cross-verified in tests/test_graph.py."""
    tbl = dispatch.driver_rows(_weighted_edges(edges, weight, src, dst), DRIVER_EDGE_CAP)
    if tbl is not None:
        return _sssp_driver(
            edges.sparkSession, dispatch.tuples(tbl), source, directed, cutoff
        )
    return sssp_distributed(
        edges, source, weight, src, dst, directed, cutoff, max_iter
    )


def shortest_path_length(
    edges: DataFrame, source: int, target: int, **kw
) -> float | None:
    """G4 — distance between two nodes (None if unreachable)."""
    row = sssp(edges, source, **kw).filter(F.col("id") == target).first()
    return row["dist"] if row else None


def _route_driver(
    spark, rows: list, source: int, target: int, directed: bool
) -> DataFrame:
    """Small-graph route path: heap Dijkstra + min-id tree-edge
    predecessors on collected edges (numerically and tie-break
    identical to the distributed path)."""
    import heapq

    adj: dict[int, list[tuple[int, float]]] = {}
    radj: dict[int, list[tuple[int, float]]] = {}
    for u, v, w in rows:
        adj.setdefault(u, []).append((v, w))
        radj.setdefault(v, []).append((u, w))
        if not directed:
            adj.setdefault(v, []).append((u, w))
            radj.setdefault(u, []).append((v, w))
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
    schema = "seq bigint, node_id bigint, dist_along double"
    if target not in dist:
        return local_frame(spark, [], schema)
    path = [target]
    while path[-1] != source:
        node = path[-1]
        cands = [
            u
            for u, w in radj.get(node, [])
            if u in dist and abs(dist[u] + w - dist[node]) < 1e-9
        ]
        if not cands:
            break
        path.append(min(cands))
    path.reverse()
    return local_frame(
        spark, [(i, n, float(dist[n])) for i, n in enumerate(path)], schema
    )


#: Predecessor-table row cap of the route backtrack: at most this many
#: (node, pred) rows are collected; past it the walk filters per hop.
PRED_DRIVER_CAP = 1_000_000


def shortest_path_route(
    edges: DataFrame,
    source: int,
    target: int,
    directed: bool = True,
    **kw,
) -> DataFrame:
    """G4 — reconstruct the actual shortest route source→target
    (`nx.shortest_path` parity: the reference returns the 16-node
    ESB→Times-Sq node sequence, lab3a nb cell 8, json 302 — not just
    its length). Returns ``(seq, node_id, dist_along)`` ordered from
    the source; empty if the target is unreachable.

    Physical strategy, scale-first (size-dispatched like :func:`sssp`):
    1. ``dist`` — distributed SSSP (frontier relaxation at scale).
    2. Shortest-path-tree predecessors, fully distributed: edge (u,v)
       is a tree edge iff dist(u) + w(u,v) = dist(v) (1e-9 tolerance);
       one equi-join + min-agg keeps the min-id predecessor per node —
       a deterministic tie-break shared with the SQL oracle.
    3. Backtrack target→source — inherently sequential, O(path length).
       Predecessors restricted to dist < dist(target) are collected
       when they fit ``PRED_DRIVER_CAP`` (city-scale graphs); above it
       the walk issues one bounded filter job per hop against the
       cached predecessor table instead of collecting.
    Edge lists that fit ``DRIVER_EDGE_CAP`` (the reference's road
    networks, SURVEY §2.10) skip the join machinery: one collect, same
    Dijkstra, same predecessor rule — identical output, ~4 fewer jobs.
    """
    tbl = dispatch.driver_rows(_weighted_edges(edges, "weight", "src", "dst"), DRIVER_EDGE_CAP)
    if tbl is not None:
        return _route_driver(
            edges.sparkSession, dispatch.tuples(tbl), source, target, directed
        )
    dist = sssp(edges, source, directed=directed, **kw)
    dist = dist.localCheckpoint()
    trow = dist.filter(F.col("id") == target).first()
    if trow is None:
        return local_frame(
            dist.sparkSession, [], "seq bigint, node_id bigint, dist_along double"
        )
    tdist = trow["dist"]

    e = _weighted_edges(edges, "weight", "src", "dst")
    if not directed:
        e = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    du = dist.select(F.col("id").alias("u"), F.col("dist").alias("du"))
    dv = dist.select(F.col("id").alias("v"), F.col("dist").alias("dv"))
    pred = (
        e.join(du, "u")
        .join(dv, "v")
        .filter(
            (F.abs(F.col("du") + F.col("w") - F.col("dv")) < 1e-9)
            & (F.col("dv") <= F.lit(float(tdist)))
        )
        .groupBy("v")
        .agg(F.min("u").alias("pred"))
    )

    tbl = dispatch.driver_rows(pred, PRED_DRIVER_CAP)
    if tbl is not None:
        pmap = dict(dispatch.tuples(tbl))

        def prev(node: int) -> int | None:
            return pmap.get(node)
    else:
        pred = pred.localCheckpoint()

        def prev(node: int) -> int | None:
            r = pred.filter(F.col("v") == node).first()
            return r["pred"] if r else None

    path = [target]
    while path[-1] != source:
        p = prev(path[-1])
        if p is None:  # tolerance gap — should not happen on tree edges
            break
        path.append(p)
    path.reverse()
    dmap = {
        r["id"]: r["dist"]
        for r in dist.filter(F.col("id").isin([int(n) for n in path])).collect()
    }
    return local_frame(
        dist.sparkSession,
        [(i, n, float(dmap[n])) for i, n in enumerate(path)],
        "seq bigint, node_id bigint, dist_along double",
    )


def isochrone_nodes(
    edges: DataFrame,
    nodes: DataFrame,
    source: int,
    radius: float,
    weight: str = "travel_time",
    **kw,
) -> DataFrame:
    """G6 — nodes reachable within ``radius`` (ego-graph by travel time),
    joined back to node coordinates."""
    reach = sssp(edges, source, weight=weight, cutoff=radius, **kw)
    return nodes.join(reach, "id", "inner")


#: Above this row count convex_hull reduces per partition before
#: collecting — the driver then sees at most ~2·h points per partition
#: (h = partition hull size), not the full set.
HULL_COLLECT_MAX_ROWS = 100_000


def _monotone_chain(pts: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Andrew's monotone chain over sorted points (CCW, collinear
    boundary points dropped)."""
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def convex_hull(
    points: DataFrame,
    x: str = "x",
    y: str = "y",
) -> list[tuple[float, float]]:
    """Convex hull of a node set — size-dispatched (VERDICT r1 #10).

    Small inputs (isochrone reachable sets, ≤ ``HULL_COLLECT_MAX_ROWS``):
    monotone chain on the collected points. Larger: hulls compose
    associatively, so each partition reduces to its local hull first
    (mapInPandas, ≤ ~2·h points survive per partition) and the driver
    merges the union — EXACT, because hull(∪ local hulls) =
    hull(all points): every dropped point is interior to its
    partition's hull and therefore interior to the global hull; a
    locally-extreme-but-globally-collinear vertex is removed by the
    final chain's collinear pop."""
    src = points.select(F.col(x).cast("double").alias("x"), F.col(y).cast("double").alias("y"))
    tbl = dispatch.driver_rows(src, HULL_COLLECT_MAX_ROWS)
    if tbl is None:

        def part_hull(batches):
            import pandas as _pd

            acc: list[tuple[float, float]] = []
            for pdf in batches:
                acc.extend(zip(pdf["x"], pdf["y"]))
                # keep the running set bounded even within one partition
                if len(acc) > 4 * HULL_COLLECT_MAX_ROWS:
                    acc = _monotone_chain(sorted(set(acc)))
            hull = _monotone_chain(sorted(set(acc)))
            yield _pd.DataFrame(hull, columns=["x", "y"])

        tbl = src.mapInPandas(part_hull, "x double, y double").toArrow()
    return _monotone_chain(sorted(dispatch.tuples(tbl)))


def points_in_hull(points: DataFrame, hull: list[tuple[float, float]], x: str = "x", y: str = "y") -> DataFrame:
    """POI-accessibility refinement (lab3a cell 15): filter points to a
    convex polygon via a half-plane conjunction — pure column math, no
    UDF (hull vertices are counter-clockwise)."""
    pred = F.lit(True)
    n = len(hull)
    for i in range(n):
        x1, y1 = hull[i]
        x2, y2 = hull[(i + 1) % n]
        cross = (F.lit(x2 - x1)) * (F.col(y) - F.lit(y1)) - (F.lit(y2 - y1)) * (
            F.col(x) - F.lit(x1)
        )
        pred = pred & (cross >= 0)
    return points.filter(pred)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts of a (src, dst) edge list
    (undirected).

    Beyond the reference's degree/density analytics (lab3a nb cell 20) —
    the standard clustering building block. Canonicalize each edge to
    (u < v) and dedup, then count wedges u<v<w closed by an (u,w) edge:
    two hash joins on node ids, no per-node adjacency materialization.
    Each triangle is emitted once and credited to all three corners.

    Scale: both joins are integer equi-joins; the first join's fan-out
    is Σ deg²(v) (wedge count), the known cost of exact triangle
    counting. At skewed degree distributions, AQE skew-split applies;
    the canonical u<v orientation already halves wedge work by routing
    each wedge through its middle vertex only once per direction.
    """
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    wedges = e1.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    closing = e.select(F.col("u").alias("a2"), F.col("v").alias("c2"))
    tri = wedges.join(
        closing, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2"))
    ).select("a", "b", "c")
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionByName(tri.select(F.col("b").alias("id")))
        .unionByName(tri.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("tri_count"))


def _pagerank_driver(
    spark, rows: list[tuple[int, int]], iterations: int, damping: float
) -> DataFrame:
    """Driver-path power iteration for bounded graphs (the
    `_sssp_driver` convention): the distributed loop's per-round
    join+agg jobs are pure scheduling overhead on a fixture-sized edge
    list. Contributions are summed in ascending (src, dst) order —
    deterministic; reassociation vs the distributed sum is ≪ the 8dp
    the callers round to (see q_pagerank_mod). Parity-pytested against
    the distributed path."""
    rows = sorted(rows)
    nodes = sorted({u for u, _ in rows} | {v for _, v in rows})
    n = len(nodes)
    outdeg: dict[int, int] = {}
    for u, _ in rows:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (1.0 - damping) / n
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        in_sum = dict.fromkeys(nodes, 0.0)
        for u, v in rows:
            in_sum[v] += pr[u] / outdeg[u]
        pr = {v: base + damping * in_sum[v] for v in nodes}
    return local_frame(spark, sorted(pr.items()), "id bigint, pr double")


def pagerank(
    edges: DataFrame,
    iterations: int = 6,
    damping: float = 0.85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank of a (src, dst) edge list as an
    iterative DataFrame program.

    Power iteration: rank(v) = (1-d)/N + d·Σ_{u→v} rank(u)/outdeg(u).
    Requires every node to have ≥1 out-edge (no dangling-mass term —
    callers with dangling nodes should add self-loops first); nodes with
    no in-edges keep the (1-d)/N floor.

    Scale: the edge list is joined ``iterations`` times on src — at
    cluster scale pre-partition edges by src once so every round's join
    is co-located and only the O(N) rank table reshuffles. Each round is
    one join + one hash agg. Unlike SSSP (whose frontier is consumed
    twice per round), each rank table is consumed exactly once by the
    next round, so lineage is linear, not exponential — ranks are
    localCheckpointed only every ``checkpoint_every`` rounds, purely to
    bound plan depth / analysis cost; a handful of rounds run as one
    lazy DAG (measured: per-round eager checkpoints tripled wall time
    on small graphs — driver round-trips dominate).
    """
    e = edges.select(F.col("src").alias("src"), F.col("dst").alias("dst")).distinct()
    # size dispatch (the sssp/lpa rule): a bounded edge list runs
    # driver-side — `iterations` joins over a few hundred rows is
    # per-round job-scheduling overhead, not compute. The distinct is
    # lazily checkpointed so it materializes ONCE — the driver path
    # reuses the probe rows, the distributed path reads the checkpoint
    # instead of recomputing the distinct's shuffle at scale.
    e = e.localCheckpoint(eager=False)
    tbl = dispatch.driver_rows(e, DRIVER_EDGE_CAP)
    if tbl is not None:
        return _pagerank_driver(
            edges.sparkSession, dispatch.tuples(tbl), iterations, damping
        )
    # one scan of the lazy checkpoint for both endpoints (see `_both_ways`)
    nodes = e.select(F.explode(F.array("src", "dst")).alias("id")).distinct().localCheckpoint()
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # edges annotated with the sender's out-degree, reused every round
    e_deg = e.join(outdeg, "src").localCheckpoint()
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    for it in range(iterations):
        contrib = (
            e_deg.join(ranks, e_deg["src"] == ranks["id"])
            .select(F.col("dst"), (F.col("pr") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = nodes.join(contrib, nodes["id"] == contrib["dst"], "left").select(
            "id",
            (F.lit(base) + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))).alias("pr"),
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint()
    return ranks


def _kcore_driver(
    spark, und_rows: list[tuple[int, int]], k: int, rounds: int
) -> DataFrame:
    """Driver-path fixed-round peeling (the `_sssp_driver` convention):
    exact integer algorithm, identical round-by-round to the
    distributed semi-join peel. Parity-pytested."""
    nbrs: dict[int, set[int]] = {}
    for u, v in und_rows:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    for _ in range(rounds):
        keep = {a for a, s in nbrs.items() if len(s) >= k}
        nbrs = {
            a: {b for b in s if b in keep}
            for a, s in nbrs.items()
            if a in keep
        }
        nbrs = {a: s for a, s in nbrs.items() if s}
    out = sorted((a, len(s)) for a, s in nbrs.items())
    return local_frame(spark, out, "id bigint, core_degree bigint")


def _both_ways(und: DataFrame) -> DataFrame:
    """Undirected (u, v) edges as directed (a, b) rows in both
    directions, from ONE scan of ``und``. A union of the two projections
    reads a lazily checkpointed ``und`` twice in its first job: two
    tasks then want each block at once, and one waits for the other
    (Spark logs "Block rdd_<n>_<p> already exists")."""
    return und.select(F.expr("inline(array(struct(u AS a, v AS b), struct(v AS a, u AS b)))"))


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int,
) -> DataFrame:
    """k-core decomposition of a (src, dst) edge list by iterative
    peeling: repeatedly drop nodes with (distinct-neighbor, undirected)
    degree < k and their incident edges, a fixed ``rounds`` times.
    With rounds ≥ the peel depth the result is the exact k-core
    (monotone: once stable, further rounds are no-ops — choosing a
    fixed round count is what lets the oracle unroll the loop as
    chained CTEs, the same contract as PageRank's fixed power
    iterations).

    Returns (id, core_degree) for nodes surviving in the k-core.

    Scale: each round is one degree aggregation + two semi-join-shaped
    hash joins on node ids; the edge set only shrinks. Lineage is cut
    EVERY round: unlike PageRank's linear lineage (checkpoint every k
    rounds), each peel round consumes its edge set THREE times (the
    degree agg plus both semi-join sides), so a lazy multi-round DAG
    recomputes upstream rounds ~3^r times — measured 2 s (per-round
    checkpoint) vs 5.6 s (every 2) vs 170 s (every 3) for 5 rounds on
    the 300-node fixture. Same multi-consumption class as SSSP's
    twice-consumed frontier; peel depth is small on real graphs (it's
    bounded by the degeneracy ordering length, typically ≪ |V|)."""
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # size dispatch (the sssp/lpa rule): the per-round checkpoint the
    # docstring's lineage analysis REQUIRES costs a scheduled job per
    # peel round — driver-side peeling removes all of them on bounded
    # edge lists. The lazy checkpoint makes one distinct materialization
    # decide the dispatch AND feed whichever path runs.
    und = und.localCheckpoint(eager=False)
    tbl = dispatch.driver_rows(und, DRIVER_EDGE_CAP)
    if tbl is not None:
        return _kcore_driver(edges.sparkSession, dispatch.tuples(tbl), k, rounds)
    adj = _both_ways(und)
    for r in range(rounds):
        deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("a")
        adj = (
            adj.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
        )
        adj = adj.localCheckpoint()
    return (
        adj.groupBy("a")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("a").alias("id"), "core_degree")
    )


def _lpa_driver(spark, und_rows: list[tuple[int, int]], rounds: int) -> DataFrame:
    """Driver-path synchronous LPA (the `_sssp_driver` convention):
    exact integer algorithm — most-frequent neighbor label, ties to the
    smallest — identical round-by-round to the distributed join+window.
    Parity-pytested."""
    nbrs: dict[int, list[int]] = {}
    for u, v in und_rows:
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    labels = {a: a for a in nbrs}
    for _ in range(rounds):
        new = {}
        for a, ns in nbrs.items():
            counts: dict[int, int] = {}
            for b in ns:
                lb = labels[b]
                counts[lb] = counts.get(lb, 0) + 1
            new[a] = min(counts, key=lambda lb: (-counts[lb], lb))
        labels = new
    return local_frame(spark, sorted(labels.items()), "id bigint, label bigint")


def label_propagation(
    edges: DataFrame,
    rounds: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label-propagation community detection
    (Raghavan 2007, with the random tie-break replaced by a total
    order): labels start as node ids; each round every node adopts the
    label that is most frequent among its neighbors, ties broken by the
    SMALLEST label. Deterministic by construction → exact cross-engine
    replay (the oracle unrolls every round), unlike the randomized
    original. Fixed round count, matching GraphFrames' LPA contract
    (no convergence detection — oscillation on bipartite-ish structures
    is bounded by the round budget).

    Scale: each round is edges ⋈ labels (join keyed on the neighbor
    id) → per-(node, label) count → per-node argmax via one partitioned
    window over the count table — all integer-key shuffles; the label
    table (O(N)) is the only state carried between rounds. Labels are
    consumed twice per round (next round's join + the coalesce
    fallback), so lineage doubles per round; checkpointing every 2
    rounds bounds recompute at 4x of a trivial DAG while halving the
    eager driver round-trips (measured faster than per-round on the
    300-node fixture — same trade as k-core's cadence note). Returns
    (id, label) after ``rounds`` rounds.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # size dispatch (same rule as connected_components / sssp): a
    # bounded edge list runs the whole fixed-round loop driver-side —
    # the former coalesce(1) fold still paid one join+window+checkpoint
    # JOB per round, which is scheduling overhead, not compute. The lazy
    # checkpoint makes one distinct materialization serve both the
    # dispatch and either path.
    und = und.localCheckpoint(eager=False)
    tbl = dispatch.driver_rows(und, DRIVER_EDGE_CAP)
    if tbl is not None:
        return _lpa_driver(edges.sparkSession, dispatch.tuples(tbl), rounds)
    adj = _both_ways(und).localCheckpoint()
    nodes = adj.select(F.col("a").alias("id")).distinct()
    labels = nodes.withColumn("label", F.col("id")).localCheckpoint()
    for _ in range(rounds):
        nbr = adj.join(labels, adj["b"] == labels["id"]).select(
            F.col("a"), F.col("label").alias("nl")
        )
        counts = nbr.groupBy("a", "nl").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("a").orderBy(F.desc("c"), F.asc("nl"))
        best = (
            counts.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col("a").alias("id"), F.col("nl").alias("new_label"))
        )
        labels = labels.join(best, "id", "left").select(
            "id", F.coalesce("new_label", "label").alias("label")
        )
        if (_ + 1) % 2 == 0 or _ == rounds - 1:
            labels = labels.localCheckpoint()
    return labels


#: pair-table budget past which closure materialization refuses to run
#: without exact=True — the embedding_near_dup-style guard (VERDICT r2
#: #4): Θ(reachable pairs) output is a silent cluster-killer on large
#: graphs, so opting into it must be explicit.
_CLOSURE_PAIR_GUARD = 200_000


def _guard_pairs(n: int, exact: bool, what: str) -> None:
    if not exact and n > _CLOSURE_PAIR_GUARD:
        raise ValueError(
            f"{what}: pair table reached {n} rows (> {_CLOSURE_PAIR_GUARD}). "
            "Closure output is Θ(reachable pairs) — intended for "
            "condensation graphs / bounded subgraphs. Pass exact=True to "
            "reachability_closure to materialize anyway, or use scc_labels "
            "(forward-backward pivoting, Θ(V) output) / landmark sketches "
            "for large graphs."
        )


def _closure_driver(
    spark, pair_rows: list[tuple[int, int]], exact: bool
) -> DataFrame:
    """Driver-path transitive closure for bounded graphs (the
    `_cc_driver`/`_sssp_driver` convention): dense boolean-matrix
    doubling in numpy — O(log d) matmuls on a ≤5k-node adjacency fits
    in microseconds where the distributed R∘R join pays a
    Σ in(m)·out(m) intermediate per round (measured ~6M rows/round
    collapsing to 42k on the 300-node bench graph). Same pair set,
    same 200k guard."""
    import numpy as np

    ids = sorted({u for u, _ in pair_rows} | {v for _, v in pair_rows})
    idx = {n: i for i, n in enumerate(ids)}
    n = len(ids)
    m = np.zeros((n, n), dtype=bool)
    for u, v in pair_rows:
        m[idx[u], idx[v]] = True
    while True:
        nxt = m | (m @ m)
        if nxt.sum() == m.sum():
            break
        m = nxt
        _guard_pairs(int(m.sum()), exact, "reachability_closure")
    _guard_pairs(int(m.sum()), exact, "reachability_closure")
    uu, vv = np.nonzero(m)
    arr = np.asarray(ids, dtype=np.int64)
    return local_frame(
        spark, zip(arr[uu].tolist(), arr[vv].tolist()), "u bigint, v bigint"
    )


def reachability_closure(edges: DataFrame, exact: bool = False) -> DataFrame:
    """Transitive closure (u, v): v reachable from u over directed
    (src, dst) edges, self-pairs included — by path doubling
    (R ← R ∪ R∘R), the PRAM-style O(log diameter) join schedule: round
    k covers all paths of length ≤ 2^k, so 6 rounds close a diameter-64
    graph where naive edge-at-a-time relaxation needs 64. Runs to fixpoint (pair count
    stable), so the result is the exact closure regardless of diameter.

    Scale: the OUTPUT is the closure — Θ(reachable pairs) — so this is
    for graphs whose closure fits a shuffle (condensation graphs,
    per-component subgraphs, lineage/dependency DAGs), not raw
    web-scale edge sets; a row guard raises ValueError past 200k pairs
    unless ``exact=True`` (checked every doubling round, so a blow-up
    is caught at the first oversized intermediate, not after). Each
    round is two hash equi-joins on node keys. Size dispatch folds
    small pair tables to one partition (connected_components' rule)."""
    pairs = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(F.col("src").alias("u"), F.col("src").alias("v"))
        )
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("dst").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    n_prev = pairs.count()
    _guard_pairs(n_prev, exact, "reachability_closure")
    if n_prev <= 5_000:
        # bounded graph: the closure fits a driver boolean matrix
        return _closure_driver(
            edges.sparkSession,
            [(r["u"], r["v"]) for r in pairs.collect()],
            exact,
        )
    if n_prev <= 200_000:
        pairs = pairs.coalesce(1).localCheckpoint()
    for _ in range(20):
        hop2 = (
            pairs.alias("a")
            .join(pairs.alias("b"), F.col("a.v") == F.col("b.u"))
            .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
        )
        pairs = pairs.unionByName(hop2).distinct().localCheckpoint()
        n_now = pairs.count()
        _guard_pairs(n_now, exact, "reachability_closure")
        if n_now == n_prev:
            break
        n_prev = n_now
    return pairs


def scc_labels_closure(edges: DataFrame) -> DataFrame:
    """SCC of a (src, dst) edge list via mutual reachability on the
    materialized closure: u, v share an SCC iff u→v and v→u; label =
    minimum member id. Exact and deterministic — this is the ORACLE
    ANCHOR for `scc_labels` (the DuckDB twin is a recursive-CTE
    closure, and the FW-BW default is parity-tested against this).
    Inherits the closure's Θ(reachable pairs) bound and its 200k-pair
    guard. Returns (id, scc_id)."""
    reach = reachability_closure(edges)
    mutual = (
        reach.alias("f")
        .join(
            reach.alias("r"),
            (F.col("f.u") == F.col("r.v")) & (F.col("f.v") == F.col("r.u")),
        )
        .select(F.col("f.u").alias("id"), F.col("f.v").alias("m"))
    )
    return mutual.groupBy("id").agg(F.min("m").alias("scc_id"))


def _scc_driver(spark, rows: list[tuple[int, int]]) -> DataFrame:
    """Driver-path SCC for bounded graphs: numpy boolean-matrix closure
    doubling (the `_closure_driver` kernel) + mutual reachability
    (m & mᵀ), label = min mutual member. Same labels as
    `scc_labels_closure` without materializing the Θ(pairs) closure
    into a shuffle join. Parity-pytested."""
    import numpy as np

    ids = sorted({u for u, _ in rows} | {v for _, v in rows})
    idx = {n: i for i, n in enumerate(ids)}
    n = len(ids)
    m = np.eye(n, dtype=bool)
    for u, v in rows:
        m[idx[u], idx[v]] = True
    while True:
        nxt = m | (m @ m)
        if nxt.sum() == m.sum():
            break
        m = nxt
    mutual = m & m.T
    arr = np.asarray(ids, dtype=np.int64)
    # min mutual member per row: argmax over booleans returns the first
    # True, and ids/columns are sorted ascending
    scc = arr[np.argmax(mutual, axis=1)]
    return local_frame(
        spark, [(int(i), int(s)) for i, s in zip(arr, scc)], "id bigint, scc_id bigint"
    )


#: Vertex cap of the SCC driver kernel: its boolean closure matrix has
#: at most SCC_DRIVER_VERTEX_CAP² = 4M cells.
SCC_DRIVER_VERTEX_CAP = 2_000


def scc_labels(edges: DataFrame) -> DataFrame:
    """Strongly connected components of a (src, dst) edge list,
    size-dispatched (the knn_join / connected_components convention):
    graphs small enough that the worst-case closure is an in-memory boolean matrix (≤2k vertices →
    ≤4M cells) run the numpy closure+mutual kernel driver-side
    (`_scc_driver`) — no per-BFS-step jobs, no Θ(pairs) shuffle join;
    everything larger runs forward-backward pivoting
    (`scc_labels_fwbw`), whose state is Θ(V)+Θ(E) and never
    materializes reachable pairs. All paths are exact, deterministic,
    and label each SCC by its minimum member (parity pytest). Returns
    (id, scc_id)."""
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the vertex count decides the dispatch; the lazy checkpoint
    # materializes the edge distinct once for whichever path runs.
    verts = e.select(F.explode(F.array("u", "v")).alias("id")).distinct()
    if dispatch.fits(verts, SCC_DRIVER_VERTEX_CAP):
        # the closure anchor's numpy kernel, minus the Θ(pairs)
        # closure-materialization shuffle join the anchor pays
        return _scc_driver(
            edges.sparkSession, [(r["u"], r["v"]) for r in e.collect()]
        )
    return scc_labels_fwbw(e, "u", "v")


#: Outer (trim, color, backward) rounds of `scc_labels_fwbw` before it
#: raises rather than return partial labels.
SCC_FWBW_MAX_OUTER = 100


def scc_labels_fwbw(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Strongly connected components — multi-pivot FORWARD-BACKWARD
    pivoting (Fleischer-Hendrickson-Pinar 2000, the coloring/multi-root
    scheduling of Orzan 2004 / Slota 2014; also GraphX's SCC shape):

      repeat until no vertices remain:
        1. TRIM — a vertex with no in-edge or no out-edge inside the
           active subgraph cannot lie on a cycle → finalize it as its
           own singleton SCC (iterated: trimming exposes more trims).
        2. COLOR (the multi-pivot forward sweep) — propagate
           color(v) = min vertex id that reaches v, to fixpoint. Each
           color class is a forward-reachable set F of its root
           r = min id (color(r) = r).
        3. BACKWARD — flag vertices that reach r through edges staying
           inside r's color class: flagged = F ∩ B = SCC(r), labeled
           scc_id = r, which IS the minimum member (any smaller member
           would have colored r). Finalize and remove all flagged
           vertices; loop.

    Every pass is an edge-keyed hash equi-join or hash aggregate;
    state is Θ(V) + Θ(E) — never the Θ(reachable-pairs) closure — so
    this is the default path at scale (VERDICT r2 #4). Per outer round
    at least one SCC per color class is finalized. Deterministic; the
    labels equal `scc_labels_closure`'s (parity pytest). Returns
    (id, scc_id) for every edge endpoint."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n_v = verts.count()
    # size dispatch (connected_components' rule): below the threshold
    # the per-round jobs are scheduling-overhead-bound at 32 partitions
    small = n_v <= 200_000
    if small:
        verts = verts.coalesce(1).localCheckpoint()
        e = e.coalesce(1).localCheckpoint()

    spark = edges.sparkSession
    schema = "id bigint, scc_id bigint"
    done: list[DataFrame] = [local_frame(spark, [], schema)]

    def _restrict(edges_df: DataFrame, alive: DataFrame) -> DataFrame:
        out = (
            edges_df.join(alive.select(F.col("id").alias("u")), "u")
            .join(alive.select(F.col("id").alias("v")), "v")
            .select("u", "v")
        )
        return (out.coalesce(1) if small else out).localCheckpoint()

    for _ in range(SCC_FWBW_MAX_OUTER):
        if n_v == 0:
            break
        # ---- 1. trim singleton SCCs (no in- or no out-edge) ----------
        while n_v > 0:
            core = (
                e.select(F.col("v").alias("id"))
                .distinct()
                .join(e.select(F.col("u").alias("id")).distinct(), "id")
            )
            core = (core.coalesce(1) if small else core).localCheckpoint()
            trivial = verts.join(core, "id", "left_anti")
            n_triv = trivial.count()
            if n_triv == 0:
                break
            done.append(
                trivial.select("id", F.col("id").alias("scc_id")).localCheckpoint()
            )
            verts = core
            n_v -= n_triv
            e = _restrict(e, verts)
        if n_v == 0:
            break
        # ---- 2. forward min-id color propagation to fixpoint ---------
        color = verts.select("id", F.col("id").alias("color")).localCheckpoint()
        while True:
            msgs = (
                e.join(
                    color.select(F.col("id").alias("u"), F.col("color").alias("c")),
                    "u",
                )
                .groupBy("v")
                .agg(F.min("c").alias("mc"))
            )
            new_color = (
                color.join(msgs.select(F.col("v").alias("id"), "mc"), "id", "left")
                .select(
                    "id",
                    F.least(F.col("color"), F.coalesce("mc", "color")).alias("color"),
                )
            )
            new_color = (
                new_color.coalesce(1) if small else new_color
            ).localCheckpoint()
            n_changed = (
                new_color.join(
                    color.withColumnRenamed("color", "old"), "id"
                )
                .filter(F.col("color") != F.col("old"))
                .count()
            )
            color = new_color
            if n_changed == 0:
                break
        # ---- 3. backward sweep within each color class ---------------
        ec = (
            e.join(
                color.select(F.col("id").alias("u"), F.col("color").alias("cu")), "u"
            )
            .join(
                color.select(F.col("id").alias("v"), F.col("color").alias("cv")), "v"
            )
            .filter(F.col("cu") == F.col("cv"))
            .select("u", "v")
        )
        ec = (ec.coalesce(1) if small else ec).localCheckpoint()
        flagged = color.filter(F.col("id") == F.col("color")).select("id")
        flagged = (flagged.coalesce(1) if small else flagged).localCheckpoint()
        while True:
            grown = (
                ec.join(flagged.select(F.col("id").alias("v")), "v")
                .select(F.col("u").alias("id"))
                .distinct()
                .join(flagged, "id", "left_anti")
            )
            n_new = grown.count()
            if n_new == 0:
                break
            flagged = flagged.unionByName(grown)
            flagged = (flagged.coalesce(1) if small else flagged).localCheckpoint()
        sccs = flagged.join(color, "id").select(
            "id", F.col("color").alias("scc_id")
        )
        done.append((sccs.coalesce(1) if small else sccs).localCheckpoint())
        verts = verts.join(flagged, "id", "left_anti")
        verts = (verts.coalesce(1) if small else verts).localCheckpoint()
        n_v = verts.count()
        e = _restrict(e, verts)

    if n_v > 0:
        # Same explicit-failure contract as reachability_closure's row
        # guard: never return partial labels as if complete (a chain of
        # >SCC_FWBW_MAX_OUTER cycles under one color class would
        # otherwise be silently dropped from the output).
        raise ValueError(
            f"scc_labels_fwbw: {n_v} vertices unlabeled after "
            f"{SCC_FWBW_MAX_OUTER} outer rounds"
        )

    out = done[0]
    for part in done[1:]:
        out = out.unionByName(part)
    return out


def hop_distances(edges: DataFrame) -> DataFrame:
    """All-pairs hop distances (u, v, d) of a (src, dst) edge list for
    reachable pairs, by
    min-plus path doubling: D ← min(D, min_m D(u,m)+D(m,v)) — round k
    is exact for all shortest paths of length ≤ 2^k, so ⌈log₂ diam⌉
    rounds converge (fixpoint-detected, like reachability_closure).
    Unreachable pairs are simply absent.

    Scale: output is Θ(reachable pairs) and the squaring join's
    intermediate is Σ_m in(m)·out(m) — for bounded/condensed graphs
    (this engine's graph fixtures) that is the right trade against
    diameter-many edge-relaxation rounds; web-scale all-pairs wants
    landmark/sketch methods instead. The 200k-pair row guard raises
    ValueError (reachability_closure's guard — VERDICT r2 #4)."""
    dist = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .withColumn("d", F.lit(1))
        .unionByName(
            edges.select(F.col("src").alias("u"))
            .unionByName(edges.select(F.col("dst").alias("u")))
            .distinct()
            .select("u", F.col("u").alias("v"), F.lit(0).alias("d"))
        )
        .localCheckpoint()
    )
    n0 = dist.count()
    _guard_pairs(n0, False, "hop_distances")
    if n0 <= 200_000:
        dist = dist.coalesce(1).localCheckpoint()
    prev_key: tuple | None = None
    for _ in range(20):
        two = (
            dist.alias("a")
            .join(dist.alias("b"), F.col("a.v") == F.col("b.u"))
            .select(
                F.col("a.u").alias("u"),
                F.col("b.v").alias("v"),
                (F.col("a.d") + F.col("b.d")).alias("d"),
            )
        )
        dist = (
            dist.unionByName(two)
            .groupBy("u", "v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
        # fixpoint: (pair count, total distance) both stable — the
        # count alone can stall while min-distances still improve
        stat = dist.agg(
            F.count(F.lit(1)).alias("n"), F.sum("d").alias("s")
        ).collect()[0]
        _guard_pairs(int(stat["n"]), False, "hop_distances")
        key = (stat["n"], stat["s"])
        if key == prev_key:
            break
        prev_key = key
    return dist
