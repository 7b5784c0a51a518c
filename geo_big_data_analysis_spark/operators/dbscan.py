"""Distributed DBSCAN (M1) — grid neighbor join + connected components.

Reference semantics: sklearn DBSCAN on projected meters
(实习一/实习一代码/test.py:147-204, eps=500 m, min_samples=5;
lab4 nb cell 18 on standardized lat/lon, eps=0.1, min 5). Output
contract (SURVEY §7.3): identical core-point set, identical noise set,
cluster partition equal up to relabeling; border points assigned to
*some* adjacent core cluster (sklearn's assignment is scan-order
dependent, so only up-to-relabeling equality is defined).

Spark-first algorithm, no UDFs in the hot path:
1. cell id = floor(x/eps), floor(y/eps) — side-eps grid, so all
   eps-neighbors live in the 3×3 cell neighborhood.
2. neighbor-pair join: points ⋈ points on (cell, one of 9 offsets) +
   exact dist ≤ eps refinement. Shuffle key = integer cell id.
3. core points: ≥ min_samples neighbors (incl. self).
4. cluster graph = core-core neighbor pairs; connected components
   (:func:`connected_components`): union-find on the driver while the
   edge list fits ``CC_DRIVER_CAP`` (`operators/dispatch`), else
   min-label propagation with pointer jumping (each round = two hash
   aggregations; converges in O(log n) rounds — the standard
   map-reduce CC algorithm). Cluster id = min point id in component.
5. border points: non-core with ≥1 core neighbor → that core's label
   (deterministic: min core-neighbor label). Noise: the rest, label −1.

At 100 TB: every stage is an equi-join/groupBy on integer keys; eps
grids bound candidate pairs; skewed dense cells are handled by AQE
skew-join splitting. Iteration count is log-bounded, each materialized
via localCheckpoint to cut lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame
from . import dispatch

#: Edge-row cap of the union-find driver kernel of
#: :func:`connected_components`.
CC_DRIVER_CAP = 2_000_000


def _neighbor_pairs(pts: DataFrame, eps: float) -> DataFrame:
    """All point pairs (a, b) with dist ≤ eps (including a==b).

    pts: (id, x, y). Explodes the left side ×9 to cover the 3×3 cell
    neighborhood, then equi-joins on the cell key.
    """
    cx = F.floor(F.col("x") / eps).cast("bigint")
    cy = F.floor(F.col("y") / eps).cast("bigint")
    base = pts.select("id", "x", "y", cx.alias("cx"), cy.alias("cy"))
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    probes = base.select(
        F.col("id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay"),
        off.alias("o"), "cx", "cy",
    ).select(
        "a_id", "ax", "ay",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    build = base.select(
        F.col("id").alias("b_id"), F.col("x").alias("bx"), F.col("y").alias("by"), "cx", "cy"
    )
    pairs = probes.join(build, ["cx", "cy"], "inner")
    dist2 = (F.col("ax") - F.col("bx")) ** 2 + (F.col("ay") - F.col("by")) ** 2
    return pairs.filter(dist2 <= eps * eps).select("a_id", "b_id")


def _cc_driver(spark, rows: list) -> DataFrame:
    """Union-find on collected (a_id, b_id) edge rows — the small-graph
    dispatch (same pattern as graph.algorithms.sssp): core-core edge
    lists for city-scale inputs fit the driver easily, and one collect
    beats O(log n) shuffle rounds. comp = min id in component, matching
    the distributed path bit-for-bit."""
    parent: dict[int, int] = {}

    def find(u: int) -> int:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in rows:
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    out = [(v, comp_min[find(v)]) for v in parent]
    return local_frame(spark, out, "id bigint, comp bigint")


def _connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation + pointer jumping over undirected edges
    (a_id, b_id) → (id, comp) with comp = min reachable id.

    Each round: (1) every node takes the min label over its neighbors,
    (2) path-halving pointer jump — node relabels to its label's label —
    which doubles propagation distance per round, giving O(log diameter)
    rounds even for chain-shaped clusters (road-network-like data).
    Convergence detection is shuffle-free: Σcomp is strictly decreasing
    until fixpoint, so an unchanged sum terminates the loop (at most 50
    rounds).
    """
    # both directions from one scan of the lazily checkpointed input; a
    # union of two projections has two tasks contend for each block
    sym = edges.select(
        F.expr("inline(array(struct(a_id AS src, b_id AS dst), struct(b_id AS src, a_id AS dst)))")
    ).distinct().localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    ).localCheckpoint()
    prev_sum = None
    for _ in range(50):
        cand = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("new_comp"))
        )
        l1 = labels.join(cand, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("new_comp"), F.col("comp"))).alias("comp"),
        )
        parent = l1.select(F.col("id").alias("_pid"), F.col("comp").alias("_pcomp"))
        l2 = (
            l1.join(parent, l1["comp"] == parent["_pid"], "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("_pcomp"), F.col("comp"))).alias("comp"),
            )
        ).localCheckpoint()
        cur_sum = l2.agg(F.sum("comp")).first()[0]
        labels = l2
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dbscan(
    points: DataFrame,
    eps: float,
    min_samples: int,
) -> DataFrame:
    """Clusters (id, x, y) points; returns (id, cluster) with cluster =
    −1 for noise, else the min point id of the cluster's core-point
    component (stable labeling, equal to sklearn's partition up to
    relabeling).

    Coordinate-contraction prepass: exact-duplicate positions collapse
    to one representative (rep id = min point id there) weighted by
    multiplicity. Every point at a location shares the same neighbor
    count — Σ multiplicities of in-eps locations — hence the same
    core/border/noise status and label, so contracting is semantics-
    preserving and turns duplicate-heavy inputs (checkin/POI data at
    scale) from a quadratic pair blowup into per-location work.
    """
    pts = points.select(
        F.col("id").alias("id"), F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    )
    locs = (
        pts.groupBy("x", "y")
        .agg(F.min("id").alias("id"), F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )

    # pairs feeds three consumers (degree, core-core edges, border
    # assignment) — materialize once instead of re-running the 9×
    # cell-neighborhood join per consumer.
    pairs = _neighbor_pairs(locs.select("id", "x", "y"), eps).localCheckpoint()

    # weighted degree (neighbor count incl. self) → core flag
    deg = (
        pairs.join(locs.select(F.col("id").alias("b_id"), "cnt"), "b_id")
        .groupBy("a_id")
        .agg(F.sum("cnt").alias("n_nbrs"))
    )
    core = deg.filter(F.col("n_nbrs") >= min_samples).select(F.col("a_id").alias("id"))
    core = core.localCheckpoint()

    # core-core edges → connected components
    core_pairs = (
        pairs.join(core.withColumnRenamed("id", "a_id"), "a_id")
        .join(core.withColumnRenamed("id", "b_id"), "b_id")
        .filter(F.col("a_id") < F.col("b_id"))  # one direction suffices for CC
        .localCheckpoint()
    )
    comp = connected_components(core_pairs)
    # singleton core points (no core neighbor) are their own cluster
    core_labels = (
        core.join(comp, "id", "left")
        .select("id", F.coalesce("comp", "id").alias("cluster"))
    )

    # border points: non-core with ≥1 core neighbor → min core label
    border = (
        pairs.join(core.withColumnRenamed("id", "b_id"), "b_id")
        .join(core.withColumnRenamed("id", "a_id"), "a_id", "left_anti")
        .join(core_labels.withColumnRenamed("id", "b_id"), "b_id")
        .groupBy(F.col("a_id").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
    )

    labeled = core_labels.unionByName(border)
    # expand back: location label → every point at that (x, y)
    loc_labels = locs.join(labeled, "id", "left").select(
        "x", "y", F.coalesce("cluster", F.lit(-1)).alias("cluster")
    )
    return pts.join(loc_labels, ["x", "y"], "left").select("id", "cluster")


def connected_components(
    pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id"
) -> DataFrame:
    """Public CC over undirected (a, b) pair edges → (id, comp),
    comp = min reachable id: union-find on collected edges when they
    fit ``CC_DRIVER_CAP``, min-label propagation + pointer jumping
    otherwise (both paths bit-identical). DBSCAN's core-core edges and
    near-dup clustering (duplicate groups ARE the components of the
    near-dup pair graph) both run through it.

    The dispatch probe reads a lazily checkpointed input: the pair
    table materializes exactly once (for near_dup_clusters_docs that is
    the full MinHash-LSH near-dup run) and the probe rows feed the
    union-find directly."""
    e = pairs.select(
        F.col(a_col).alias("a_id"), F.col(b_col).alias("b_id")
    ).localCheckpoint(eager=False)
    tbl = dispatch.driver_rows(e, CC_DRIVER_CAP)
    if tbl is not None:
        return _cc_driver(pairs.sparkSession, dispatch.tuples(tbl))
    return _connected_components(e)


def cluster_census(labels: DataFrame) -> DataFrame:
    """A17 — (n_clusters, n_noise) summary (test.py:172-173)."""
    return labels.agg(
        F.countDistinct(F.when(F.col("cluster") >= 0, F.col("cluster"))).alias("n_clusters"),
        F.sum((F.col("cluster") == -1).cast("bigint")).alias("n_noise"),
    )
