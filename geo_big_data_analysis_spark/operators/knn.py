"""KNN join (J10) — k nearest neighbors per query point.

Reference uses sklearn NearestNeighbors / libpysal KNN on in-memory
coords (test.py:101-106 k-distance curve; lab4 nb cell 21 LISA weights).

Two strategies:
- ``knn_join_bruteforce``: query×base cross product → per-query top-k
  via row_number window. Exact; right when one side is small (the
  reference's workloads) or as the refinement step.
- ``knn_join_grid``: grid-bucket both sides, search the 3×3 neighbor
  cells, refine exactly. Equi-join on cell id → scales; exact as long as
  the k-th neighbor distance < cell size (choose cell ≈ expected kth-NN
  distance; fall back to widening rings for sparse cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import dispatch


def _sq_dist(x1, y1, x2, y2):
    return (F.col(x1) - F.col(x2)) ** 2 + (F.col(y1) - F.col(y2)) ** 2


def knn_join_bruteforce(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    q_id: str = "id",
    b_id: str = "id",
    q_xy: tuple[str, str] = ("x", "y"),
    b_xy: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """Exact KNN: broadcast the smaller base side, rank by distance.

    Output: (query_id, neighbor_id, dist, knn_rank), self pairs
    excluded. Ties broken by neighbor id for determinism.
    """
    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_xy[0]).alias("_qx"), F.col(q_xy[1]).alias("_qy"))
    b = base.select(F.col(b_id).alias("neighbor_id"), F.col(b_xy[0]).alias("_bx"), F.col(b_xy[1]).alias("_by"))
    pairs = q.crossJoin(F.broadcast(b))
    pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    pairs = pairs.withColumn(
        "dist", F.sqrt(_sq_dist("_qx", "_qy", "_bx", "_by"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "dist", "knn_rank")
    )


def knn_join_grid(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    cell: float,
    q_id: str = "id",
    b_id: str = "id",
    q_xy: tuple[str, str] = ("x", "y"),
    b_xy: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """Grid-bucketed KNN (self pairs excluded): each query point probes
    its 3×3 neighborhood of cells of side ``cell``. Exact iff the true
    k-th neighbor lies within one cell ring (guaranteed when cell ≥
    expected kth-NN distance).

    Plan shape: explode queries ×9 (cheap, integer math) → hash
    equi-join on cell id → per-query top-k window. The shuffle key is
    the integer cell id — uniform, salt-free when the grid is sized so
    cells hold O(100) points.
    """
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_xy[0]).alias("_qx"),
        F.col(q_xy[1]).alias("_qy"),
        F.floor(F.col(q_xy[0]) / cell).cast("bigint").alias("_qcx"),
        F.floor(F.col(q_xy[1]) / cell).cast("bigint").alias("_qcy"),
    )
    offsets = F.expr("explode(arrays_zip(array(-1,-1,-1,0,0,0,1,1,1), array(-1,0,1,-1,0,1,-1,0,1)))")
    q9 = q.select("*", offsets.alias("_off")).select(
        "query_id", "_qx", "_qy",
        (F.col("_qcx") + F.col("_off")["0"]).alias("cx"),
        (F.col("_qcy") + F.col("_off")["1"]).alias("cy"),
    )
    b = base.select(
        F.col(b_id).alias("neighbor_id"),
        F.col(b_xy[0]).alias("_bx"),
        F.col(b_xy[1]).alias("_by"),
        F.floor(F.col(b_xy[0]) / cell).cast("bigint").alias("cx"),
        F.floor(F.col(b_xy[1]) / cell).cast("bigint").alias("cy"),
    )
    pairs = q9.join(b, ["cx", "cy"], "inner")
    pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    pairs = pairs.withColumn("dist", F.sqrt(_sq_dist("_qx", "_qy", "_bx", "_by")))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "dist", "knn_rank")
    )


#: Above this base-side row count (`operators/dispatch.fits`),
#: ``knn_join`` switches from the broadcast brute-force plan to the
#: grid-bucketed plan. 100k doubles ×4 cols ≈ 3 MB broadcast —
#: comfortably under executor memory; past that the cross product's
#: pair count (n·m) dominates anyway.
BRUTEFORCE_MAX_ROWS = 100_000


def knn_join(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    q_id: str = "id",
    b_id: str = "id",
    q_xy: tuple[str, str] = ("x", "y"),
    b_xy: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """Size-dispatched EXACT KNN join (self pairs excluded) — the
    default entry point.

    Small base (≤ ``BRUTEFORCE_MAX_ROWS``, one bounded probe): broadcast
    brute-force (one scan, no shuffle of the big side). Large base:
    grid-bucketed candidate join at an auto-estimated cell size, then
    an exactness completion pass — queries whose k-th candidate
    distance ≥ cell (or with < k candidates) are NOT guaranteed exact
    by the 3×3 ring, so they re-probe via a broadcast of the (small)
    deficient query set over one extra base scan. Result is exact for
    every query at any scale; the completion set is empty for
    near-uniform data when the cell estimate holds.

    On the grid path one 1-row aggregate on the base side (count +
    bbox) gives the cell estimate — the two-phase scalar pattern.
    """
    if dispatch.fits(base, BRUTEFORCE_MAX_ROWS):
        return knn_join_bruteforce(queries, base, k, q_id, b_id, q_xy, b_xy)
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col(b_xy[0]).cast("double")).alias("xmin"),
        F.max(F.col(b_xy[0]).cast("double")).alias("xmax"),
        F.min(F.col(b_xy[1]).cast("double")).alias("ymin"),
        F.max(F.col(b_xy[1]).cast("double")).alias("ymax"),
    ).collect()[0]
    n = int(stats["n"])
    # expected k-th-NN radius for a uniform point field of density
    # ρ = n/area is sqrt(k/(π·ρ)); 3× margin keeps the completion set
    # tiny for mildly clustered data.
    import math as _math

    area = max(
        (stats["xmax"] - stats["xmin"]) * (stats["ymax"] - stats["ymin"]), 1e-12
    )
    cell = 3.0 * _math.sqrt((k + 1) * area / (_math.pi * n))
    first = knn_join_grid(queries, base, k, cell, q_id, b_id, q_xy, b_xy)
    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_xy[0]).alias("_qx"), F.col(q_xy[1]).alias("_qy"))
    per_q = first.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_found"), F.max("dist").alias("_maxd")
    )
    exact_ids = per_q.filter(
        (F.col("_found") == k) & (F.col("_maxd") < F.lit(float(cell)))
    ).select("query_id")
    # deficient = queries not proven exact (includes zero-candidate ones)
    deficient = q.join(exact_ids, "query_id", "left_anti")
    b = base.select(F.col(b_id).alias("neighbor_id"), F.col(b_xy[0]).alias("_bx"), F.col(b_xy[1]).alias("_by"))
    pairs = F.broadcast(deficient).crossJoin(b)
    pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    pairs = pairs.withColumn("dist", F.sqrt(_sq_dist("_qx", "_qy", "_bx", "_by")))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    completion = (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "dist", "knn_rank")
    )
    return first.join(exact_ids, "query_id", "left_semi").unionByName(completion)


def kth_nn_distance(points: DataFrame, k: int, id_col: str, x: str, y: str) -> DataFrame:
    """M2 — per-point k-th-NN distance (eps-tuning k-distance curve,
    test.py:69-146). Self-KNN via the size-dispatched join: broadcast
    brute-force at city scale, grid equi-join + completion beyond."""
    knn = knn_join(points, points, k, id_col, id_col, (x, y), (x, y))
    return knn.filter(F.col("knn_rank") == k).select(
        F.col("query_id").alias(id_col), F.col("dist").alias("kth_dist")
    )
