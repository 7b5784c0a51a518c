"""Grid-partitioned spatial joins — the engine's core physical strategy.

The reference does spatial joins via geopandas sjoin / nested loops
(lab2 nb cell 20 point-in-Voronoi; lab3a cell 15 POI-in-isochrone;
lab3c cell 5 O(cells×edges) grid×road intersection). The scalable
re-expression: assign covering grid-cell ids to BOTH sides, equi-join on
the cell id (hash shuffle — Catalyst handles it), then refine with the
exact geometric predicate. At 100 TB the cell id is also the storage
partition key, so the join degenerates to co-located per-cell work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import grid_cell


def tag_cells(
    df: DataFrame, lat: str, lon: str, origin_lat: float, origin_lon: float, cell_deg: float
) -> DataFrame:
    gx, gy = grid_cell(lat, lon, origin_lat, origin_lon, cell_deg)
    return df.withColumn("gx", gx).withColumn("gy", gy)


def point_in_rect_join(points: DataFrame, rects: DataFrame) -> DataFrame:
    """J5 (axis-aligned polygon case): inner join of (lat, lon) points
    to the rectangles [cell_lon_min, cell_lon_max) × [cell_lat_min,
    cell_lat_max) that contain them.

    The rectangle side is small (Voronoi cells, isochrone hulls,
    analysis grids — hundreds to thousands of rows), so it is
    broadcast; the join is then a map-side nested loop with a cheap
    predicate and no shuffle of the big point table.
    """
    pred = (
        (F.col("lon") >= F.col("cell_lon_min"))
        & (F.col("lon") < F.col("cell_lon_max"))
        & (F.col("lat") >= F.col("cell_lat_min"))
        & (F.col("lat") < F.col("cell_lat_max"))
    )
    return points.join(F.broadcast(rects), pred, "inner")


def point_in_cell_join(
    points: DataFrame,
    cells: DataFrame,
    lat: str,
    lon: str,
    origin_lat: float,
    origin_lon: float,
    cell_deg: float,
) -> DataFrame:
    """J5 (general case): tag points with (gx, gy) → inner equi-join with a
    cell table keyed by (gx, gy). Pure hash join, shuffles only on the
    integer cell key — the scalable plan shape for point-in-polygon when
    the polygon side is itself huge (each polygon pre-expanded to its
    covering cells; refinement predicate applied after the equi-join)."""
    tagged = tag_cells(points, lat, lon, origin_lat, origin_lon, cell_deg)
    return tagged.join(cells, ["gx", "gy"], "inner")


def point_in_polygon_refine(df: DataFrame, lat: str, lon: str, poly_col: str):
    """Exact point-in-polygon refinement over WKT polygons via a
    vectorized pandas UDF (ray casting). Used after the cell equi-join
    has cut candidates to co-located pairs."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _pip(lats, lons, polys):
        import numpy as np

        out = []
        cache: dict[str, tuple] = {}
        for la, lo, wkt in zip(lats, lons, polys):
            if wkt not in cache:
                body = wkt.strip()[len("POLYGON ((") : -2]
                pts = [tuple(map(float, p.split())) for p in body.split(", ")]
                cache[wkt] = (np.array([p[0] for p in pts]), np.array([p[1] for p in pts]))
            xs, ys = cache[wkt]
            x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
            crossing = ((ys > la) != (y2 > la)) & (
                lo < (x2 - xs) * (la - ys) / (y2 - ys) + xs
            )
            out.append(bool(np.count_nonzero(crossing) % 2))
        return pd.Series(out)

    return df.filter(_pip(F.col(lat), F.col(lon), F.col(poly_col)))


def segment_grid_overlap(
    segs: DataFrame,
    origin_x: float,
    origin_y: float,
    cell: float,
) -> DataFrame:
    """J6 — (x1, y1)–(x2, y2) line-segment × grid-cell overlap length
    (the Spark-first rewrite of lab3c cell 5's O(cells×edges) nested
    loop, SURVEY §4).

    Candidate generation: each segment explodes only to the cells its
    bounding box covers (sequence over cell index ranges — segments
    touch O(len/cell) cells, not O(all cells)). Refinement: Liang-Barsky
    parametric clipping as pure column arithmetic — the clip interval
    [t_in, t_out] ⊂ [0,1] per cell gives overlap length
    (t_out−t_in)·|seg|. Zero-length clips (corner touches) contribute 0.

    Output: input columns + (gx, gy, overlap_len). Axis-parallel
    segments (dx or dy = 0) take the degenerate branch: the axis
    constrains membership instead of a t-interval.
    """
    gx0 = F.floor((F.least(F.col("x1"), F.col("x2")) - origin_x) / cell).cast("bigint")
    gx1 = F.floor((F.greatest(F.col("x1"), F.col("x2")) - origin_x) / cell).cast("bigint")
    gy0 = F.floor((F.least(F.col("y1"), F.col("y2")) - origin_y) / cell).cast("bigint")
    gy1 = F.floor((F.greatest(F.col("y1"), F.col("y2")) - origin_y) / cell).cast("bigint")
    e = (
        segs.withColumn("gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("gy", F.explode(F.sequence(gy0, gy1)))
    )
    xmin = F.lit(origin_x) + F.col("gx") * F.lit(cell)
    xmax = F.lit(origin_x) + (F.col("gx") + 1) * F.lit(cell)
    ymin = F.lit(origin_y) + F.col("gy") * F.lit(cell)
    ymax = F.lit(origin_y) + (F.col("gy") + 1) * F.lit(cell)
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")

    # per-axis entry/exit params; degenerate axis -> (-inf, +inf) if the
    # fixed coordinate lies inside the slab, else empty interval
    def axis_interval(p1, d, lo, hi):
        t_a = (lo - p1) / d
        t_b = (hi - p1) / d
        inside = (p1 >= lo) & (p1 <= hi)
        t_lo = F.when(d != 0, F.least(t_a, t_b)).otherwise(
            F.when(inside, F.lit(float("-inf"))).otherwise(F.lit(float("inf")))
        )
        t_hi = F.when(d != 0, F.greatest(t_a, t_b)).otherwise(
            F.when(inside, F.lit(float("inf"))).otherwise(F.lit(float("-inf")))
        )
        return t_lo, t_hi

    tx_lo, tx_hi = axis_interval(F.col("x1"), dx, xmin, xmax)
    ty_lo, ty_hi = axis_interval(F.col("y1"), dy, ymin, ymax)
    t_in = F.greatest(tx_lo, ty_lo, F.lit(0.0))
    t_out = F.least(tx_hi, ty_hi, F.lit(1.0))
    seg_len = F.sqrt(dx * dx + dy * dy)
    frac = F.greatest(t_out - t_in, F.lit(0.0))
    # inf * 0 = NaN guard: a fully-degenerate (point) segment has len 0
    overlap = F.when(seg_len > 0, frac * seg_len).otherwise(F.lit(0.0))
    # round before the positivity filter: a corner-touching segment's
    # overlap is fp noise (~1e-16) whose sign can differ across engines;
    # 12dp is far below any real sliver at engine cell sizes
    overlap = F.round(overlap, 12)
    return e.withColumn("overlap_len", overlap).filter(F.col("overlap_len") > 0)
