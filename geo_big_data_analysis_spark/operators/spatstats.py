"""Global spatial statistics: Moran's I / Geary's C, Ripley's K, and
Mann-Kendall trend per space-time-cube cell.

Completes the reference's spatial-stats surface around the LISA local
statistics (lab4 nb cell 21, json 5926 — esda ``Moran_Local``): the
*global* autocorrelation scalars (Moran's I with analytic
normality-assumption inference, Geary's C), the point-pattern K/L
function, and the ArcGIS-style "emerging hot spot" trend test over a
grid × time-bin cube.

Scale design (SURVEY §4 grid strategy throughout):
- Global Moran/Geary run on *aggregated grid cells*, never raw points;
  the queen-contiguity weight matrix is materialized as an equi-join of
  each cell against its 8 neighbor offsets (integer cell-id key, no
  distance search), so the pair stage shuffles |cells| × 8 rows.
- Ripley's K counts pairs through the 3×3 covering-cell equi-join
  (cell edge ≥ max radius), the same bounded-fan-out shape as the
  distance-band join — never |P|² pairs.
- Mann-Kendall pairs time bins *within* a cell; the series length per
  cell is bounded (weeks in the observation span), so the self-join
  fan-out is cells × O(T²) with T fixed — embarrassingly parallel by
  cell, one integer-key shuffle.

All three are pure column expressions (whole-stage codegen; no Python
UDFs) with exact closed-form oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def queen_neighbor_pairs(cells: DataFrame) -> DataFrame:
    """All ordered (i, j) pairs of (gx, gy) cells under queen contiguity
    (8-adjacent cells are neighbors, binary weight 1). Equi-join on the
    shifted integer cell id — the scalable contiguity-matrix
    materialization."""
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    right = cells.select(
        F.col("gx").alias("_jx"),
        F.col("gy").alias("_jy"),
        *[F.col(c).alias(f"j_{c}") for c in cells.columns if c not in ("gx", "gy")],
    )
    probe = (
        cells.select(
            "*",
            F.explode(
                F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offsets])
            ).alias("_o"),
        )
        .withColumn("_jx", F.col("gx") + F.col("_o.dx"))
        .withColumn("_jy", F.col("gy") + F.col("_o.dy"))
        .drop("_o")
    )
    return probe.join(right, ["_jx", "_jy"]).drop("_jx", "_jy")


def global_moran_geary(cells: DataFrame, value_col: str) -> DataFrame:
    """One-row global Moran's I + Geary's C over a cell table with
    binary queen weights, plus Moran's analytic normality inference
    (E[I] = -1/(N-1), Var_N[I], z-score) — the global twin of
    ``operators/lisa.local_morans_i``.

    Formulas (Cliff & Ord):
      I = (N/W) * Σ_ij w_ij z_i z_j / Σ z_i²
      C = ((N-1)/(2W)) * Σ_ij w_ij (x_i - x_j)² / Σ z_i²
      Var_N[I] = (N²S1 - N·S2 + 3W²) / (W²(N²-1)) - E[I]²
    with, for symmetric binary weights, S1 = 2W and S2 = 4 Σ_i deg_i².
    """
    stats = cells.agg(
        F.avg(value_col).alias("_mu"), F.count(F.lit(1)).alias("_n")
    )
    z = cells.crossJoin(F.broadcast(stats)).withColumn(
        "_z", F.col(value_col) - F.col("_mu")
    )
    pairs = queen_neighbor_pairs(z.select("gx", "gy", value_col, "_z"))
    pair_aggs = pairs.agg(
        F.sum(F.col("_z") * F.col(f"j__z")).alias("cross_zz"),
        F.sum(
            (F.col(value_col) - F.col(f"j_{value_col}"))
            * (F.col(value_col) - F.col(f"j_{value_col}"))
        ).alias("sq_diff"),
        F.count(F.lit(1)).alias("w_sum"),
    )
    degrees = (
        pairs.groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(F.sum(F.col("deg") * F.col("deg")).alias("sum_deg_sq"))
    )
    m2 = z.agg(
        F.sum(F.col("_z") * F.col("_z")).alias("m2"), F.count(F.lit(1)).alias("n_cells")
    )
    out = (
        m2.crossJoin(F.broadcast(pair_aggs))
        .crossJoin(F.broadcast(degrees))
        .withColumn("morans_i", (F.col("n_cells") / F.col("w_sum")) * F.col("cross_zz") / F.col("m2"))
        .withColumn(
            "gearys_c",
            ((F.col("n_cells") - 1) / (2.0 * F.col("w_sum"))) * F.col("sq_diff") / F.col("m2"),
        )
        .withColumn("e_i", F.lit(-1.0) / (F.col("n_cells") - 1))
        .withColumn("s1", 2.0 * F.col("w_sum"))
        .withColumn("s2", 4.0 * F.col("sum_deg_sq"))
        .withColumn(
            "var_i",
            (
                F.col("n_cells") * F.col("n_cells") * F.col("s1")
                - F.col("n_cells") * F.col("s2")
                + 3.0 * F.col("w_sum") * F.col("w_sum")
            )
            / (
                F.col("w_sum")
                * F.col("w_sum")
                * (F.col("n_cells") * F.col("n_cells") - 1)
            )
            - F.col("e_i") * F.col("e_i"),
        )
        .withColumn("z_norm", (F.col("morans_i") - F.col("e_i")) / F.sqrt("var_i"))
    )
    return out.select(
        "n_cells", "w_sum", "morans_i", "gearys_c", "e_i", "var_i", "z_norm"
    )


def ripley_k(
    pts: DataFrame,
    radii_km: list[float],
    area_km2: float,
    origin_lat: float,
    origin_lon: float,
    cover_cell_deg: float,
) -> DataFrame:
    """Naive (no edge correction) Ripley K̂(r) and Besag L̂(r) of (lat,
    lon) points at each radius:
    K̂(r) = A·Σ_i Σ_{j≠i} 1[d_ij ≤ r] / (n(n-1)), L̂ = √(K̂/π).

    Pair counting runs through the 3×3 covering-cell equi-join;
    ``cover_cell_deg`` must be ≥ max(radii) in degrees on both axes so
    the cover is complete (the distance-band proof obligation). Each
    in-range pair contributes to every radius ≥ its distance via an
    unconditioned aggregate over `when` flags — one pass, no per-radius
    re-join. Edge-corrected estimators (Ripley isotropic) need the
    boundary geometry and are documented future work.
    """
    from ..functions.geo import grid_cell, haversine_km

    # Covering-cell completeness obligation: the 3x3 neighborhood only
    # covers every pair within rmax if one cell spans >= rmax on BOTH
    # axes. Lat: 1 deg ~ 110.574 km everywhere. Lon: 1 deg shrinks by
    # cos(lat) — checked at |origin_lat| + 2 deg as a study-area margin
    # (the grid origin anchors the bbox corner, so data sits within a
    # few degrees of it for any sane cell size).
    import math as _math

    rmax_check = max(radii_km)
    lat_km = cover_cell_deg * 110.574
    lon_km = cover_cell_deg * 111.32 * _math.cos(
        _math.radians(min(abs(origin_lat) + 2.0, 89.0))
    )
    if min(lat_km, lon_km) < rmax_check:
        raise ValueError(
            f"cover_cell_deg={cover_cell_deg} spans only "
            f"{min(lat_km, lon_km):.3f} km on the narrower axis < max "
            f"radius {rmax_check} km: the 3x3 covering cell would miss pairs"
        )

    p = pts.select(F.col("lat").alias("_lat"), F.col("lon").alias("_lon"))
    gx, gy = grid_cell("_lat", "_lon", origin_lat, origin_lon, cover_cell_deg)
    b = p.withColumn("bgx", gx).withColumn("bgy", gy).select(
        F.col("_lat").alias("b_lat"), F.col("_lon").alias("b_lon"), "bgx", "bgy"
    )
    a = (
        p.withColumn("gx0", gx)
        .withColumn("gy0", gy)
        .select("*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"))
        .select("*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"))
        .select(
            F.col("_lat").alias("a_lat"),
            F.col("_lon").alias("a_lon"),
            (F.col("gx0") + F.col("dx")).alias("bgx"),
            (F.col("gy0") + F.col("dy")).alias("bgy"),
        )
    )
    d = haversine_km("a_lat", "a_lon", "b_lat", "b_lon")
    rmax = max(radii_km)
    pairs = (
        a.join(b, ["bgx", "bgy"])
        .withColumn("dist_km", d)
        # d > 0 excludes self-pairs (and exact-coincident points, which
        # the derived-point generator cannot produce); keep ≤ rmax only.
        .filter((F.col("dist_km") > 0) & (F.col("dist_km") <= F.lit(rmax)))
    )
    counts = pairs.agg(
        *[
            F.sum(F.when(F.col("dist_km") <= F.lit(r), 1).otherwise(0)).alias(f"_c{i}")
            for i, r in enumerate(radii_km)
        ]
    )
    n_row = p.agg(F.count(F.lit(1)).alias("n_pts"))
    wide = n_row.crossJoin(F.broadcast(counts))
    per_r = wide.select(
        "n_pts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(r)).alias("r_km"),
                        F.col(f"_c{i}").alias("n_pairs"),
                    )
                    for i, r in enumerate(radii_km)
                ]
            )
        ).alias("_s"),
    ).select("n_pts", "_s.r_km", "_s.n_pairs")
    return per_r.select(
        "r_km",
        "n_pairs",
        F.round(
            F.lit(area_km2) * F.col("n_pairs") / (F.col("n_pts") * (F.col("n_pts") - F.lit(1).cast("long"))),
            6,
        ).alias("k_hat"),
        F.round(
            F.sqrt(
                F.lit(area_km2)
                * F.col("n_pairs")
                / (F.col("n_pts") * (F.col("n_pts") - F.lit(1).cast("long")))
                / F.lit(3.141592653589793)
            ),
            6,
        ).alias("l_hat"),
    )


def mann_kendall_by_key(
    series: DataFrame, key_cols: list[str], t_col: str, value_col: str
) -> DataFrame:
    """Per-key Mann-Kendall trend test (S statistic, tie-corrected
    variance, continuity-corrected z) over a (key, time-bin, value)
    series — the statistic behind ArcGIS "emerging hot spot analysis"
    on a space-time cube.

      S   = Σ_{i<j} sign(v_j - v_i)          (time-ordered)
      Var = [n(n-1)(2n+5) - Σ_t t(t-1)(2t+5)] / 18   (t = tie sizes)
      z   = (S-1)/√Var if S>0, (S+1)/√Var if S<0, else 0

    The i<j self-join keys on the cell id, so fan-out is T² per key
    with T bounded by the observation span — scale-safe by cell count.
    """
    left = series.select(
        *key_cols, F.col(t_col).alias("_ti"), F.col(value_col).alias("_vi")
    )
    right = series.select(
        *key_cols, F.col(t_col).alias("_tj"), F.col(value_col).alias("_vj")
    )
    s = (
        left.join(right, key_cols)
        .filter(F.col("_ti") < F.col("_tj"))
        .groupBy(*key_cols)
        .agg(F.sum(F.signum(F.col("_vj") - F.col("_vi"))).cast("long").alias("s_stat"))
    )
    n_per = series.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_bins"))
    ties = (
        series.groupBy(*key_cols, value_col)
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(*key_cols)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("tie_term")
        )
    )
    out = (
        s.join(n_per, key_cols)
        .join(ties, key_cols)
        .withColumn(
            "var_s",
            (
                F.col("n_bins") * (F.col("n_bins") - 1) * (2 * F.col("n_bins") + 5)
                - F.col("tie_term")
            )
            / F.lit(18.0),
        )
        .withColumn(
            "z_mk",
            F.when(F.col("var_s") <= 0, F.lit(0.0))
            .when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_s"))
            .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_s"))
            .otherwise(F.lit(0.0)),
        )
    )
    return out.select(*key_cols, "n_bins", "s_stat", "var_s", "z_mk")
