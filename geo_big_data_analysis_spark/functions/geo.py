"""Geospatial scalar functions — pure column expressions where possible.

Re-expresses the reference's shapely/pyproj/numpy geo math as JVM-side
Spark expressions (reference: ghy_实习二.py:44-51 haversine;
lx_lightgbmTest.py:31-43 bearing/manhattan; test.py:55-56 bbox filter;
lab3a/lab3c grid generation). CRS transforms use an equirectangular /
UTM closed form in column math — pyproj is optional and only needed for
exotic CRS (gated behind an import-try in `transform_udf`).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def haversine_km(lat1, lon1, lat2, lon2, decimals: int | None = None) -> Column:
    """Great-circle distance in km, R=6371 (ghy_实习二.py:44-51).

    The reference's lab2 variant rounds to 3 decimals (nb cell 11);
    pass ``decimals=3`` for that behavior.
    """
    la1, lo1, la2, lo2 = (F.radians(_c(x)) for x in (lat1, lon1, lat2, lon2))
    dlat = la2 - la1
    dlon = lo2 - lo1
    a = F.sin(dlat / 2) ** 2 + F.cos(la1) * F.cos(la2) * F.sin(dlon / 2) ** 2
    d = F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))
    return F.round(d, decimals) if decimals is not None else d


def bearing_deg(lat1, lon1, lat2, lon2) -> Column:
    """Initial bearing 0-360° via atan2 (lx_lightgbmTest.py:31-38)."""
    la1, lo1, la2, lo2 = (F.radians(_c(x)) for x in (lat1, lon1, lat2, lon2))
    dlon = lo2 - lo1
    x = F.sin(dlon) * F.cos(la2)
    y = F.cos(la1) * F.sin(la2) - F.sin(la1) * F.cos(la2) * F.cos(dlon)
    return F.pmod(F.degrees(F.atan2(x, y)) + F.lit(360.0), F.lit(360.0))


def in_bbox(lat, lon, lat_min, lat_max, lon_min, lon_max) -> Column:
    """Conjunction-of-between bbox predicate (test.py:55-56) — stays a
    plain comparison so Catalyst pushes it into the parquet scan."""
    return _c(lat).between(lat_min, lat_max) & _c(lon).between(lon_min, lon_max)


def grid_cell(lat, lon, origin_lat, origin_lon, cell_deg: float):
    """(gx, gy) integer grid-cell ids for a fixed-origin lat/lon grid.

    This is the engine's spatial partitioning key: both sides of a
    spatial join get cell ids, the join runs as an equi-join on
    (gx, gy) — Catalyst hashes/shuffles on the cell id, which is the
    scalable strategy for J5/J6/J10 at 100 TB (SURVEY §4).
    """
    gx = F.floor((_c(lon) - F.lit(origin_lon)) / F.lit(cell_deg)).cast("bigint")
    gy = F.floor((_c(lat) - F.lit(origin_lat)) / F.lit(cell_deg)).cast("bigint")
    return gx, gy


def equirect_xy_m(lat, lon, ref_lat: float):
    """Project lon/lat to local meters via equirectangular approximation
    around ``ref_lat`` — the engine's closed-form stand-in for the
    reference's UTM projections (test.py:81: EPSG:32618). For city-scale
    extents the distance distortion vs true UTM is <0.1%, and it keeps
    the hot path in whole-stage codegen instead of a pyproj UDF."""
    m_per_deg = 111320.0
    x = _c(lon) * F.lit(m_per_deg * math.cos(math.radians(ref_lat)))
    y = _c(lat) * F.lit(m_per_deg)
    return x, y


def web_mercator_xy(lat, lon) -> tuple:
    """EPSG:3857 (web/spherical mercator) meters — the projection the
    reference touches for basemap alignment (lab2 nb cell 20, json 600:
    ``to_crs(epsg=3857)``). Closed-form on the WGS84 sphere radius:
    x = R·λ, y = R·asinh(tan φ); two codegen'd expressions, no pyproj."""
    x = F.radians(_c(lon)) * F.lit(WGS84_A)
    y = F.asinh(F.tan(F.radians(_c(lat)))) * F.lit(WGS84_A)
    return x, y


def _asinh_sql(u: str) -> str:
    """asinh spelled via ln (DuckDB has no asinh built-in); identical to
    the closed form to double precision for the |u| ≤ tan(85°) range
    web mercator ever sees."""
    return f"ln(({u}) + sqrt(({u}) * ({u}) + 1.0))"


def slippy_tile(lat, lon, zoom: int) -> tuple:
    """OSM slippy-map tile (tx, ty) at ``zoom`` — the standard
    web-mercator tiling: tx = ⌊(λ+180)/360·2^z⌋,
    ty = ⌊(1 − asinh(tan φ)/π)/2·2^z⌋."""
    n = float(1 << zoom)
    tx = F.floor((_c(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    ty = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(F.radians(_c(lat)))) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(n)
    )
    return tx.cast("bigint"), ty.cast("bigint")


def slippy_tile_sql(lat_expr: str, lon_expr: str, zoom: int) -> tuple[str, str]:
    n = float(1 << zoom)
    asinh = _asinh_sql(f"tan(radians({lat_expr}))")
    tx = f"CAST(floor(({lon_expr} + 180.0) / 360.0 * {n!r}) AS BIGINT)"
    ty = f"CAST(floor((1.0 - {asinh} / pi()) / 2.0 * {n!r}) AS BIGINT)"
    return tx, ty


# ---------------------------------------------------------------------------
# Exact Transverse Mercator (UTM) — Karney (2011) Krüger series, order n⁶.
# Replaces the reference's pyproj EPSG:32618 transform
# (实习一/实习一代码/test.py:81,161) with pure column expressions — stays in
# whole-stage codegen, no pyproj UDF. Series truncation error < 1 nm
# within a UTM zone (Karney 2011, "Transverse Mercator with an accuracy
# of a few nanometers"), so accuracy is limited only by double precision.
# ---------------------------------------------------------------------------

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
UTM_K0 = 0.9996
UTM_FALSE_EASTING = 500000.0
UTM_FALSE_NORTHING_SOUTH = 10000000.0


def _utm_series_constants() -> tuple[float, list[float]]:
    """(rectifying radius A, [α₁..α₆]) for WGS84 — Karney 2011 eq. 12/35."""
    n = WGS84_F / (2.0 - WGS84_F)
    n2, n3, n4, n5, n6 = n * n, n**3, n**4, n**5, n**6
    big_a = WGS84_A / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0 + n6 / 256.0)
    alpha = [
        n / 2.0 - 2.0 / 3.0 * n2 + 5.0 / 16.0 * n3 + 41.0 / 180.0 * n4
        - 127.0 / 288.0 * n5 + 7891.0 / 37800.0 * n6,
        13.0 / 48.0 * n2 - 3.0 / 5.0 * n3 + 557.0 / 1440.0 * n4
        + 281.0 / 630.0 * n5 - 1983433.0 / 1935360.0 * n6,
        61.0 / 240.0 * n3 - 103.0 / 140.0 * n4 + 15061.0 / 26880.0 * n5
        + 167603.0 / 181440.0 * n6,
        49561.0 / 161280.0 * n4 - 179.0 / 168.0 * n5 + 6601661.0 / 7257600.0 * n6,
        34729.0 / 80640.0 * n5 - 3418889.0 / 1995840.0 * n6,
        212378941.0 / 319334400.0 * n6,
    ]
    return big_a, alpha


def utm_central_lon(zone: int) -> float:
    """Central meridian of a UTM zone (zone 18 → −75°)."""
    return float(zone * 6 - 183)


def utm_xy_m(lat, lon, zone: int, northern: bool = True) -> tuple[Column, Column]:
    """Exact UTM easting/northing (meters) from lon/lat degrees as pure
    column expressions. EPSG:326xx (north) / 327xx (south) semantics:
    k₀=0.9996, false easting 500 km, false northing 10 000 km south.

    Karney's forward algorithm: conformal latitude via
    σ = sinh(e·atanh(e·sinφ)), then ξ′/η′ on the sphere, then the
    6-term Krüger series in the third flattening. Valid over a whole
    UTM zone (|λ−λ₀| ≤ 3° + overlap); series error ≪ 1 mm.
    """
    big_a, alpha = _utm_series_constants()
    e = math.sqrt(WGS84_F * (2.0 - WGS84_F))
    lam = F.radians(_c(lon) - F.lit(utm_central_lon(zone)))
    phi = F.radians(_c(lat))
    sphi = F.sin(phi)
    t = F.tan(phi)
    sigma = F.sinh(F.lit(e) * F.atanh(F.lit(e) * sphi))
    tp = t * F.sqrt(1.0 + sigma * sigma) - sigma * F.sqrt(1.0 + t * t)
    coslam = F.cos(lam)
    xi_p = F.atan2(tp, coslam)
    eta_p = F.asinh(F.sin(lam) / F.sqrt(tp * tp + coslam * coslam))
    xi = xi_p
    eta = eta_p
    for j, aj in enumerate(alpha, start=1):
        xi = xi + F.lit(aj) * F.sin(F.lit(2.0 * j) * xi_p) * F.cosh(F.lit(2.0 * j) * eta_p)
        eta = eta + F.lit(aj) * F.cos(F.lit(2.0 * j) * xi_p) * F.sinh(F.lit(2.0 * j) * eta_p)
    x = F.lit(UTM_FALSE_EASTING) + F.lit(UTM_K0 * big_a) * eta
    y = F.lit(UTM_K0 * big_a) * xi
    if not northern:
        y = y + F.lit(UTM_FALSE_NORTHING_SOUTH)
    return x, y


def utm_xy_sql(lat_expr: str, lon_expr: str, zone: int) -> tuple[str, str]:
    """DuckDB-SQL twin of :func:`utm_xy_m` (northern hemisphere) for
    oracle replay — same
    Karney series, same Python-computed float constants embedded via
    repr (sinh/cosh/asinh/atanh spelled with exp/ln since DuckDB lacks
    the hyperbolic family; cross-libm disagreement ≲ 1e-9 m)."""
    big_a, alpha = _utm_series_constants()
    e = math.sqrt(WGS84_F * (2.0 - WGS84_F))
    lon0 = utm_central_lon(zone)

    def _sinh(u: str) -> str:
        return f"((exp({u}) - exp(-({u}))) * 0.5)"

    def _cosh(u: str) -> str:
        return f"((exp({u}) + exp(-({u}))) * 0.5)"

    lam = f"radians(({lon_expr}) - {lon0!r})"
    phi = f"radians({lat_expr})"
    es = f"({e!r} * sin({phi}))"
    # atanh(u) = 0.5*ln((1+u)/(1-u)); asinh(u) = ln(u + sqrt(u*u+1))
    sigma = _sinh(f"({e!r} * 0.5 * ln((1.0 + {es}) / (1.0 - {es})))")
    t = f"tan({phi})"
    tp = f"({t} * sqrt(1.0 + {sigma} * {sigma}) - {sigma} * sqrt(1.0 + {t} * {t}))"
    xi_p = f"atan2({tp}, cos({lam}))"
    u = f"(sin({lam}) / sqrt({tp} * {tp} + cos({lam}) * cos({lam})))"
    eta_p = f"ln({u} + sqrt({u} * {u} + 1.0))"
    xi_terms = [xi_p]
    eta_terms = [eta_p]
    for j, aj in enumerate(alpha, start=1):
        xi_terms.append(f"{aj!r} * sin({2.0 * j!r} * {xi_p}) * {_cosh(f'{2.0 * j!r} * {eta_p}')}")
        eta_terms.append(f"{aj!r} * cos({2.0 * j!r} * {xi_p}) * {_sinh(f'{2.0 * j!r} * {eta_p}')}")
    k0a = UTM_K0 * big_a
    x = f"({UTM_FALSE_EASTING!r} + {k0a!r} * ({' + '.join(eta_terms)}))"
    y = f"({k0a!r} * ({' + '.join(xi_terms)}))"
    return x, y


# ---------------------------------------------------------------------------
# Hexagonal binning (H3-style axial cells, flat math — no library)
# ---------------------------------------------------------------------------

SQRT3 = 1.7320508075688772


def hex_cell(x, y, size: float) -> tuple[Column, Column]:
    """Axial (q, r) hex-cell ids for pointy-top hexagons of circumradius
    ``size`` (same units as x/y) — the hex twin of `grid_cell`. The
    fractional axial coords are cube-rounded (round all three cube
    coords, then repair the one with the largest rounding error so
    q+r+s stays 0 — the standard exact algorithm). Pure column math;
    `hex_cell_sql` is its DuckDB twin, so hex aggregations are
    oracle-checkable."""
    xf = _c(x).cast("double")
    yf = _c(y).cast("double")
    qf = (F.lit(SQRT3 / 3.0) * xf - F.lit(1.0 / 3.0) * yf) / F.lit(float(size))
    rf = (F.lit(2.0 / 3.0) * yf) / F.lit(float(size))
    sf = -qf - rf
    rq = F.round(qf, 0)
    rr = F.round(rf, 0)
    rs = F.round(sf, 0)
    dq = F.abs(rq - qf)
    dr = F.abs(rr - rf)
    ds = F.abs(rs - sf)
    q_fix = (-rr - rs)
    r_fix = (-rq - rs)
    q_out = F.when((dq > dr) & (dq > ds), q_fix).otherwise(rq)
    r_out = F.when(~((dq > dr) & (dq > ds)) & (dr > ds), r_fix).otherwise(rr)
    return q_out.cast("bigint"), r_out.cast("bigint")


def hex_cell_sql(x_sql: str, y_sql: str, size: float) -> tuple[str, str]:
    """DuckDB twin of :func:`hex_cell` (identical arithmetic order)."""
    qf = f"(({SQRT3 / 3.0!r} * ({x_sql})::DOUBLE - {1.0 / 3.0!r} * ({y_sql})::DOUBLE) / {float(size)!r})"
    rf = f"(({2.0 / 3.0!r} * ({y_sql})::DOUBLE) / {float(size)!r})"
    sf = f"(-{qf} - {rf})"
    rq, rr, rs = f"round({qf})", f"round({rf})", f"round({sf})"
    dq, dr, ds = f"abs({rq} - {qf})", f"abs({rr} - {rf})", f"abs({rs} - {sf})"
    cond_q = f"({dq} > {dr} AND {dq} > {ds})"
    q_out = f"(CASE WHEN {cond_q} THEN (-{rr} - {rs}) ELSE {rq} END)::BIGINT"
    r_out = (
        f"(CASE WHEN NOT {cond_q} AND {dr} > {ds} THEN (-{rq} - {rs})"
        f" ELSE {rr} END)::BIGINT"
    )
    return q_out, r_out


def clip(col, lo, hi) -> Column:
    """np.clip equivalent (lab2 nb cell 22)."""
    return F.greatest(F.least(_c(col), F.lit(hi)), F.lit(lo))


def make_grid(
    spark,
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    cell_deg: float,
) -> DataFrame:
    """Regular grid as a DataFrame of cells (lab3a cell 20 / lab3c cell 5
    `np.arange` meshes → here a sequence×sequence cross + explode, fully
    distributed)."""
    nx = int(math.ceil((lon_max - lon_min) / cell_deg))
    ny = int(math.ceil((lat_max - lat_min) / cell_deg))
    return (
        spark.range(nx)
        .withColumnRenamed("id", "gx")
        .crossJoin(spark.range(ny).withColumnRenamed("id", "gy"))
        .select(
            F.col("gx").cast("bigint"),
            F.col("gy").cast("bigint"),
            (F.lit(lon_min) + F.col("gx") * F.lit(cell_deg)).alias("cell_lon_min"),
            (F.lit(lat_min) + F.col("gy") * F.lit(cell_deg)).alias("cell_lat_min"),
            (F.lit(lon_min) + (F.col("gx") + 1) * F.lit(cell_deg)).alias("cell_lon_max"),
            (F.lit(lat_min) + (F.col("gy") + 1) * F.lit(cell_deg)).alias("cell_lat_max"),
        )
    )
