"""Raster sources: bbox clip + broadcast point-sampling (S10/S11/J7).

Reference semantics:
- S10 GeoTIFF bbox clip: 实习二/实习二代码/clicp_image.py:8-37
  (``clip_image`` — window read of the population GeoTIFF).
- S11/J7 point sampling: lab2 nb (cell 22, json 775)
  ``get_population_density`` — ``transform.rowcol`` + ``np.clip`` of
  indices to the array bounds, nodata → NaN → global-mean fill.

Spark-first: a city-scale raster is megabytes — broadcast the numpy
array + affine transform once, sample inside an Arrow-batched pandas
UDF (vectorized rowcol arithmetic, no per-row Python). A 100 TB-scale
raster instead lands as a (tile_x, tile_y, array) DataFrame and the
sample becomes a grid-cell equi-join on tile id — same pattern as the
spatial join; the broadcast path below is the small-raster strategy.

The container has no rasterio/GDAL, so `read_geotiff` is a minimal
pure-Python TIFF 6.0 + GeoTIFF parser (strips/tiles, none/deflate
compression, horizontal predictor, uint/int/float samples, both byte
orders) producing the engine contract — north-up affine (x0, dx, y0,
dy), row-major float64 array, nodata sentinel — which the synthetic
raster used by tests/oracle shares.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Affine:
    """North-up affine transform: lon = x0 + col·dx, lat = y0 − row·dy."""

    x0: float
    dx: float
    y0: float
    dy: float

    def rowcol(self, lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        col = np.floor((lon - self.x0) / self.dx).astype("int64")
        row = np.floor((self.y0 - lat) / self.dy).astype("int64")
        return row, col


# --- minimal pure-Python GeoTIFF decode (S10) ------------------------------
# No rasterio/GDAL in this environment, so the decode is implemented
# directly from the TIFF 6.0 + GeoTIFF specs: classic (non-Big) TIFF,
# both byte orders, strip or tile layout, uncompressed or
# deflate-compressed (codes 8 / 32946), horizontal-differencing
# predictor, single band, uint/int/float samples of 8-64 bits.
# Reference behavior being re-expressed: 实习二/实习二代码/clicp_image.py:8-37
# reads the population GeoTIFF via rasterio; lab2 nb cell 22 samples it.

_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}
_TIFF_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d"}


def _read_ifd_entries(buf: bytes, bo: str):
    """Parse the first IFD into {tag: list-of-values} (ASCII as bytes)."""
    import struct

    (ifd_off,) = struct.unpack(bo + "I", buf[4:8])
    (n_entries,) = struct.unpack(bo + "H", buf[ifd_off : ifd_off + 2])
    tags: dict[int, list] = {}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(bo + "HHI", buf[off : off + 8])
        size = _TIFF_TYPE_SIZE.get(typ, 1) * cnt
        if size <= 4:
            raw = buf[off + 8 : off + 8 + size]
        else:
            (voff,) = struct.unpack(bo + "I", buf[off + 8 : off + 12])
            raw = buf[voff : voff + size]
        if typ == 2:  # ASCII
            tags[tag] = [raw.rstrip(b"\x00")]
        elif typ == 5 or typ == 10:  # RATIONAL
            parts = struct.unpack(bo + ("iI"[typ == 5] * 2 * cnt), raw)
            tags[tag] = [parts[2 * j] / max(parts[2 * j + 1], 1) for j in range(cnt)]
        else:
            fmt = _TIFF_TYPE_FMT.get(typ)
            if fmt is None:
                continue
            tags[tag] = list(struct.unpack(bo + fmt * cnt, raw))
    return tags


def _decompress(chunk: bytes, compression: int) -> bytes:
    if compression == 1:
        return chunk
    if compression in (8, 32946):  # zlib/deflate (Adobe + old code)
        import zlib

        return zlib.decompress(chunk)
    raise NotImplementedError(f"TIFF compression {compression} not supported")


def read_geotiff(path: str) -> tuple[np.ndarray, Affine, float | None]:
    """S10 — decode a single-band GeoTIFF into (array, Affine, nodata)
    without rasterio/GDAL: classic TIFF, strips or tiles, none/deflate
    compression, horizontal predictor, 8-64-bit uint/int/float samples.
    Georeferencing from ModelPixelScale (33550) + ModelTiepoint (33922)
    — the north-up affine the rest of the raster stack consumes — and
    nodata from the GDAL_NODATA ASCII tag (42113)."""
    import struct

    with open(path, "rb") as fh:
        buf = fh.read()
    order = buf[:2]
    if order == b"II":
        bo = "<"
    elif order == b"MM":
        bo = ">"
    else:
        raise ValueError(f"not a TIFF file: {path!r}")
    (magic,) = struct.unpack(bo + "H", buf[2:4])
    if magic == 43:
        raise NotImplementedError("BigTIFF not supported by the minimal reader")
    if magic != 42:
        raise ValueError(f"not a TIFF file: {path!r}")
    tags = _read_ifd_entries(buf, bo)

    w = int(tags[256][0])
    h = int(tags[257][0])
    bits = int(tags.get(258, [8])[0])
    compression = int(tags.get(259, [1])[0])
    spp = int(tags.get(277, [1])[0])
    predictor = int(tags.get(317, [1])[0])
    sample_format = int(tags.get(339, [1])[0])
    if spp != 1:
        raise NotImplementedError("only single-band GeoTIFFs supported")
    kind = {1: "u", 2: "i", 3: "f"}.get(sample_format)
    if kind is None:
        raise NotImplementedError(f"TIFF sample format {sample_format} not supported")
    dtype = np.dtype(f"{bo}{kind}{bits // 8}")

    def decode_chunk(raw: bytes, rows: int, cols: int) -> np.ndarray:
        data = np.frombuffer(_decompress(raw, compression), dtype=dtype)
        a = data[: rows * cols].reshape(rows, cols).copy()
        if predictor == 2:
            if kind == "f":
                raise NotImplementedError("floating-point predictor not supported")
            a = np.cumsum(a, axis=1, dtype=a.dtype)
        elif predictor != 1:
            raise NotImplementedError(f"TIFF predictor {predictor} not supported")
        return a

    if 322 in tags:  # tiled layout
        tw = int(tags[322][0])
        th = int(tags[323][0])
        offsets = tags[324]
        counts = tags[325]
        tiles_across = (w + tw - 1) // tw
        arr = np.zeros((h, w), dtype=dtype)
        for t_i, (off, cnt) in enumerate(zip(offsets, counts)):
            tr, tc = divmod(t_i, tiles_across)
            tile = decode_chunk(buf[int(off) : int(off) + int(cnt)], th, tw)
            r0, c0 = tr * th, tc * tw
            arr[r0 : min(r0 + th, h), c0 : min(c0 + tw, w)] = tile[
                : min(th, h - r0), : min(tw, w - c0)
            ]
    else:  # strip layout
        rows_per_strip = int(tags.get(278, [h])[0])
        offsets = tags[273]
        counts = tags[279]
        parts = []
        for s_i, (off, cnt) in enumerate(zip(offsets, counts)):
            rows = min(rows_per_strip, h - s_i * rows_per_strip)
            parts.append(decode_chunk(buf[int(off) : int(off) + int(cnt)], rows, w))
        arr = np.concatenate(parts, axis=0)

    scale = tags.get(33550)
    tie = tags.get(33922)
    if scale is None or tie is None:
        raise ValueError("GeoTIFF missing ModelPixelScale/ModelTiepoint tags")
    sx, sy = float(scale[0]), float(scale[1])
    i, j, _k, x, y, _z = (float(v) for v in tie[:6])
    transform = Affine(x0=x - i * sx, dx=sx, y0=y + j * sy, dy=sy)

    nodata = None
    if 42113 in tags:
        try:
            nodata = float(tags[42113][0].decode("ascii").strip())
        except (ValueError, UnicodeDecodeError):
            nodata = None
    return arr.astype("float64"), transform, nodata


def clip_raster(
    arr: np.ndarray, t: Affine, lon_min: float, lat_min: float, lon_max: float, lat_max: float
) -> tuple[np.ndarray, "Affine"]:
    """S10 — bbox clip (clicp_image.py window semantics): slice the
    array to the pixel window covering the bbox, return the shifted
    transform. Driver-side numpy — rasters here are broadcast-sized."""
    h, w = arr.shape
    c0 = int(np.clip(np.floor((lon_min - t.x0) / t.dx), 0, w - 1))
    c1 = int(np.clip(np.ceil((lon_max - t.x0) / t.dx), 1, w))
    r0 = int(np.clip(np.floor((t.y0 - lat_max) / t.dy), 0, h - 1))
    r1 = int(np.clip(np.ceil((t.y0 - lat_min) / t.dy), 1, h))
    return arr[r0:r1, c0:c1], Affine(t.x0 + c0 * t.dx, t.dx, t.y0 - r0 * t.dy, t.dy)


# deterministic synthetic raster (tests + SQL oracle share the formula)
RASTER_W, RASTER_H = 120, 100
RASTER_T = Affine(x0=-74.3, dx=0.005, y0=41.0, dy=0.005)
RASTER_NODATA = -1.0


def synthetic_raster() -> np.ndarray:
    """value(row, col) = ((row·37 + col·17) mod 1000) / 10, with nodata
    where (row·31 + col·13) mod 97 == 0 — closed-form, so the DuckDB
    oracle can recompute any pixel without seeing the array."""
    rows = np.arange(RASTER_H)[:, None]
    cols = np.arange(RASTER_W)[None, :]
    vals = ((rows * 37 + cols * 17) % 1000) / 10.0
    nod = (rows * 31 + cols * 13) % 97 == 0
    return np.where(nod, RASTER_NODATA, vals)


def raster_valid_mean(arr: np.ndarray, nodata: float) -> float:
    m = arr[arr != nodata]
    return float(m.mean()) if m.size else float("nan")


def sample_raster(
    df: DataFrame,
    arr: np.ndarray,
    t: Affine,
    nodata: float,
    fill: float | None = None,
) -> DataFrame:
    """S11/J7 — sample the broadcast raster at each (lon, lat) point
    into ``raster_value``.

    Reference behavior (get_population_density): indices clipped into
    bounds (points off the raster take the edge pixel), nodata → the
    valid-cell mean (or ``fill``). Vectorized numpy over Arrow batches.
    """
    fill_v = raster_valid_mean(arr, nodata) if fill is None else fill
    sc = df.sparkSession.sparkContext
    b_arr = sc.broadcast(arr)

    @F.pandas_udf("double")
    def _sample(lon: pd.Series, lat: pd.Series) -> pd.Series:
        a = b_arr.value
        h, w = a.shape
        row, col = t.rowcol(lon.to_numpy(), lat.to_numpy())
        row = np.clip(row, 0, h - 1)
        col = np.clip(col, 0, w - 1)
        v = a[row, col]
        return pd.Series(np.where(v == nodata, fill_v, v))

    return df.withColumn("raster_value", _sample(F.col("lon"), F.col("lat")))


#: Tile shape of the tiled raster layout (pixels per tile row, column),
#: shared by `tiled_raster_df` and `sample_raster_tiled`.
TILE_H, TILE_W = 25, 30


def tiled_raster_df(spark) -> DataFrame:
    """S10 scale path (SURVEY §1.1 "large raster"): the raster as a
    (tile_row, tile_col, vals) DataFrame — one row per tile, pixel
    values flattened row-major. This is the parquet landing format for
    rasters too big to broadcast; here the tiles are generated from the
    synthetic raster's closed form entirely in SQL expressions, so no
    array ever ships from the driver."""
    assert RASTER_H % TILE_H == 0 and RASTER_W % TILE_W == 0
    n_tc = RASTER_W // TILE_W
    n_tiles = (RASTER_H // TILE_H) * n_tc
    r = f"((id div {n_tc}) * {TILE_H} + i div {TILE_W})"
    c = f"((id % {n_tc}) * {TILE_W} + i % {TILE_W})"
    return spark.range(n_tiles).selectExpr(
        f"id div {n_tc} AS tile_row",
        f"id % {n_tc} AS tile_col",
        f"transform(sequence(0, {TILE_H * TILE_W - 1}), i -> "
        f"CASE WHEN ({r} * 31 + {c} * 13) % 97 = 0 THEN {RASTER_NODATA}D "
        f"ELSE (({r} * 37 + {c} * 17) % 1000) / 10.0 END) AS vals",
    )


def sample_raster_tiled(
    df: DataFrame,
    tiles: DataFrame,
    t: Affine,
    nodata: float,
    fill: float,
    out: str = "raster_value",
) -> DataFrame:
    """S11/J7 over the tiled layout: (lon, lat) points compute their clipped
    (row, col), derive (tile_row, tile_col) + within-tile offset, hash
    equi-join the tile table on the tile key, and `element_at` into the
    tile's value array — all JVM-side, the raster-lookup twin of the
    grid spatial join. Identical clip/nodata/mean-fill semantics to the
    broadcast `sample_raster` path (tests assert bit-parity), into
    ``out``. The tile table is broadcast; at scale points and
    tiles would instead be co-partitioned on the tile key."""
    row = F.least(
        F.greatest(
            F.floor((F.lit(t.y0) - F.col("lat")) / F.lit(t.dy)), F.lit(0)
        ),
        F.lit(RASTER_H - 1),
    ).cast("bigint")
    col = F.least(
        F.greatest(
            F.floor((F.col("lon") - F.lit(t.x0)) / F.lit(t.dx)), F.lit(0)
        ),
        F.lit(RASTER_W - 1),
    ).cast("bigint")
    tagged = (
        df.withColumn("__r", row)
        .withColumn("__c", col)
        .withColumn("tile_row", F.expr(f"__r div {TILE_H}"))
        .withColumn("tile_col", F.expr(f"__c div {TILE_W}"))
        .withColumn("__idx", (F.col("__r") % TILE_H) * TILE_W + F.col("__c") % TILE_W)
    )
    v = F.element_at("vals", (F.col("__idx") + 1).cast("int"))
    return (
        tagged.join(F.broadcast(tiles), ["tile_row", "tile_col"])
        .withColumn(out, F.when(v == nodata, F.lit(fill)).otherwise(v))
        .drop("__r", "__c", "__idx", "tile_row", "tile_col", "vals")
    )


def raster_value_sql(lon_sql: str, lat_sql: str) -> str:
    """The oracle's closed-form equivalent of sample_raster over the
    synthetic raster (identical clip + nodata + mean-fill semantics)."""
    t = RASTER_T
    row = (
        f"least(greatest(floor(({t.y0!r} - ({lat_sql})) / {t.dy!r}), 0), {RASTER_H - 1})::BIGINT"
    )
    col = (
        f"least(greatest(floor((({lon_sql}) - ({t.x0!r})) / {t.dx!r}), 0), {RASTER_W - 1})::BIGINT"
    )
    mean_sql = f"""(
      SELECT avg(((r * 37 + c * 17) % 1000) / 10.0)
      FROM (SELECT unnest(generate_series(0, {RASTER_H - 1})) AS r),
           (SELECT unnest(generate_series(0, {RASTER_W - 1})) AS c)
      WHERE (r * 31 + c * 13) % 97 <> 0
    )"""
    return f"""(
      CASE WHEN (({row}) * 31 + ({col}) * 13) % 97 = 0 THEN {mean_sql}
           ELSE ((({row}) * 37 + ({col}) * 17) % 1000) / 10.0 END
    )"""
