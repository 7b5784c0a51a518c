"""GeoJSON source/sink + CSV→point-table promotion (S6/S7/S8).

Reference semantics:
- S6 GeoJSON read (CRS default EPSG:4326):
  实习一/实习一代码/visualize_noise.py:29-32.
- S7 CSV→point promotion — detect lat/lon column aliases, coerce
  numeric, drop unparseable: visualize_noise.py:33-52.
- S8 GeoJSON sink: lab3a nb (cell 20, json 1314) ``to_file(driver=
  'GeoJSON')``.

Spark-first: a GeoJSON FeatureCollection is a single JSON document —
``spark.read.json`` with multiLine handles the envelope; features
explode into rows, properties into columns, Point coordinates into
lon/lat doubles (non-point geometries keep their coordinates as a JSON
string — the WKB/geometry layer consumes them). The sink writes
Feature structs via to_json, collected into a FeatureCollection only
at the driver for small result exports (engine-native interchange
stays Parquet, SURVEY §2.1 S9/S15).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAT_ALIASES = ["latitude", "lat", "y"]
LON_ALIASES = ["longitude", "lon", "lng", "long", "x"]


def read_geojson_points(spark: SparkSession, path: str) -> DataFrame:
    """S6 — FeatureCollection of Points → DataFrame(lon, lat, + one
    column per property). CRS is taken as EPSG:4326 (the GeoJSON
    default, matching geopandas' read)."""
    doc = spark.read.option("multiLine", "true").json(path)
    feats = doc.select(F.explode("features").alias("f"))
    base = feats.select(
        F.col("f.geometry.type").alias("_geom_type"),
        F.col("f.geometry.coordinates").getItem(0).cast("double").alias("lon"),
        F.col("f.geometry.coordinates").getItem(1).cast("double").alias("lat"),
        F.col("f.properties.*"),
    )
    return base.filter(F.col("_geom_type") == "Point").drop("_geom_type")


def read_geojson_features(spark: SparkSession, path: str) -> DataFrame:
    """S6/F19 — FeatureCollection of MIXED geometries → DataFrame
    (geom_type, coordinates_json, + properties). Point coordinates are
    additionally promoted to lon/lat doubles (null for other types);
    use :func:`filter_geometry_type` for the reference's
    geometry-validity/type filters (geopandas `geom_type` masks)."""
    doc = spark.read.option("multiLine", "true").json(path)
    feats = doc.select(F.explode("features").alias("f"))
    return feats.select(
        F.col("f.geometry.type").alias("geom_type"),
        F.to_json(F.col("f.geometry.coordinates")).alias("coordinates_json"),
        F.when(
            F.col("f.geometry.type") == "Point",
            F.col("f.geometry.coordinates").getItem(0).cast("double"),
        ).alias("lon"),
        F.when(
            F.col("f.geometry.type") == "Point",
            F.col("f.geometry.coordinates").getItem(1).cast("double"),
        ).alias("lat"),
        F.col("f.properties.*"),
    )


def filter_geometry_type(df: DataFrame, keep: list[str]) -> DataFrame:
    """F19 — geometry-type filter (`gdf[gdf.geom_type.isin([...])]`):
    a plain isin predicate on the typed geom_type column, so Catalyst
    pushes it to the scan."""
    return df.filter(F.col("geom_type").isin(keep))


def promote_csv_points(df: DataFrame) -> DataFrame:
    """S7 — promote a raw (string-typed) table to a point table:
    resolve lat/lon column aliases case-insensitively, coerce to
    double, drop rows that fail to parse or fall outside valid
    lat/lon ranges (visualize_noise.py:33-52 semantics)."""
    cols = {c.lower(): c for c in df.columns}

    def resolve(aliases: list[str]) -> str:
        for a in aliases:
            if a in cols:
                return cols[a]
        raise ValueError(f"no coordinate column among {aliases} in {df.columns}")

    lat_c = resolve(LAT_ALIASES)
    lon_c = resolve(LON_ALIASES)
    out = df.withColumn("lat", F.col(lat_c).cast("double")).withColumn(
        "lon", F.col(lon_c).cast("double")
    )
    return out.filter(
        F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
        & F.col("lat").between(-90.0, 90.0)
        & F.col("lon").between(-180.0, 180.0)
    )


def to_feature_structs(df: DataFrame) -> DataFrame:
    """S8 — (lon, lat) rows → GeoJSON Feature JSON strings
    (distributed; one feature per row, remaining columns as
    properties)."""
    props = [c for c in df.columns if c not in ("lon", "lat")]
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(F.col("lon"), F.col("lat")).alias("coordinates"),
            ).alias("geometry"),
            F.struct(*[F.col(c).alias(c) for c in props]).alias("properties"),
        )
    )
    return df.select(feature.alias("feature_json"))


def write_geojson(df: DataFrame, path: str) -> None:
    """S8 — driver-side FeatureCollection export of (lon, lat) points
    for small results (mirrors the reference's to_file on aggregate
    outputs; big tables
    belong in Parquet)."""
    feats = [json.loads(r["feature_json"]) for r in to_feature_structs(df).collect()]
    with open(path, "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)
