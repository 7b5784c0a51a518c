"""OSM XML network source (S12) — nodes/edges DataFrames from .osm files.

Reference semantics: lab3a nb (cell 8, json 302) fetches the street
network with ``osmnx.graph_from_place`` — the engine-side equivalent is
parsing an OpenStreetMap XML extract into the (nodes, edges) DataFrame
pair the graph subsystem (`graph/algorithms`) consumes. Geocoding
(S13/S14) remains an external service by SURVEY's design; this module
removes the "network ingestion happens outside the engine" caveat for
users holding a .osm extract.

Scale note: city extracts (the reference's scope) are tens of MB — a
driver-side ``iterparse`` stream (constant memory, elements cleared as
consumed) feeding ``spark.createDataFrame`` in chunks is the right cost
model. Planet-scale .pbf ingestion would shard the file by block and
parse inside ``mapInPandas``; the output contract (below) is identical.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import local_frame

NODE_SCHEMA = "node_id bigint, lat double, lon double, tags map<string,string>"
WAY_SCHEMA = (
    "way_id bigint, seq int, src bigint, dst bigint, highway string, oneway boolean"
)


def _iter_elems(path: str) -> Iterator[ET.Element]:
    for _event, elem in ET.iterparse(path, events=("end",)):
        yield elem


def read_osm_xml(
    spark: SparkSession, path: str, highway_only: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Parse an OSM XML extract into (nodes, edges).

    nodes: (node_id, lat, lon, tags) — every <node>.
    edges: (way_id, seq, src, dst, highway, oneway) — one row per
    consecutive <nd> pair of each <way>; ``highway_only`` keeps ways
    carrying a highway tag (the street network, osmnx's default graph).
    Reverse edges for two-way streets are the graph layer's concern
    (`graph.algorithms` treats ``directed=False`` natively).
    """
    nodes: list[tuple] = []
    edges: list[tuple] = []
    for elem in _iter_elems(path):
        if elem.tag == "node":
            tags = {t.get("k"): t.get("v") for t in elem.findall("tag")}
            nodes.append(
                (int(elem.get("id")), float(elem.get("lat")), float(elem.get("lon")), tags)
            )
            elem.clear()
        elif elem.tag == "way":
            tags = {t.get("k"): t.get("v") for t in elem.findall("tag")}
            hw = tags.get("highway")
            if highway_only and hw is None:
                elem.clear()
                continue
            refs = [int(nd.get("ref")) for nd in elem.findall("nd")]
            oneway = tags.get("oneway", "no") in ("yes", "true", "1")
            wid = int(elem.get("id"))
            for i in range(len(refs) - 1):
                edges.append((wid, i, refs[i], refs[i + 1], hw, oneway))
            elem.clear()
    nodes_df = local_frame(spark, nodes, NODE_SCHEMA)
    edges_df = local_frame(spark, edges, WAY_SCHEMA)
    return nodes_df, edges_df


def osm_edge_lengths(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G5 applied to OSM input: haversine edge lengths (km) by joining
    both endpoints' coordinates — the weight column `graph.sssp`
    consumes (osmnx's ``length`` attribute, here in km)."""
    from ..functions.geo import haversine_km

    a = nodes.select(F.col("node_id").alias("src"), F.col("lat").alias("_la1"), F.col("lon").alias("_lo1"))
    b = nodes.select(F.col("node_id").alias("dst"), F.col("lat").alias("_la2"), F.col("lon").alias("_lo2"))
    return (
        edges.join(a, "src")
        .join(b, "dst")
        .withColumn("length_km", haversine_km("_la1", "_lo1", "_la2", "_lo2"))
        .drop("_la1", "_lo1", "_la2", "_lo2")
    )
