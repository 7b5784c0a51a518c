"""``sources/tables.local_frame``: driver-built rows enter Spark as Arrow
batches with the same rows and schema as ``createDataFrame(list, ddl)``,
and scanning the frame runs no Python worker (no ``PythonRDD`` in its
RDD lineage)."""

from __future__ import annotations

import os
import re

import pytest

import geo_big_data_analysis_spark
from geo_big_data_analysis_spark.graph.algorithms import _pagerank_driver
from geo_big_data_analysis_spark.sources.tables import local_frame

SHAPES = {
    "nullable_numbers": (
        [(1, 1.5), (None, None), (3, -2.0)],
        "id bigint, x double",
    ),
    "empty": ([], "id bigint, x double"),
    "boolean": (
        [("a", True), ("b", False), ("c", None)],
        "band string, ok boolean",
    ),
    "map": (
        [(1, 40.7, -74.0, {"highway": "primary", "name": "A"}), (2, 0.0, 0.0, {})],
        "node_id bigint, lat double, lon double, tags map<string,string>",
    ),
    "nested": (
        [([[("good", 0.7, 0.6, 1.0), ("bad", -0.7, 0.67, 1.0)], []], ["no", "not"])],
        "lex_buckets array<array<struct<w:string,p:double,s:double,i:double>>>, "
        "lex_negs array<string>",
    ),
}


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_parity_with_create_dataframe(spark, shape):
    rows, ddl = SHAPES[shape]
    old = spark.createDataFrame(rows, ddl)
    new = local_frame(spark, rows, ddl)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


@pytest.mark.parametrize("rows", [[(1, 1.0), (2, 2.0, 3)], [(1, 1.0, 3)]])
def test_wrong_row_width_raises(spark, rows):
    with pytest.raises(ValueError):
        local_frame(spark, rows, "id bigint, x double")


def test_no_python_rdd(spark):
    rows, ddl = SHAPES["nullable_numbers"]
    # the probe tells the two paths apart: the list path replays pickled
    # rows through a PythonRDD on every scan
    assert "PythonRDD" in _lineage(spark.createDataFrame(rows, ddl))
    assert "PythonRDD" not in _lineage(local_frame(spark, rows, ddl))
    pr = _pagerank_driver(spark, [(1, 2), (2, 3), (3, 1), (3, 2)], 10, 0.85)
    assert "PythonRDD" not in _lineage(pr)
    assert pr.count() == 3


def test_create_dataframe_only_in_tables():
    """Driver rows reach Spark through ``local_frame`` everywhere: a
    ``createDataFrame(`` call outside ``sources/tables.py`` brings the
    Python-worker scan back."""
    root = os.path.dirname(geo_big_data_analysis_spark.__file__)
    hits = []
    for base, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(base, name)
            if not name.endswith(".py") or path.endswith(os.path.join("sources", "tables.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if re.search(r"createDataFrame\(", line):
                        hits.append(f"{os.path.relpath(path, root)}:{i}")
    assert not hits, hits
