"""``sources/tables.read_parquet``: an input's schema is inferred by a
Spark job once, later reads of the unchanged input fire no job, a
rewritten input is inferred again, and every read is a fresh relation."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampNTZType, TimestampType

from geo_big_data_analysis_spark.plans.registry import _t
from geo_big_data_analysis_spark.sources.tables import read_parquet


def _jobs(spark, group: str, fn):
    """(fn's result, number of Spark jobs fired while it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_fires_no_job(spark, sf_dir, tmp_path):
    # a path this process has not read, so the first read must infer
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), tmp_path / "lineitem.parquet")
    first, n_first = _jobs(spark, "tables_first", lambda: _t(spark, str(tmp_path), "lineitem"))
    second, n_second = _jobs(spark, "tables_second", lambda: _t(spark, str(tmp_path), "lineitem"))
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema


def _write(path, table: dict) -> None:
    pq.write_table(pa.table(table), str(path))


def test_rewritten_input_is_inferred_again(spark, tmp_path):
    f = tmp_path / "t.parquet"
    _write(f, {"a": [1, 2]})
    assert read_parquet(spark, str(f)).schema.fieldNames() == ["a"]
    _write(f, {"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df = read_parquet(spark, str(f))
    assert df.schema.fieldNames() == ["a", "b"]
    assert sorted(r.b for r in df.collect()) == ["x", "y", "z"]

    d = tmp_path / "dir"
    d.mkdir()
    _write(d / "part-0.parquet", {"a": [1]})
    (d / "_SUCCESS").write_bytes(b"")
    assert read_parquet(spark, str(d)).schema.fieldNames() == ["a"]
    _write(d / "part-1.parquet", {"a": [2]})
    assert read_parquet(spark, str(d)).count() == 2
    os.remove(d / "part-0.parquet")
    os.remove(d / "part-1.parquet")
    _write(d / "part-2.parquet", {"a": [3], "c": [0.5]})
    df = read_parquet(spark, str(d))
    assert df.schema.fieldNames() == ["a", "c"]
    assert [tuple(r) for r in df.collect()] == [(3, 0.5)]


def test_reads_are_fresh_relations(spark, sf_dir):
    a = _t(spark, sf_dir, "orders")
    b = _t(spark, sf_dir, "orders")
    pairs = a.join(b, a["o_orderkey"] == b["o_orderkey"]).select(
        a["o_orderkey"], b["o_custkey"]
    )
    assert pairs.count() == a.count()

    path = os.path.join(sf_dir, "events.parquet")
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    ts = _t(spark, sf_dir, "events").schema["ts"].dataType
    assert isinstance(ts, (TimestampType, TimestampNTZType))
