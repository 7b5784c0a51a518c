"""``sources/tables.map_rows``: the package's one per-row Python kernel
boundary. It gives the rows the hand-written ``mapInPandas`` batch loop
gave, keeps the output typed when the input is empty and lets a
kernel's error reach the caller. The registry's codec round-trips and
the multimodal kernels run through it, and their oracles are checked
here."""

from __future__ import annotations

import os
import re
import sys

import pytest
from pyspark.sql.types import DataType

import geo_big_data_analysis_spark
from geo_big_data_analysis_spark.sources.tables import local_frame, map_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DDL = "id bigint, s string, p binary, m struct<k:string,n:int>, v array<double>"
ROWS = [
    (1, "a", b"\x00\x01", ("x", 1), [0.5, -1.0]),
    (2, None, b"", ("y", 2), []),
    (3, "ccc", b"\xff" * 5, ("z", 3), [1e300, 2.0, 3.0]),
]


def _kernel(name):
    # built inside a function so that Spark pickles it by value: the
    # Python workers cannot import this test module
    def identity(*row):
        return row

    def bump(i, s, p, m, v):
        return (
            i * 2,
            None if s is None else s + "!",
            bytes(p)[::-1],
            {"k": m["k"].upper(), "n": m["n"] + 1},
            [x * 2 for x in v],
        )

    def reject(i, *_rest):
        if i == 2:
            raise ValueError(f"kernel rejected row {i}")
        return (i,)

    return {"identity": identity, "bump": bump, "reject": reject}[name]


def _batch_loop(kernel):
    """The per-site form ``map_rows`` replaced."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for i, s, p, m, v in zip(pdf["id"], pdf["s"], pdf["p"], pdf["m"], pdf["v"]):
                out.append(kernel(i, s, p, m, v))
            yield pd.DataFrame(out, columns=["id", "s", "p", "m", "v"])

    return gen


@pytest.mark.parametrize("name", ["identity", "bump"])
def test_matches_batch_loop(spark, name):
    kernel = _kernel(name)
    df = local_frame(spark, ROWS, DDL).repartition(2)
    old = df.mapInPandas(_batch_loop(kernel), DDL)
    new = map_rows(df, kernel, DDL)
    assert new.schema == old.schema == DataType.fromDDL(DDL)
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(new.collect(), key=key) == sorted(old.collect(), key=key)
    assert len(new.collect()) == len(ROWS)


def test_struct_type_schema_keeps_input_schema(spark):
    df = local_frame(spark, ROWS, DDL)
    out = map_rows(df, _kernel("identity"), df.schema)
    assert out.schema == df.schema
    assert sorted(out.collect()) == sorted(df.collect())


def test_empty_input_gives_typed_empty_frame(spark):
    df = local_frame(spark, ROWS, DDL).filter("id < 0")
    out = map_rows(df, _kernel("bump"), DDL)
    assert out.schema == DataType.fromDDL(DDL)
    assert out.collect() == []
    assert out.count() == 0


def test_kernel_error_reaches_caller(spark):
    df = local_frame(spark, ROWS, DDL)
    with pytest.raises(Exception, match=r"ValueError: kernel rejected row 2"):
        map_rows(df, _kernel("reject"), "id bigint").collect()


def test_per_row_sites_use_map_rows():
    """The per-item kernels in the query registry and the multimodal
    module go through ``map_rows``: a ``mapInPandas(`` there brings a
    hand-written batch loop and a second column list back."""
    root = os.path.dirname(geo_big_data_analysis_spark.__file__)
    hits = []
    for rel in (os.path.join("plans", "registry.py"), os.path.join("sources", "multimodal.py")):
        with open(os.path.join(root, rel), encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                if re.search(r"mapInPandas\(", line):
                    hits.append(f"{rel}:{i}")
    assert not hits, hits


#: Every registry query whose per-row kernel runs through ``map_rows``.
MAP_ROWS_QUERIES = (
    "flac_roundtrip_stats",
    "gif_roundtrip_stats",
    "h264_ipcm_roundtrip_stats",
    "image_phash_near_dup",
    "jpeg_roundtrip_stats",
    "mjpeg_mp4_frame_stats",
    "mp3_frame_census",
    "mp4_sample_manifest",
    "multimodal_features",
    "png_roundtrip_stats",
    "wav_roundtrip_stats",
    "webp_roundtrip_stats",
)


def test_map_rows_queries_match_oracle(spark, sf_dir):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck

    assert set(MAP_ROWS_QUERIES) <= set(selfcheck.REGISTRY)
    assert selfcheck.run(sf_dir, only=list(MAP_ROWS_QUERIES)) == 0
