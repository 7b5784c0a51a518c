"""IVF-PQ index-as-artifact contracts (`sources/ann_index.py`).

The production ANN shape is build-once/probe-many: codebooks + coarse
centroids + codes persist next to the data, and the probe never
retrains. These tests pin the storage layer — store/load losslessness,
probe-from-stored ≡ retrain-inline, and fingerprint-keyed staleness.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from geo_big_data_analysis_spark.plans.registry import _t
from geo_big_data_analysis_spark.sources.ann_index import (
    _embeddings_fingerprint,
    build_ivfpq_index,
    ensure_ivfpq_index,
    load_ivfpq_index,
)

PARAMS = dict(dim=64, m=8, k=4, iters=1, scale=1000)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def test_build_load_roundtrip(spark, emb, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivfpq"))
    meta = build_ivfpq_index(spark, emb, d, fingerprint="fp0", **PARAMS)
    codes, centers, cbs, meta2 = load_ivfpq_index(spark, d)
    assert meta2["fingerprint"] == "fp0"
    assert cbs == meta["codebooks"]
    assert [c for c, _ in centers] == sorted(c for c, _ in centers)
    # code table: one row per vector, probe-ready schema
    assert codes.count() == emb.count()
    cols = set(codes.columns)
    assert {"neighbor_id", "cell"} <= cols
    assert {f"code_{b}" for b in range(PARAMS["m"])} <= cols
    # every code id within [0, k)
    mx = codes.agg(
        *[F.max(f"code_{b}").alias(f"m{b}") for b in range(PARAMS["m"])]
    ).collect()[0]
    assert all(0 <= mx[f"m{b}"] < PARAMS["k"] for b in range(PARAMS["m"]))


def test_stored_probe_matches_inline(spark, emb, tmp_path_factory):
    """ivfpq_probe over the persisted artifact returns the exact rows
    of the retrain-inline ivfpq_topk — the hash-match contract."""
    from geo_big_data_analysis_spark.operators.similarity import (
        ivfpq_probe,
        ivfpq_topk,
        label_centroids,
        pq_encode,
        pq_train,
    )

    d = str(tmp_path_factory.mktemp("ivfpq_probe"))
    build_ivfpq_index(spark, emb, d, fingerprint="fp1", **PARAMS)
    codes, centers, cbs, _ = load_ivfpq_index(spark, d)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    stored = ivfpq_probe(
        queries, codes, cbs, centers, k=5, nprobe=3, scale=PARAMS["scale"]
    )

    cbs_i = pq_train(emb, **PARAMS)
    codes_i = pq_encode(emb, cbs_i, scale=PARAMS["scale"])
    centers_i = label_centroids(emb, "embedding", "label")
    inline = ivfpq_topk(
        queries, emb, codes_i, cbs_i, k=5,
        centers=centers_i, nprobe=3, scale=PARAMS["scale"],
    )
    key = ["query_id", "pq_rank"]
    a = {tuple(r) for r in stored.select(*key, "neighbor_id", "adc_dist").collect()}
    b = {tuple(r) for r in inline.select(*key, "neighbor_id", "adc_dist").collect()}
    assert a == b and len(a) > 0


def test_ensure_caches_and_rebuilds_on_fingerprint(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ann_root"))
    codes1, centers1, cbs1, meta1 = ensure_ivfpq_index(
        spark, sf_dir, base_dir=root, **PARAMS
    )
    dirs1 = set(os.listdir(root))
    assert len(dirs1) == 1
    # second ensure: pure load, no new artifact
    _codes2, _c2, cbs2, meta2 = ensure_ivfpq_index(
        spark, sf_dir, base_dir=root, **PARAMS
    )
    assert set(os.listdir(root)) == dirs1
    assert cbs2 == cbs1 and meta2["fingerprint"] == meta1["fingerprint"]
    # changed params → different artifact key → fresh build
    ensure_ivfpq_index(
        spark, sf_dir, base_dir=root,
        dim=64, m=8, k=4, iters=2, scale=1000,
    )
    assert len(os.listdir(root)) == 2


def test_fingerprint_tracks_file_change(tmp_path):
    p = tmp_path / "embeddings.parquet"
    p.write_bytes(b"a" * 10)
    f1 = _embeddings_fingerprint(str(tmp_path))
    p.write_bytes(b"b" * 11)
    f2 = _embeddings_fingerprint(str(tmp_path))
    assert f1 != f2


def test_fingerprint_tracks_content_at_same_size_and_mtime(tmp_path):
    """Regenerating a fixture within the same second at identical byte
    size must still change the fingerprint — the parquet-footer digest
    carries column stats, which differ when values differ (ADVICE r5)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path / "embeddings.parquet"

    def write(vals):
        pq.write_table(pa.table(pd.DataFrame({"v": vals})), p)
        os.utime(p, (1_700_000_000, 1_700_000_000))  # pin mtime

    write([1, 2, 3])
    f1 = _embeddings_fingerprint(str(tmp_path))
    size1 = os.stat(p).st_size
    write([1, 2, 4])  # same shape/types → same byte size, new stats
    f2 = _embeddings_fingerprint(str(tmp_path))
    assert os.stat(p).st_size == size1  # the trap the digest closes
    assert f1 != f2


# ---------------------------------------------------------------------
# MinHash-LSH dedup index (the build-once/probe-many dedup twin)

MH = dict(num_hashes=16, bands=8)


def test_minhash_build_load_roundtrip(spark, sf_dir, tmp_path_factory):
    from geo_big_data_analysis_spark.sources.ann_index import (
        build_minhash_index,
        load_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    ).select("doc_id", "text")
    d = str(tmp_path_factory.mktemp("mh"))
    meta = build_minhash_index(spark, docs, d, fingerprint="fp0", **MH)
    bands, sets, meta2 = load_minhash_index(spark, d)
    assert meta2 == meta and meta2["rows_per_band"] == 2
    n_docs = docs.withColumn(
        "_t", F.expr("filter(split(text, ' '), x -> x <> '')")
    ).filter(F.size("_t") >= 2).count()
    # exactly bands rows per sketchable doc
    assert bands.count() == n_docs * MH["bands"]
    assert bands.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0] == MH["bands"]
    # one set row per sketchable doc: sorted, duplicate-free, in [0, P)
    P = 2_147_483_647
    rows = sets.collect()
    assert len(rows) == len({r["doc_id"] for r in rows}) == n_docs
    for r in rows:
        hs = r["hs"]
        assert hs and hs == sorted(set(hs)) and 0 <= hs[0] and hs[-1] < P


def test_minhash_num_hashes_band_contract(spark, sf_dir, tmp_path_factory):
    from geo_big_data_analysis_spark.sources.ann_index import build_minhash_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").limit(5)
    with pytest.raises(ValueError):
        build_minhash_index(
            spark, docs, str(tmp_path_factory.mktemp("mhbad")),
            num_hashes=16, bands=4,
        )


def test_minhash_ensure_caches(spark, sf_dir, tmp_path_factory):
    from geo_big_data_analysis_spark.sources.ann_index import ensure_minhash_index

    root = str(tmp_path_factory.mktemp("mh_root"))
    b1, s1, m1 = ensure_minhash_index(
        spark, sf_dir, split_mod=10, base_dir=root, **MH
    )
    dirs1 = set(os.listdir(root))
    assert len(dirs1) == 1
    _b2, _s2, m2 = ensure_minhash_index(
        spark, sf_dir, split_mod=10, base_dir=root, **MH
    )
    assert set(os.listdir(root)) == dirs1 and m2 == m1
    # a different split keys a different artifact
    ensure_minhash_index(spark, sf_dir, split_mod=7, base_dir=root, **MH)
    assert len(os.listdir(root)) == 2


def test_minhash_old_layout_dir_never_loaded(spark, sf_dir, tmp_path_factory):
    """An index dir in the old layout (meta.json + ``shingles/`` rows,
    no ``sets/``) under the same root and with the same params and
    fingerprint is not loaded: the layout is part of the artifact key."""
    from geo_big_data_analysis_spark.sources.ann_index import (
        _table_fingerprint,
        ensure_minhash_index,
    )

    root = str(tmp_path_factory.mktemp("mh_old"))
    fp = _table_fingerprint(sf_dir, "documents")
    old = os.path.join(root, f"minhash_h16_b8_mod10_{fp}")
    spark.range(3).selectExpr("id AS doc_id", "id * 7 AS h").write.parquet(
        os.path.join(old, "shingles")
    )
    with open(os.path.join(old, "meta.json"), "w") as f:
        f.write('{"kind": "minhash_lsh", "num_hashes": 16, "bands": 8}')
    _bands, sets, meta = ensure_minhash_index(
        spark, sf_dir, split_mod=10, base_dir=root, **MH
    )
    assert sets.columns == ["doc_id", "hs"] and meta.get("fingerprint") == fp
    (new,) = set(os.listdir(root)) - {os.path.basename(old)}
    assert os.path.isdir(os.path.join(root, new, "sets"))
    assert sorted(os.listdir(old)) == ["meta.json", "shingles"]


def test_minhash_probe_pairs_match_oracle_verified(spark, sf_dir):
    """Pair level: the stored-index probe's rows equal the DuckDB
    oracle's ``verified`` pairs at jr ≥ τ — the oracle recomputes both
    splits from the documents table, so this pins candidates, sets and
    the Jaccard arithmetic row by row, not only their per-source
    aggregate."""
    from collections import Counter

    import duckdb

    from geo_big_data_analysis_spark.plans.registry import _SQL_NEAR_DUP_PROBE
    from geo_big_data_analysis_spark.sources.ann_index import (
        _MH_IDX_BANDS,
        _MH_IDX_HASHES,
        _MH_IDX_MOD,
        _MH_IDX_TAU,
        _mh_probe_pairs,
        ensure_minhash_index,
    )

    bands, base_sets, _ = ensure_minhash_index(
        spark, sf_dir, num_hashes=_MH_IDX_HASHES, bands=_MH_IDX_BANDS,
        split_mod=_MH_IDX_MOD,
    )
    delta = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _MH_IDX_MOD == 0
    ).select("doc_id", "source", "text")
    got = Counter(
        tuple(r)
        for r in _mh_probe_pairs(delta, bands, base_sets)
        .select("source", "probe_id", "jr")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    head = _SQL_NEAR_DUP_PROBE[: _SQL_NEAR_DUP_PROBE.rindex("\nSELECT ")]
    want = Counter(
        con.execute(
            f"{head}\nSELECT source, probe_id, jr FROM verified WHERE jr >= {_MH_IDX_TAU}"
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_minhash_signature_cross_engine(spark):
    """The Spark signature arithmetic equals a direct integer replay
    (the DuckDB oracle's formula) on a hand-built shingle-hash set."""
    from geo_big_data_analysis_spark.operators.dedup import (
        MINHASH_P,
        minhash_signature,
    )

    hs = [17, 9_999_991, 2_000_000_000, 12345]
    df = spark.createDataFrame([(1, h) for h in hs], "doc_id int, h long")
    got = df.groupBy("doc_id").agg(minhash_signature("h", 4).alias("sig")).collect()[0]["sig"]
    for j in range(4):
        a = (2654435761 * (j + 1)) % MINHASH_P
        b = (40503 * (j + 1)) % MINHASH_P
        assert got[j] == min((a * h + b) % MINHASH_P for h in hs)


def test_streaming_probe_pairs_equal_batch(spark, sf_dir, tmp_path_factory):
    """The foreachBatch streaming screen's pair-level sink equals the
    batch probe's pair set exactly (availableNow drain over one fixture
    file — the batch-twin contract at row granularity, stronger than
    the aggregated registry comparison)."""
    from geo_big_data_analysis_spark.sources.ann_index import (
        _MH_IDX_BANDS,
        _MH_IDX_HASHES,
        _MH_IDX_MOD,
        _mh_probe_pairs,
        ensure_minhash_index,
    )
    from geo_big_data_analysis_spark.streaming.ingest import near_dup_probe_stream

    bands, base_sets, _ = ensure_minhash_index(
        spark, sf_dir, num_hashes=_MH_IDX_HASHES, bands=_MH_IDX_BANDS,
        split_mod=_MH_IDX_MOD,
    )
    delta = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _MH_IDX_MOD == 0
    ).select("doc_id", "source", "text")
    batch = {
        tuple(r)
        for r in _mh_probe_pairs(delta, bands, base_sets).collect()
    }
    sink_df = near_dup_probe_stream(spark, sf_dir, split_mod=_MH_IDX_MOD)
    streamed = {
        tuple(r)
        for r in sink_df.select("probe_id", "source", "base_id", "jr").collect()
    }
    assert streamed == batch and len(batch) > 0
    # the sink lives in the application's temp root, which the driver
    # deletes when the context stops, and the spent checkpoint is gone
    from urllib.parse import urlparse

    from pyspark import SparkFiles

    sinks = {os.path.dirname(urlparse(f).path) for f in sink_df.inputFiles()}
    assert len(sinks) == 1
    (sink,) = sinks
    assert sink.startswith(SparkFiles.getRootDirectory())
    assert "spark-warehouse" not in sink
    assert not os.path.exists(sink + "_ckpt")


# ---------------------------------------------------------------------
# Incremental admission (upsert) — VERDICT r5 "Next" #4


def test_minhash_upsert_rejects_dups_admits_novel(spark, tmp_path_factory):
    """An exact duplicate of a base doc is screened out; a novel doc is
    sketched with the stored permutation family and appended — the
    post-upsert index equals a from-scratch build over base ∪ novel."""
    from geo_big_data_analysis_spark.sources.ann_index import (
        build_minhash_index,
        load_minhash_index,
        upsert_minhash_index,
    )

    base_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
        ],
        "doc_id bigint, text string",
    )
    base_dir = str(tmp_path_factory.mktemp("mh_up")) + "/base"
    build_minhash_index(spark, base_docs, base_dir, fingerprint="fp", **MH)
    delta = spark.createDataFrame(
        [
            (10, "w", "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (20, "w", "completely different sentence about spark plans here"),
        ],
        "doc_id bigint, source string, text string",
    )
    out_dir = base_dir + "_up"
    meta = upsert_minhash_index(spark, base_dir, delta, out_dir)
    assert meta["upsert"] == {
        "n_delta": 2, "n_admitted": 1, "n_rejected": 1, "tau": 0.3,
    }
    bands, sets, _ = load_minhash_index(spark, out_dir)
    ids = {r["doc_id"] for r in bands.select("doc_id").distinct().collect()}
    assert ids == {1, 2, 20}
    # append ≡ rebuild: compare against a from-scratch build over 1,2,20
    rebuilt_dir = base_dir + "_rebuilt"
    union_docs = base_docs.unionByName(
        delta.filter("doc_id = 20").select("doc_id", "text")
    )
    build_minhash_index(spark, union_docs, rebuilt_dir, fingerprint="fp", **MH)
    rb_bands, rb_sets, _ = load_minhash_index(spark, rebuilt_dir)
    assert sorted(map(tuple, bands.collect())) == sorted(map(tuple, rb_bands.collect()))
    assert sorted(
        (r["doc_id"], tuple(r["hs"])) for r in sets.collect()
    ) == sorted((r["doc_id"], tuple(r["hs"])) for r in rb_sets.collect())


def test_ivfpq_upsert_drift_counter(spark, sf_dir, tmp_path_factory):
    """Appended vectors are encoded with the STORED codebooks; the
    drift counter flips retrain_due past the ratio."""
    from geo_big_data_analysis_spark.sources.ann_index import (
        build_ivfpq_index,
        load_ivfpq_index,
        upsert_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    base = emb.filter("vec_id % 4 != 0")
    delta = emb.filter("vec_id % 4 = 0")  # ~1/3 of base → > 0.25 ratio
    d = str(tmp_path_factory.mktemp("pq_up")) + "/base"
    build_ivfpq_index(
        spark, base, d, dim=64, m=8, k=4, iters=2, scale=1000, fingerprint="f",
    )
    out = d + "_up"
    meta = upsert_ivfpq_index(spark, d, delta, out, retrain_ratio=0.25)
    up = meta["upsert"]
    assert up["n_base"] + up["n_appended"] == emb.count()
    assert up["retrain_due"] is True and up["drift"] > 0.25
    codes, centers, cbs, meta2 = load_ivfpq_index(spark, out)
    assert codes.count() == emb.count()
    assert meta2["n_vectors"] == emb.count()
    # appended codes must equal a direct encode with the base codebooks
    meta_no = upsert_ivfpq_index(spark, d, delta, d + "_up2", retrain_ratio=10.0)
    assert meta_no["upsert"]["retrain_due"] is False
