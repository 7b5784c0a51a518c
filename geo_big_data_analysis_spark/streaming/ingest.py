"""Streaming ingest screening against stored artifacts.

The production shape of corpus curation is a continuous ingest: new
document batches arrive, and each micro-batch is screened for near
duplicates against the PERSISTED dedup index (`sources/ann_index` —
band-bucket table + per-doc shingle-hash sets) before admission. The base
corpus is never re-sketched.

The probe pipeline needs two keyed aggregations (per-doc signature,
then candidate dedup/verify), which Structured Streaming cannot chain
declaratively in one query — so this uses ``foreachBatch``, the
Spark-blessed pattern for exactly this case: each micro-batch runs the
SAME batch probe (`sources/ann_index._mh_probe_pairs`) as a bounded batch
job and APPENDS the verified pair rows to a parquet sink. Every step
stays distributed — the driver never touches pair rows; the sink is
the parquet append an ingest pipeline would write anyway.

With an availableNow drain over the fixture files the union of
micro-batch outputs must equal the batch query's pair set, so the
batch DuckDB oracle applies verbatim to the re-aggregated sink — the
same batch-twin convention as `streaming/windows.py`.
"""

from __future__ import annotations

import os
import shutil

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.ann_index import (
    _MH_IDX_BANDS,
    _MH_IDX_HASHES,
    _mh_probe_pairs,
    ensure_minhash_index,
)
from ..sources.tables import local_frame, parquet_schema


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema pinned
    from the batch inference — the `stream_events` idiom)."""
    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def near_dup_probe_stream(
    spark: SparkSession, sf_dir: str, split_mod: int
) -> DataFrame:
    """Drain the delta split of the document stream through the
    stored-index probe; returns the pair-level sink as a batch
    DataFrame (probe_id, source, base_id, jr)."""
    bands, base_sets, _meta = ensure_minhash_index(
        spark, sf_dir, num_hashes=_MH_IDX_HASHES, bands=_MH_IDX_BANDS,
        split_mod=split_mod,
    )
    # Per-config sink under the application's own temp root, which the
    # driver deletes when the context stops: two engine instances never
    # share it, and nothing outlives the application. Cleared up front
    # so repeated drains in one application don't accumulate stale
    # pairs or checkpoints.
    sink = os.path.join(
        SparkFiles.getRootDirectory(),
        f"near_dup_stream_mod{split_mod}_{_meta['fingerprint']}",
    )
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(sink + "_ckpt", ignore_errors=True)
    stream = (
        stream_documents(spark, sf_dir)
        .filter(F.col("doc_id") % split_mod == 0)
        .select("doc_id", "source", "text")
    )
    # Seed the sink with an empty pair-schema write so a drain that
    # yields zero micro-batches (no matching files) still leaves a
    # readable parquet directory instead of an AnalysisException
    # (ADVICE r5).
    empty = local_frame(
        spark, [], "probe_id bigint, source string, base_id bigint, jr double"
    )
    empty.write.mode("append").parquet(sink)

    def screen(batch_df: DataFrame, _batch_id: int) -> None:
        pairs = _mh_probe_pairs(batch_df, bands, base_sets)
        pairs.write.mode("append").parquet(sink)

    q = (
        stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", sink + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # an availableNow drain never resumes, so its checkpoint is spent
    shutil.rmtree(sink + "_ckpt", ignore_errors=True)
    return spark.read.parquet(sink)
