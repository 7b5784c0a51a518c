"""Structured Streaming layer (SURVEY §2.11).

The reference is all-batch; its streaming-shaped logic is the Lab-1
temporal pipeline — hourly tumbling counts and 60-min-gap
sessionization over an event-time column (test.py:636-683). This module
re-expresses both on Structured Streaming:

- tumbling event-time windows + watermark for the hourly counts (A14),
- ``session_window`` for gap sessionization (W2) — Spark's native
  session windows close when the next event arrives ≥ gap after the
  last seen event, matching the batch operator's (diff > gap) rule for
  all non-boundary timestamps (an event at exactly last+gap joins the
  batch session but opens a new streaming session; contract documented,
  boundary-free in practice with sub-second event times).

For the driver's batch-shaped correctness gate the streams run with an
``availableNow`` trigger into a memory sink and return the final table:
identical results to the batch plan over the same files, which is
exactly Structured Streaming's incremental-execution promise — and why
the batch SQL oracle is valid for the streaming query.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import parquet_schema


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to 8 for a streaming drain.

    State-store instances = shuffle partitions × stateful operators,
    and their INIT cost dominates wall time at test scale factors
    (~13 s for a 2-sided interval join at 32 partitions; data volume
    barely matters). Every stateful streaming query drains under this
    scope; the conf is captured at query START, so post-drain batch
    aggregation planned outside the scope is unaffected. At production
    volume this knob goes UP with key cardinality instead — the
    setting is per-query state parallelism, not a global.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

_SINK_IDS = itertools.count()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema pinned from
    the batch inference, `sources/tables.parquet_schema`; nanos
    timestamps take the same long→micros conversion as the batch
    loader, `sources/tables._t`)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, path)
    # the file source wants a directory: stream the sf dir, globbed down
    # to the events file
    s = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in schema.fields).get("ts")
    if ts_type == "bigint":
        s = s.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (ltz); with session tz pinned to
        # UTC the cast is a semantic identity over the naive fixtures.
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain an availableNow-triggered stream into a memory sink and
    return the materialized result as a batch DataFrame."""
    name = f"__stream_sink_{next(_SINK_IDS)}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def hourly_event_counts_stream(events: DataFrame) -> DataFrame:
    """A14 streamed — tumbling 1-hour windows over ``ts`` with a 2-hour
    watermark (late rows beyond the watermark drop; with availableNow
    over files nothing is late, so batch parity is exact)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour_start"), "n")
    )


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """A14's sliding-window variant — 2-hour windows over ``ts``
    advancing every hour, so each event lands in exactly two
    overlapping windows (Spark expands the row per covering window
    before the windowed hash agg; state = one row per open (window,
    event_type)). The 4-hour watermark closes a window once event time
    passes window_end + 4 hours. Batch oracle: explode each event to its two covering
    window starts and aggregate — the algebraic identity the sliding
    window implements incrementally."""
    return (
        events.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("val_sum"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "val_sum")
    )


def dedup_stream(events: DataFrame, keys: list[str]) -> DataFrame:
    """F2 streamed — exactly-once-per-key emission with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only
    until the 2-hour watermark on ``ts`` passes it, so state size
    tracks the watermark horizon, not the stream's lifetime (the
    unbounded-state version of streaming dedup is a slow OOM at
    100 TB/day)."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(keys)


def user_running_stats_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the
    engine's pattern for operators Structured Streaming lacks): per-user
    running event count, value sum, and distinct-event_type count kept
    in explicit GroupState across micro-batches.

    Arrow-batched per group; state is a single tuple per user. With an
    availableNow drain the final state equals the batch groupBy — which
    is the correctness contract the registry checks.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("n_types", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("types", StringType()),  # comma-joined sorted set
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s, types = state.get if state.exists else (0, 0.0, "")
        seen = set(types.split(",")) if types else set()
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
            seen.update(pdf["event_type"].dropna().unique().tolist())
        state.update((n, s, ",".join(sorted(seen))))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "n_types": [len(seen)],
            }
        )

    return events.select("user_id", "event_type", "value", "ts").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enriched_counts_stream(
    events: DataFrame,
    dim: DataFrame,
    join_key: str,
) -> DataFrame:
    """Stream–static enrichment join — the standard dimension-join
    pattern: the static side broadcasts into every micro-batch (no
    state, no watermark needed on the dim), then a windowed aggregation
    over the enriched stream, watermarked 2 hours on ``ts``. At scale
    the dim refresh is a re-broadcast per batch, never a stateful
    stream-stream join."""
    return (
        events.withWatermark("ts", "2 hours")
        .join(F.broadcast(dim), join_key, "inner")
        .groupBy(F.window("ts", "1 hour").alias("w"), "category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("wsum"),
        )
        .select(F.col("w.start").alias("hour_start"), "category", "n", "wsum")
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    max_delay_minutes: int = 120,
    how: str = "inner",
) -> DataFrame:
    """Stream–stream join on ``key`` with an event-time interval
    condition on ``ts``: a right row (its ``value`` carried as
    ``r_value``) matches a left row when it lands in
    ``[left_ts, left_ts + max_delay]`` (click→conversion attribution
    shape). ``how='left_outer'`` additionally emits never-matched left
    rows with NULL right columns — but only once the watermark proves
    no match can still arrive (left state older than
    ``l_ts + max_delay`` behind the right watermark), so outer results
    within ``watermark + max_delay`` of the stream head are NOT final
    at drain time; consumers must restrict to the closed region (see
    q_streaming_click_nopurchase).

    The scale story is the state bound: both sides are watermarked
    (4 hours) and
    the join condition carries explicit event-time bounds, so Spark
    derives a state-eviction horizon per side — buffered rows age out
    ``watermark + max_delay`` behind the stream head instead of
    accumulating forever (an unconstrained stream-stream join is
    unbounded state). With an availableNow drain everything lands in one
    micro-batch and the result equals the batch interval join, which is
    what the oracle checks.
    """
    l = left.select(
        F.col(key).alias("l_key"), F.col("ts").alias("l_ts")
    ).withWatermark("l_ts", "4 hours")
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", "4 hours")
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (
            F.col("r_ts")
            <= F.col("l_ts") + F.expr(f"INTERVAL {int(max_delay_minutes)} MINUTE")
        )
    )
    return l.join(r, cond, how).select(
        F.col("l_key").alias(key), "l_ts", "r_ts", "r_value"
    )


def session_window_stream(
    events: DataFrame,
    gap_minutes: float = 30.0,
    keys: list[str] | None = None,
) -> DataFrame:
    """W2 streamed — native session windows over ``ts`` per key (2-hour
    watermark): session count and per-session event counts without the
    batch global-window sort."""
    keys = keys or []
    gap = f"{int(gap_minutes * 60)} seconds"
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(*keys, F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *keys,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
