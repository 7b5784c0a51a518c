"""Temporal sessionization + high-density period detection.

Re-expresses the reference's lab-1 temporal analytics
(test.py:636-683 ``find_high_density_periods``): hourly tumbling counts
→ μ+2σ anomaly threshold → gap-based sessionization → per-session
min/max/agg → drill-down range join.

Scale notes: sessionization partitions by a key (user/borough/…) so the
window sort is per-key, not global. The reference's version is a global
cumsum over at-most-8760 hourly rows — tiny — but the per-key form is
what survives 100 TB. A Structured Streaming twin lives in
`streaming.sessions` (session_window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hourly_counts(df: DataFrame, ts_col: str) -> DataFrame:
    """A14 — tumbling 1-hour counts (test.py:636-639)."""
    return df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n")
    )


def anomaly_threshold_filter(counts: DataFrame, sigmas: float = 2.0) -> DataFrame:
    """Keep buckets with n > μ + sigmas·σ (population σ, matching numpy).

    Implemented as a broadcast cross-join of the 1-row global stats —
    stays a single lazy plan (no driver collect), and the stats job is a
    partial-aggregated scan at any scale.
    """
    stats = counts.agg(
        F.avg("n").alias("_mu"), F.coalesce(F.stddev_pop("n"), F.lit(0.0)).alias("_sigma")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .filter(F.col("n") > F.col("_mu") + sigmas * F.col("_sigma"))
        .drop("_mu", "_sigma")
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap_minutes: float,
    keys: list[str] | None = None,
) -> DataFrame:
    """W2 — gap>threshold starts a new session ((diff>gap).cumsum(),
    test.py:668-669). Adds an integer ``session_id`` per key."""
    keys = keys or []
    w = Window.partitionBy(*keys).orderBy(ts_col) if keys else Window.orderBy(ts_col)
    # full-precision epoch seconds: unix_timestamp() TRUNCATES to whole
    # seconds, which misclassifies gaps inside (gap, gap+1s) against a
    # microsecond-precise comparison — found by the sf1 scale sweep,
    # where ~17/954k sessions flipped vs the oracle. double keeps µs
    # (2^-52 · ~1.7e9 s ≈ 0.4 µs resolution).
    # (ntz→ltz cast first: TIMESTAMP_NTZ has no direct double cast;
    # exact here because session TZ is pinned UTC)
    ep = F.col(ts_col).cast("timestamp").cast("double")
    gap_s = ep - F.lag(ep).over(w)
    new_session = (
        F.when(gap_s.isNull() | (gap_s > gap_minutes * 60), 1).otherwise(0)
    )
    running = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    ) if keys else Window.orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_id", F.sum(new_session).over(running))


def session_stats(
    sessions: DataFrame,
    ts_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """A4 — per-``session_id`` start/end/count (test.py:672-677)."""
    keys = keys or []
    return sessions.groupBy(*(keys + ["session_id"])).agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def range_join_periods(df: DataFrame, periods: DataFrame, ts_col: str) -> DataFrame:
    """J8 — events within [session_start, session_end] of each period
    (test.py:703-704).

    Periods are few (anomaly output) → broadcast, making the range join a
    broadcast-nested-loop with a cheap predicate instead of a shuffle.
    """
    return df.join(
        F.broadcast(periods),
        (F.col(ts_col) >= F.col("session_start")) & (F.col(ts_col) <= F.col("session_end")),
        "inner",
    )


def bucketed_range_join(
    df: DataFrame,
    periods: DataFrame,
    ts_col: str,
    end_exclusive: bool = True,
) -> DataFrame:
    """J8 at scale — same semantics as :func:`range_join_periods`
    ([session_start, session_end], or an end-exclusive period), but
    as a *hash* join: each period explodes to its covering hour buckets,
    both sides equi-join on the bucket, and the exact range predicate
    refines the matches (the temporal twin of the spatial grid-join,
    SURVEY §4). A nested-loop range join evaluates every (event, period)
    pair — O(|df|·|periods|); this evaluates each event against only
    periods covering its hour, and the join itself is hashed, so it
    survives period lists too large to predicate-scan per row."""
    end_bound = (
        F.col("session_end") - F.expr("INTERVAL 1 MICROSECOND")
        if end_exclusive
        else F.col("session_end")
    )
    pk = periods.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("session_start")),
                F.date_trunc("hour", end_bound),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    upper = (
        (F.col(ts_col) < F.col("session_end"))
        if end_exclusive
        else (F.col(ts_col) <= F.col("session_end"))
    )
    return (
        df.withColumn("__bucket", F.date_trunc("hour", F.col(ts_col)))
        .join(F.broadcast(pk), "__bucket", "inner")
        .filter((F.col(ts_col) >= F.col("session_start")) & upper)
        .drop("__bucket")
    )
