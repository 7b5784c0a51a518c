"""Two-phase global window primitives (scale path for W3/W4/F15).

A ``Window.orderBy(...)`` with no ``partitionBy`` is the one DataFrame
construct that silently stops scaling: Spark moves EVERY row into a
single partition to evaluate it (the ``WindowExec: No Partition
Defined`` warning). Reference parity needs three such globals —
positional split (F15, 实习二 taxi 70/30 split), global rank (W3),
Pareto cumulative share (A15/W4) — so this module re-expresses them as
the classic two-phase plan:

1. ``repartitionByRange`` on the order keys (distributed range sort —
   partition *p* holds keys strictly before partition *p+1*; ids are
   range-ordered by construction) + ``sortWithinPartitions``.
2. One tiny per-partition aggregate (count / sum) collected to the
   driver — one row per partition — turned into exclusive prefix
   offsets.
3. A partition-local window keyed on ``spark_partition_id()`` plus the
   broadcast offset: global value = local value + prefix[pid].

Every stage is parallel; the only driver traffic is #partitions rows.
Cost vs the naive global window: one extra shuffle (hash on pid) and
one materialization (``localCheckpoint`` — the ranged data is consumed
by both the offsets job and the main job, and separate actions do not
reuse exchange output). At 100 TB that trade is mandatory, not
optional.

Determinism: callers must pass a total order (include a unique
tiebreaker) for ``global_row_number`` / ``global_cumsum`` — tied keys
may straddle a range boundary, and which tied row gets which number
would otherwise depend on the partitioner sample. ``global_rank`` is
deterministic even under ties: the row numbers covering a tie group are
a fixed contiguous block, so ``min`` over the group is fixed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import dispatch

_PID = "__tp_pid"

#: Below this row count the two-phase plan dispatches to a plain
#: single-partition window (r9, the graph/Lloyd bounded-dispatch
#: convention): the two-phase machinery pays a range-partitioner
#: SAMPLING pass over the input, a range exchange, an eager checkpoint
#: job, and a per-partition-sizes collect — four scheduled jobs of pure
#: overhead when the data is one task's worth. A ≤256k-row single-task
#: sort (~tens of MB) is strictly cheaper; past the cap the two-phase
#: plan is mandatory (a global window single-partitions EVERYTHING).
#: Row numbers are identical on both paths for the documented
#: total-order contract. The probe is `operators/dispatch.fits`.
SMALL_SORT_CAP = 262_144


def _ranged(df: DataFrame, order_exprs: list[Column]) -> DataFrame:
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return (
        df.repartitionByRange(p, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint()
    )


def _prefix_expr(per_pid: dict[int, int]) -> Column:
    """pid → exclusive prefix total, as a literal map lookup (a pure
    projection — no join, no broadcast exchange; #partitions entries)."""
    acc, flat = 0, []
    for pid in sorted(per_pid):
        flat += [F.lit(pid), F.lit(acc).cast("bigint")]
        acc += per_pid[pid]
    if not flat:
        return F.lit(0).cast("bigint")
    return F.coalesce(
        F.create_map(*flat)[F.col(_PID)], F.lit(0).cast("bigint")
    )


def global_row_number(
    df: DataFrame, order_exprs: list[Column], out: str = "rn"
) -> DataFrame:
    """Global 1-based row_number in ``order_exprs`` order, bigint (an
    int32 row_number overflows past 2.1 B rows — real at 100 TB)."""
    if dispatch.fits(df, SMALL_SORT_CAP):
        w = Window.orderBy(*order_exprs)
        return df.withColumn(out, F.row_number().over(w).cast("bigint"))
    ranged = _ranged(df, order_exprs)
    sizes = {
        r[_PID]: r["cnt"]
        for r in ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    w = Window.partitionBy(_PID).orderBy(*order_exprs)
    return ranged.withColumn(
        out, F.row_number().over(w).cast("bigint") + _prefix_expr(sizes)
    ).drop(_PID)


def global_cumsum(
    df: DataFrame, order_exprs: list[Column], value_col: str, out: str = "cum"
) -> DataFrame:
    """Global running sum of ``value_col`` in ``order_exprs`` order."""
    if dispatch.fits(df, SMALL_SORT_CAP):
        w = (
            Window.orderBy(*order_exprs)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out, F.sum(value_col).over(w))
    ranged = _ranged(df, order_exprs)
    sums = {
        r[_PID]: r["s"]
        for r in ranged.groupBy(_PID).agg(F.sum(value_col).alias("s")).collect()
        if r["s"] is not None
    }
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranged.withColumn(
        out, F.sum(value_col).over(w) + _prefix_expr(sums)
    ).drop(_PID)


def global_rank(
    df: DataFrame,
    order_exprs: list[Column],
    rank_keys: list[str],
    out: str = "rank",
) -> DataFrame:
    """SQL ``rank()`` over a global ordering: two-phase row_number, then
    ``min(rn)`` within each tie group (one hash-partitioned window on
    the rank keys — distributed, unlike the naive global window)."""
    rn = global_row_number(df, order_exprs, out="__tp_rn")
    w = Window.partitionBy(*rank_keys)
    return rn.withColumn(out, F.min("__tp_rn").over(w)).drop("__tp_rn")


def global_avg_rank(
    df: DataFrame,
    order_exprs: list[Column],
    rank_keys: list[str],
    out: str = "avg_rank",
) -> DataFrame:
    """pandas ``rank(method='average')`` semantics (the reference's W3
    default, SURVEY §7.3): ties share the mean of their ordinal
    positions. Same two-phase plan as :func:`global_rank` with
    ``avg(rn)`` over the tie group — distributed, no global window."""
    rn = global_row_number(df, order_exprs, out="__tp_rn")
    w = Window.partitionBy(*rank_keys)
    return rn.withColumn(out, F.avg("__tp_rn").over(w)).drop("__tp_rn")
