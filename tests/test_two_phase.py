"""Two-phase global window primitives vs naive single-partition truth.

The operator contract: identical values to a global Window.orderBy, but
with the data range-partitioned (no single-partition WindowExec).
"""

import pyspark.sql.functions as F
import pytest

from geo_big_data_analysis_spark.operators import two_phase as tp


@pytest.fixture(scope="module")
def numbers(spark):
    # values with ties, deliberately spread over many input partitions
    rows = [(i, (i * 37) % 11, f"u{i:03d}") for i in range(500)]
    return spark.createDataFrame(rows, ["row_id", "v", "name"]).repartition(13)


def test_global_row_number_matches_enumerate(numbers):
    got = {
        r.row_id: r.rn
        for r in tp.global_row_number(
            numbers, [F.col("v").asc(), F.col("row_id").asc()]
        ).collect()
    }
    expected_order = sorted(range(500), key=lambda i: ((i * 37) % 11, i))
    for pos, row_id in enumerate(expected_order, start=1):
        assert got[row_id] == pos
    assert len(got) == 500


def test_global_row_number_is_bigint(numbers):
    df = tp.global_row_number(numbers, [F.col("row_id").asc()])
    assert dict(df.dtypes)["rn"] == "bigint"


def test_global_cumsum_matches_python(numbers):
    got = {
        r.row_id: r.cum
        for r in tp.global_cumsum(
            numbers, [F.col("v").desc(), F.col("row_id").asc()], "v"
        ).collect()
    }
    acc = 0
    for i in sorted(range(500), key=lambda i: (-((i * 37) % 11), i)):
        acc += (i * 37) % 11
        assert got[i] == acc


def test_global_rank_tie_semantics(numbers):
    got = {
        r.row_id: r.rank
        for r in tp.global_rank(
            numbers, [F.col("v").desc()], rank_keys=["v"]
        ).collect()
    }
    vals = sorted(((i * 37) % 11 for i in range(500)), reverse=True)
    first_pos = {}
    for pos, v in enumerate(vals, start=1):
        first_pos.setdefault(v, pos)
    for i in range(500):
        assert got[i] == first_pos[(i * 37) % 11]


def test_global_avg_rank_matches_pandas(numbers):
    got = {
        r.row_id: r.avg_rank
        for r in tp.global_avg_rank(
            numbers, [F.col("v").desc(), F.col("row_id").asc()], rank_keys=["v"]
        ).collect()
    }
    import pandas as pd

    vals = pd.Series([(i * 37) % 11 for i in range(500)])
    ref = vals.rank(ascending=False, method="average")
    for i in range(500):
        assert got[i] == ref[i]


def test_no_unpartitioned_window_in_plan(numbers, force_distributed):
    # r9 size dispatch: SMALL inputs deliberately take a plain
    # single-partition window (cheaper than the two-phase machinery on
    # one task's worth of data). The at-scale contract is unchanged:
    # past SMALL_SORT_CAP every Window must be keyed on the internal
    # pid. Force the two-phase path.
    force_distributed()
    plan = tp.global_row_number(
        numbers, [F.col("v").asc(), F.col("row_id").asc()]
    )._jdf.queryExecution().executedPlan().toString()
    # every Window in the plan must be keyed (on the internal pid)
    for line in plan.splitlines():
        if "Window " in line and "row_number" in line:
            assert "__tp_pid" in line


def test_small_dispatch_matches_two_phase(numbers, force_distributed):
    """Both dispatch paths must number rows identically (total order)."""
    order = [F.col("v").asc(), F.col("row_id").asc()]
    small = {
        (r["row_id"], r["rn"])
        for r in tp.global_row_number(numbers, order).collect()
    }
    force_distributed()
    big = {
        (r["row_id"], r["rn"])
        for r in tp.global_row_number(numbers, order).collect()
    }
    assert small == big


def test_empty_input(spark):
    empty = spark.createDataFrame([], "row_id bigint, v bigint")
    assert tp.global_row_number(empty, [F.col("row_id").asc()]).count() == 0
    assert tp.global_cumsum(empty, [F.col("row_id").asc()], "v").count() == 0


def test_scd2_collapse_runs(spark):
    """Consecutive equal states merge into one validity range; ranges
    chain (effective_to = next effective_from) and only the last
    version per key is open."""
    from datetime import datetime

    from geo_big_data_analysis_spark.operators.scd import scd2_collapse

    t = lambda m: datetime(2026, 1, 1, 0, m)  # noqa: E731
    obs = spark.createDataFrame(
        [(1, "a", t(0)), (1, "a", t(5)), (1, "b", t(10)), (1, "a", t(15)),
         (2, "x", t(3))],
        "k long, state string, ts timestamp",
    )
    rows = sorted(
        scd2_collapse(obs, "k", "state", "ts").collect(),
        key=lambda r: (r["k"], r["effective_from"]),
    )
    got = [
        (r["k"], r["state"], r["effective_from"], r["effective_to"], r["is_current"])
        for r in rows
    ]
    assert got == [
        (1, "a", t(0), t(10), False),
        (1, "b", t(10), t(15), False),
        (1, "a", t(15), None, True),
        (2, "x", t(3), None, True),
    ]


def test_scd2_merge_idempotent_and_incremental(spark):
    """Merging updates closes changed open versions and appends new
    ones; closed history is untouched; re-merging the same batch is a
    no-op (idempotence — the replay-safety contract of the MERGE
    emulation)."""
    from datetime import datetime

    from geo_big_data_analysis_spark.operators.scd import scd2_collapse, scd2_merge

    t = lambda m: datetime(2026, 1, 1, 0, m)  # noqa: E731
    base = spark.createDataFrame(
        [(1, "a", t(0)), (1, "b", t(10)), (2, "x", t(3))],
        "k long, state string, ts timestamp",
    )
    current = scd2_collapse(base, "k", "state", "ts")
    updates = spark.createDataFrame(
        [(1, "c", t(20)), (2, "x", t(30)), (3, "q", t(7))],
        "k long, state string, ts timestamp",
    )

    def snap(df):
        return sorted(
            (r["k"], r["state"], r["effective_from"], r["effective_to"], r["is_current"])
            for r in df.collect()
        )

    once = scd2_merge(current, updates, "k", "state", "ts")
    got = snap(once)
    assert (1, "b", t(10), t(20), False) in got      # open row closed
    assert (1, "c", t(20), None, True) in got        # new version opened
    assert (2, "x", t(3), None, True) in got         # unchanged state: no new version
    assert (3, "q", t(7), None, True) in got         # brand-new key
    assert (1, "a", t(0), t(10), False) in got       # closed history untouched
    twice = scd2_merge(once, updates, "k", "state", "ts")
    assert snap(twice) == got
