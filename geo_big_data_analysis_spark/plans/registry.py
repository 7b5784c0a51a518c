"""Driver-facing query registry.

Each entry is one implemented operator (or operator composition) from
SURVEY.md §2, run against the driver's parquet tables, paired with the
ANSI-SQL oracle DuckDB runs side-by-side (CORRECTNESS gate). Column
names and float rounding are aligned on both sides.

To add a query, write three things in this order, in the family section
it belongs to:

1. its oracle: a ``_SQL_*`` constant or a ``_sql_*()`` builder (a shared
   oracle sits above its first user);
2. ``@query(_SQL_X)`` -- or ``@query(_SQL_X, bench=False)`` to keep it
   out of ``bench.py`` -- which registers it in ``REGISTRY`` under its
   name without ``q_`` and returns the function unchanged;
3. ``def q_<name>(spark, sf_dir) -> DataFrame``, calling the layers
   through the module aliases imported at the top (``ga.sssp``,
   ``sim.pq_encode``, ``win.stream_events``), so a traced run's
   wrappers are what each call reaches. No top-level function here
   imports in its body (``tests/test_registry_names.py``); only a
   kernel nested inside a query, which runs in a Python worker, imports
   what it needs itself.

Float policy: aggregates that sum many doubles are rounded so the
rounding unit exceeds worst-case fp reassociation error (sums → 2dp,
averages/ratios → 6dp); pure per-row arithmetic matches bit-exactly and
is rounded only for readability.

Derived coordinates convention (both sides, identical op order):
    lon = -74.3 + (event_id % 1000) / 1000.0 * 0.6
    lat = 40.5 + ((event_id * 7) % 1000) / 1000.0 * 0.5
This plants a deterministic NYC-bbox point per event row so the
reference's geospatial operator suite (bbox filter / grid / haversine /
spatial join) is oracle-checkable on the driver's relational fixtures.

Per-item Python (the codec round-trips) is a plain function of one row
run by ``sources/tables.map_rows``; the query keeps only the kernel
body and its output schema.
"""

from __future__ import annotations

import math
import tempfile
from collections.abc import Callable

import numpy as np
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.regression import GBTRegressor
from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import geo, polyclip, sentiment as sn, stats as st, strings, temporal, text as tx
from ..graph import algorithms as ga
from ..ml import features as mf, lloyd, pipeline as mlp
from ..operators import (
    asof,
    bpe,
    cleaning,
    dbscan,
    dedup as dd,
    dispatch,
    kde,
    knn,
    lisa as lm,
    scale as sc,
    scd,
    sessionize as sz,
    similarity as sim,
    skyline,
    spatial_join as sj,
    spatstats,
    spread as spr,
    two_phase as tp,
)
from ..sources import ann_index as ann, csv as csvs, multimodal as mm, ndjson, raster, tables as tb
from ..sources.ann_index import (
    _MH_IDX_BANDS,
    _MH_IDX_HASHES,
    _MH_IDX_MOD,
    _MH_IDX_TAU,
    _mh_probe_pairs,
)
from ..sources.tables import _t
from ..streaming import ingest, windows as win

#: name -> (query function, its DuckDB oracle SQL), in file order
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}
#: the names ``bench.py`` times, in REGISTRY order
BENCHED: list[str] = []


def query(oracle: str, bench: bool = True) -> Callable:
    """Register the decorated ``q_<name>`` as ``name`` with ``oracle``;
    ``bench=False`` keeps it out of ``bench.py``'s run. The function is
    returned unchanged."""

    def register(fn: Callable[[SparkSession, str], DataFrame]):
        name = fn.__name__.removeprefix("q_")
        if name == fn.__name__:
            raise ValueError(f"{fn.__name__}: a query function is named q_<name>")
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        REGISTRY[name] = (fn, oracle)
        if bench:
            BENCHED.append(name)
        return fn

    return register


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _derived_points(events: DataFrame) -> DataFrame:
    lon = F.lit(-74.3) + (F.col("event_id") % 1000) / F.lit(1000.0) * F.lit(0.6)
    lat = F.lit(40.5) + ((F.col("event_id") * 7) % 1000) / F.lit(1000.0) * F.lit(0.5)
    return events.withColumn("lon", lon).withColumn("lat", lat)


def _event_lattice() -> list:
    """The integer lattice (x, y) behind `_derived_points` — lon and lat
    are affine in x and y — on which the exact Lloyd fits run."""
    return [(F.col("event_id") % 1000).alias("x"), ((F.col("event_id") * 7) % 1000).alias("y")]


_SQL_EVENT_LATTICE = "event_id % 1000 AS x, (event_id * 7) % 1000 AS y"


_DERIVED_POINTS_SQL = """
    SELECT *,
           -74.3 + (event_id % 1000) / 1000.0 * 0.6 AS lon,
           40.5 + ((event_id * 7) % 1000) / 1000.0 * 0.5 AS lat
    FROM events
"""


def _sql_nearest(src: str, cols: list[str], centers: str, keep: list[str], label: str = "cid") -> str:
    """DuckDB replay of `ml/lloyd._argmin_cid`: each ``src`` row (``keep``
    columns, keyed by ``id``) with the cid of its nearest row of the
    ``centers`` CTE as ``label``. The squared distance is the same left
    fold of per-coordinate products; ties go to the lowest cid."""
    dist = " + ".join(f"(p.{x}::DOUBLE - c.{x}) * (p.{x}::DOUBLE - c.{x})" for x in cols)
    return f"""SELECT {', '.join(keep)}, cid AS {label} FROM (
    SELECT {', '.join(f'p.{x}' for x in keep)}, c.cid,
           row_number() OVER (PARTITION BY p.id ORDER BY {dist} ASC, c.cid ASC) AS rk
    FROM {src} p CROSS JOIN {centers} c
  ) WHERE rk = 1"""


def _sql_lloyd_ctes(src: str, cols: list[str], k: int, iters: int, pre: str = "") -> str:
    """DuckDB replay of `ml/lloyd`'s fit over ``src(id, *cols)``: CTEs
    ``{pre}c0 … {pre}c{iters}`` hold each round's centers (cid, *cols),
    with the per-round assignment ``{pre}a{t}`` and integer sums
    ``{pre}s{t}`` between them. Init is the k smallest ids, a centroid
    is one exact-sum / count division, and an empty cluster keeps its
    center."""
    init = ", ".join(f"{x}::DOUBLE AS {x}" for x in cols)
    sums = ", ".join(f"sum({x}) AS s_{x}" for x in cols)
    news = ", ".join(f"coalesce(s.s_{x} / s.cnt, pc.{x}) AS {x}" for x in cols)
    parts = [
        f"{pre}c0 AS (SELECT (row_number() OVER (ORDER BY id) - 1)::INT AS cid, {init}"
        f" FROM (SELECT id, {', '.join(cols)} FROM {src} ORDER BY id LIMIT {k}))"
    ]
    for t in range(1, iters + 1):
        prev = f"{pre}c{t - 1}"
        parts += [
            f"{pre}a{t} AS ({_sql_nearest(src, cols, prev, ['id', *cols])})",
            f"{pre}s{t} AS (SELECT cid, {sums}, count(*) AS cnt FROM {pre}a{t} GROUP BY cid)",
            f"{pre}c{t} AS (SELECT r.cid, {news}"
            f" FROM (SELECT range::INT AS cid FROM range({k})) r"
            f" LEFT JOIN {pre}s{t} s USING (cid)"
            f" LEFT JOIN {prev} pc ON pc.cid = r.cid)",
        ]
    return ",\n".join(parts)


# --------------------------------------------------------------------------
# Relational core (SURVEY §2.2-§2.7)
# --------------------------------------------------------------------------

_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query(_SQL_PRICING)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A7 flagship: TPC-H-Q1-shaped pricing summary over lineitem.

    Plan: scan → pushed-down date filter → hash agg (partial+final).
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_PART_TYPE_REVENUE = """
SELECT p_type,
       count(*)::BIGINT AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(avg(l_discount), 6) AS avg_discount,
       count(DISTINCT l_partkey)::BIGINT AS n_parts
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
ORDER BY p_type
"""


@query(_SQL_PART_TYPE_REVENUE)
def q_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A5 over the part dim (TPC-H-Q14 shape): lineitem ⋈ part on
    partkey with per-type revenue and discount stats. part is a dim
    (0.2 M rows/SF) → broadcast hash join, no shuffle on the fact side;
    column pruning reaches the scan (only p_partkey/p_type read)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_discount"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("p_type")
    )


_SQL_TOP_REV = """
SELECT c_custkey, c_name, revenue, n_orders
FROM (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue, count(*)::BIGINT AS n_orders
  FROM orders GROUP BY o_custkey
) r JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


@query(_SQL_TOP_REV)
def q_top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+A+O2: orders⋈customer revenue top-10 (broadcast dim join)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "inner")
        .select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


_SQL_REGION_ROLLUP = """
SELECT r_name, n_name, count(*)::BIGINT AS n_customers, round(avg(c_acctbal), 6) AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


@query(_SQL_REGION_ROLLUP)
def q_region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: two broadcast dim joins + grouped agg (region→nation→customer)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
    )


_SQL_SEMI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@query(_SQL_SEMI, bench=False)
def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — left_semi join (EXISTS semantics)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


_SQL_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@query(_SQL_ANTI, bench=False)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/U3 — left_anti join (set-difference semantics)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


_SQL_VALUE_COUNTS = """
SELECT o_orderpriority, count(*)::BIGINT AS n FROM orders
GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority ASC
"""


@query(_SQL_VALUE_COUNTS, bench=False)
def q_orderpriority_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — value_counts (group-count ordered desc, deterministic tiebreak)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("o_orderpriority").asc())
    )


def _sql_missing(cols):
    exprs = ", ".join(
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_{c}" for c in cols
    )
    return f"SELECT {exprs} FROM orders"


_SQL_MISSING = _sql_missing(
    ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
)


@query(_SQL_MISSING, bench=False)
def q_missing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — per-column missing-value census (single pass)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        *[
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"null_{c}")
            for c in orders.columns
        ]
    )


_SQL_HISTOGRAM = """
SELECT CAST(floor((l_quantity - 1) / 5) AS BIGINT) AS band, count(*)::BIGINT AS n
FROM lineitem GROUP BY 1 ORDER BY band
"""


@query(_SQL_HISTOGRAM, bench=False)
def q_histogram_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — fixed-width histogram banding."""
    li = _t(spark, sf_dir, "lineitem")
    band = F.floor((F.col("l_quantity") - 1) / 5).cast("bigint")
    return (
        li.groupBy(band.alias("band"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("band")
    )


_SQL_LINREGRESS = """
WITH s AS (
  SELECT count(*)::DOUBLE AS n, sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
         sum(l_quantity * l_quantity) AS sxx,
         sum(l_extendedprice * l_extendedprice) AS syy,
         sum(l_quantity * l_extendedprice) AS sxy
  FROM lineitem
)
SELECT round((sxy - sx*sy/n) / (sxx - sx*sx/n), 6) AS slope,
       round((sy - ((sxy - sx*sy/n) / (sxx - sx*sx/n)) * sx) / n, 6) AS intercept,
       round((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 6) AS r,
       round(pow((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 2), 6) AS r2
FROM s
"""


@query(_SQL_LINREGRESS, bench=False)
def q_linregress_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — correlation + closed-form linear regression."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = st.linregress_aggs("l_quantity", "l_extendedprice")
    out = li.agg(*aggs)
    return out.select(*[F.round(F.col(c), 6).alias(c) for c in out.columns])


_SQL_PERCENTILE = """
SELECT count(*)::BIGINT AS n_above, round(avg(o_totalprice), 4) AS avg_above
FROM orders WHERE o_totalprice > (SELECT quantile_cont(o_totalprice, 0.95) FROM orders)
"""


@query(_SQL_PERCENTILE, bench=False)
def q_percentile_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17/F18 — exact-percentile threshold filter (two-phase, stays lazy
    via broadcast cross-join of the 1-row stat)."""
    orders = _t(spark, sf_dir, "orders")
    thresh = orders.agg(F.expr("percentile(o_totalprice, 0.95)").alias("_p95"))
    return (
        orders.crossJoin(F.broadcast(thresh))
        .filter(F.col("o_totalprice") > F.col("_p95"))
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_above"),
        )
    )


_SQL_UNION = """
WITH u AS (
  SELECT l_partkey AS key FROM lineitem UNION ALL SELECT l_suppkey FROM lineitem
), g AS (SELECT key, count(*)::BIGINT AS n FROM u GROUP BY key)
SELECT count(*)::BIGINT AS n_distinct_keys, sum(n)::BIGINT AS n_total FROM g
"""


@query(_SQL_UNION, bench=False)
def q_union_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U4 — vertical union of two projections + distinct count."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_partkey").alias("key"))
    b = li.select(F.col("l_suppkey").alias("key"))
    return (
        a.unionByName(b)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_distinct_keys"),
            F.sum("n").alias("n_total"),
        )
    )


_SQL_RANK = """
SELECT s_suppkey, s_name, round(s_acctbal, 4) AS acctbal,
       rank() OVER (ORDER BY s_acctbal DESC)::BIGINT AS bal_rank
FROM supplier
"""


@query(_SQL_RANK, bench=False)
def q_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — rank over global ordering, via the two-phase
    range-partitioned plan (`operators/two_phase.global_rank`): the
    supplier table is a dim at sf0.1 but grows with SF, and a naive
    global window would single-partition it."""
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    return tp.global_rank(
        sup, [F.col("s_acctbal").desc()], rank_keys=["s_acctbal"], out="bal_rank"
    ).select(
        "s_suppkey", "s_name", F.round("s_acctbal", 4).alias("acctbal"), "bal_rank"
    )


_SQL_AVG_RANK = """
WITH rn AS (
  SELECT s_suppkey, s_acctbal,
         row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
  FROM supplier
)
SELECT s_suppkey, round(s_acctbal, 4) AS acctbal,
       avg(rn) OVER (PARTITION BY s_acctbal) AS avg_rank
FROM rn
"""


@query(_SQL_AVG_RANK)
def q_avg_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 with the reference's *actual* tie semantics — pandas
    ``rank(method='average')`` (lab4 nb cell 13: `.rank(ascending=False)`
    averages ordinal positions over ties), not SQL ``rank``. Two-phase
    range-partitioned row_number + avg over the tie group
    (`operators/two_phase.global_avg_rank`)."""
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    return tp.global_avg_rank(
        sup,
        [F.col("s_acctbal").desc(), F.col("s_suppkey").asc()],
        rank_keys=["s_acctbal"],
        out="avg_rank",
    ).select("s_suppkey", F.round("s_acctbal", 4).alias("acctbal"), "avg_rank")


_SQL_PARETO = """
SELECT user_id, n,
       round(sum(n) OVER (ORDER BY n DESC, user_id ASC ROWS UNBOUNDED PRECEDING)
             / (SELECT sum(n) FROM (SELECT count(*) AS n FROM events GROUP BY user_id)), 6) AS cum_share
FROM (SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY user_id)
"""


@query(_SQL_PARETO)
def q_pareto_user_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15/W4 — cumulative contribution share (top-users Pareto audit).
    The running sum is the two-phase range-partitioned kind
    (`operators/two_phase.global_cumsum`): distinct users scale with
    the data, so the naive global cumsum window would single-partition
    the aggregate. Order (n desc, user_id) is total → deterministic."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    cum = tp.global_cumsum(
        counts,
        [F.col("n").desc(), F.col("user_id").asc()],
        "n",
        out="cum_n",
    )
    return cum.crossJoin(F.broadcast(total)).select(
        "user_id",
        "n",
        F.round(F.col("cum_n") / F.col("_total"), 6).alias("cum_share"),
    )


# --------------------------------------------------------------------------
# Temporal analytics (SURVEY §2.5, §2.8, lab-1 pipeline)
# --------------------------------------------------------------------------

_SQL_HOURLY = """
SELECT date_trunc('hour', ts) AS bucket_ts, count(*)::BIGINT AS n
FROM events GROUP BY 1 ORDER BY bucket_ts
"""


@query(_SQL_HOURLY, bench=False)
def q_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — tumbling 1-hour counts."""
    ev = _t(spark, sf_dir, "events")
    return sz.hourly_counts(ev, "ts").orderBy("bucket_ts")


_SQL_HIGH_DENSITY = """
WITH h AS (SELECT date_trunc('hour', ts) AS bucket_ts, count(*)::BIGINT AS n
           FROM events GROUP BY 1),
s AS (SELECT avg(n) AS mu, coalesce(stddev_pop(n), 0.0) AS sigma FROM h)
SELECT bucket_ts, n FROM h, s WHERE n > mu + 2.0 * sigma
"""


@query(_SQL_HIGH_DENSITY)
def q_high_density_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lab-1 anomaly detection: hourly buckets with n > μ+2σ (population σ)."""
    ev = _t(spark, sf_dir, "events")
    return sz.anomaly_threshold_filter(sz.hourly_counts(ev, "ts"), sigmas=2.0)


_SQL_SESSIONS = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, session_id::BIGINT AS session_id, min(ts) AS session_start,
       max(ts) AS session_end, count(*)::BIGINT AS n_events
FROM s GROUP BY user_id, session_id
"""


@query(_SQL_SESSIONS)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+A4 — gap-based sessionization (30-min gap) + per-session stats."""
    ev = _t(spark, sf_dir, "events")
    sessions = sz.sessionize(ev, "ts", gap_minutes=30.0, keys=["user_id"])
    return sz.session_stats(sessions, "ts", keys=["user_id"])


_SQL_DRILLDOWN = """
WITH h AS (SELECT date_trunc('hour', ts) AS bucket_ts, count(*)::BIGINT AS n
           FROM events GROUP BY 1),
s AS (SELECT avg(n) AS mu, coalesce(stddev_pop(n), 0.0) AS sigma FROM h),
p AS (SELECT bucket_ts AS session_start, bucket_ts + INTERVAL 1 HOUR AS session_end
      FROM h, s WHERE n > mu + 1.0 * sigma)
SELECT p.session_start, e.event_type, count(*)::BIGINT AS n, round(sum(e.value), 4) AS sum_value
FROM events e JOIN p ON e.ts >= p.session_start AND e.ts < p.session_end
GROUP BY p.session_start, e.event_type
"""


@query(_SQL_DRILLDOWN)
def q_session_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — range join of events into high-density periods, executed as
    the bucketed hash join (`sessionize.bucketed_range_join`): periods
    explode to covering hour buckets, events equi-join on their hour,
    exact range predicate refines. Replaces the broadcast-NLJ form —
    O(|events|·|periods|) predicate evaluations — with a hashed probe."""
    ev = _t(spark, sf_dir, "events")
    periods = (
        sz.anomaly_threshold_filter(sz.hourly_counts(ev, "ts"), sigmas=1.0)
        .select(
            F.col("bucket_ts").alias("session_start"),
            (F.col("bucket_ts") + F.expr("INTERVAL 1 HOUR")).alias("session_end"),
        )
    )
    joined = sz.bucketed_range_join(ev, periods, "ts", end_exclusive=True)
    return (
        joined.groupBy("session_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


_SQL_PIVOT = """
SELECT (isodow(ts) - 1)::INT AS dow,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
FROM events GROUP BY 1 ORDER BY dow
"""


@query(_SQL_PIVOT)
def q_dow_eventtype_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — dow(Monday=0) × event_type pivoted count matrix."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("dow", temporal.dayofweek_monday0("ts"))
        .groupBy("dow")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0)
        .orderBy("dow")
    )


_SQL_TIME_BUCKETS = """
SELECT CASE
         WHEN isodow(ts) <= 5 AND hour(ts) BETWEEN 7 AND 9 THEN 'morning_peak'
         WHEN isodow(ts) <= 5 AND hour(ts) BETWEEN 17 AND 19 THEN 'evening_peak'
         WHEN hour(ts) BETWEEN 6 AND 22 THEN 'day'
         ELSE 'night'
       END AS bucket,
       count(*)::BIGINT AS n, round(avg(value), 6) AS avg_value
FROM events GROUP BY 1
"""


@query(_SQL_TIME_BUCKETS, bench=False)
def q_time_interval_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.8 — rule-based time-of-day bucketing (weekday-aware when chain)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", temporal.time_interval_bucket("ts"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


_SQL_VALUE_STATS = """
SELECT event_type, count(*)::BIGINT AS n,
       round(avg(value), 6) AS avg_value,
       round(stddev_samp(value), 6) AS std_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       round(avg(CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END), 6) AS high_rate
FROM events GROUP BY event_type
"""


@query(_SQL_VALUE_STATS, bench=False)
def q_event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — multi-agg with share-of-group (positive-rate pattern)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.stddev_samp("value"), 6).alias("std_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.avg((F.col("value") > 100).cast("double")), 6).alias("high_rate"),
    )


_SQL_JSON = """
SELECT (json_extract_string(props, '$.k')::BIGINT % 10) AS k_mod,
       count(*)::BIGINT AS n, sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k
FROM events GROUP BY 1 ORDER BY k_mod
"""


@query(_SQL_JSON, bench=False)
def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-adjacent — JSON field extraction from the props column."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("k_mod")
    )


_SQL_NDJSON_SCAN = """
SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents WHERE doc_id % 3 = 0
GROUP BY source ORDER BY source
"""


@query(_SQL_NDJSON_SCAN)
def q_ndjson_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S5 — NDJSON scan with malformed-row skip and semi-join
    pushdown (lab4 load_business_data / load_review_data, cell 6,
    json 113): documents round-trip through NDJSON (with injected
    corrupt lines), scan back keeping only doc_ids ≡ 0 (mod 3), then
    aggregate per source. The oracle reads the parquet directly — a
    match proves the NDJSON path loses/garbles nothing."""
    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="ndjson_scan_")
    path = f"{tmp}/docs.ndjson"
    docs.select(F.to_json(F.struct(*docs.columns)).alias("value")).write.mode(
        "overwrite"
    ).text(path)
    tb.local_frame(
        spark,
        [("this line is {{{ not json",), ('{"doc_id": 1 "bad": true}',)], "value string"
    ).write.mode("append").text(path)
    ids = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    back = ndjson.read_ndjson_semi(spark, path, ids, "doc_id", docs.schema)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("source")
    )


_SQL_CSV_SCAN = """
SELECT hour(ts) AS hour, count(*)::BIGINT AS n,
       round(sum(value), 4) AS sum_value, min(event_id) AS min_id
FROM events GROUP BY 1
"""


@query(_SQL_CSV_SCAN)
def q_csv_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+S3 — CSV scan with declared schema, custom ';' delimiter
    and 12-hour timestamp parsing (the reference's
    '%m/%d/%Y %I:%M:%S %p' format, test.py:64; sep=';' holidays table,
    lab2 cell 3): events round-trip through CSV, are re-parsed with
    ``to_timestamp(col, 'M/d/yyyy h:mm:ss a')``, then aggregated
    hourly. The oracle reads the parquet directly — a match proves the
    CSV scan + format parse lose nothing (incl. the AM/PM noon/midnight
    edge)."""
    ev = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="csv_scan_")
    path = f"{tmp}/events.csv"
    ev.select(
        "event_id",
        F.date_format("ts", "M/d/yyyy h:mm:ss a").alias("ts"),
        "user_id",
        "event_type",
        "value",
    ).write.mode("overwrite").option("header", "true").option("sep", ";").csv(path)
    back = csvs.read_csv(
        spark,
        path,
        schema="event_id bigint, ts string, user_id bigint, event_type string, value double",
        sep=";",
        ts_formats={"ts": "M/d/yyyy h:mm:ss a"},
    )
    return (
        back.groupBy(F.hour("ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min("event_id").alias("min_id"),
        )
    )


# --------------------------------------------------------------------------
# Geospatial (derived points; SURVEY §2.3 J5, §2.8 geo)
# --------------------------------------------------------------------------

# Convex polygons (ccw vertex rings, lon/lat) for the J5
# point-in-polygon join — literal geometry shared by both engines.
_POLYGONS: list[list[tuple[float, float]]] = [
    [(-74.28, 40.52), (-74.02, 40.55), (-74.20, 40.80)],
    [(-73.98, 40.60), (-73.75, 40.62), (-73.72, 40.90), (-73.95, 40.95)],
    [(-74.15, 40.82), (-73.90, 40.70), (-73.80, 40.97)],
]


def _inside_convex_expr(poly: list[tuple[float, float]], lon: str, lat: str):
    """CCW half-plane conjunction: cross((v2-v1),(p-v1)) >= 0 per edge —
    pure codegen'd arithmetic, identical expression text in the oracle."""
    cond = F.lit(True)
    for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1]):
        cross = (F.lit(x2 - x1)) * (F.col(lat) - F.lit(y1)) - (
            F.lit(y2 - y1)
        ) * (F.col(lon) - F.lit(x1))
        cond = cond & (cross >= 0)
    return cond


def _inside_convex_sql(poly: list[tuple[float, float]]) -> str:
    terms = [
        f"(({x2 - x1!r}) * (lat - ({y1!r})) - ({y2 - y1!r}) * (lon - ({x1!r})) >= 0)"
        for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1])
    ]
    return " AND ".join(terms)


def _sql_polygon_points() -> str:
    selects = [
        f"SELECT {pid} AS poly_id, count(*)::BIGINT AS n_points,"
        f" round(avg(value), 6) AS avg_value FROM pts WHERE {_inside_convex_sql(poly)}"
        for pid, poly in enumerate(_POLYGONS)
    ]
    body = "\nUNION ALL\n".join(selects)
    return f"WITH pts AS ({_DERIVED_POINTS_SQL})\n{body}\nORDER BY poly_id"


@query(_sql_polygon_points(), bench=False)
def q_polygon_points_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5, the full grid-join shape (gpd.sjoin predicate='within',
    lab2 nb cell 20 / lab3a cell 15): polygons pre-expand to covering
    grid cells, points tag their cell, hash equi-join on (gx, gy), then
    the exact convex point-in-polygon half-plane refine — all codegen'd
    arithmetic, no cross product, shuffle keyed on integer cells.
    Per-polygon point count + mean value. The oracle skips the grid
    (a physical detail) and tests the same half-planes directly —
    a match proves the cell cover loses no points."""
    o_lat, o_lon, cell = 40.5, -74.3, 0.05
    cell_rows = []
    for pid, poly in enumerate(_POLYGONS):
        xs = [p[0] for p in poly]
        ys = [p[1] for p in poly]
        gx0, gx1 = int((min(xs) - o_lon) / cell), int((max(xs) - o_lon) / cell)
        gy0, gy1 = int((min(ys) - o_lat) / cell), int((max(ys) - o_lat) / cell)
        cell_rows += [
            (gx, gy, pid)
            for gx in range(gx0, gx1 + 1)
            for gy in range(gy0, gy1 + 1)
        ]
    cells = tb.local_frame(spark, cell_rows, "gx bigint, gy bigint, poly_id int")

    pts = _derived_points(_t(spark, sf_dir, "events"))
    joined = sj.point_in_cell_join(pts, F.broadcast(cells), "lat", "lon", o_lat, o_lon, cell)
    inside = F.lit(False)
    for pid, poly in enumerate(_POLYGONS):
        inside = F.when(F.col("poly_id") == pid, _inside_convex_expr(poly, "lon", "lat")).otherwise(inside)
    return (
        joined.filter(inside)
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("poly_id")
    )


_SQL_GRID = f"""
WITH p AS ({_DERIVED_POINTS_SQL})
SELECT CAST(floor((lon - (-74.3)) / 0.05) AS BIGINT) AS gx,
       CAST(floor((lat - 40.5) / 0.05) AS BIGINT) AS gy,
       count(*)::BIGINT AS n, round(avg(value), 6) AS avg_value
FROM p
WHERE lat BETWEEN 40.55 AND 40.95 AND lon BETWEEN -74.25 AND -73.75
GROUP BY 1, 2
"""


@query(_SQL_GRID)
def q_geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 + grid-cell assignment + A13-style 2-D bin density."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    pts = pts.filter(geo.in_bbox("lat", "lon", 40.55, 40.95, -74.25, -73.75))
    gx, gy = geo.grid_cell("lat", "lon", 40.5, -74.3, 0.05)
    return (
        pts.withColumn("gx", gx)
        .withColumn("gy", gy)
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


_SQL_EXTENT = f"""
WITH p AS ({_DERIVED_POINTS_SQL})
SELECT event_type,
       round(min(lon), 6) AS min_lon, round(min(lat), 6) AS min_lat,
       round(max(lon), 6) AS max_lon, round(max(lat), 6) AS max_lat,
       count(*)::BIGINT AS n
FROM p GROUP BY event_type
"""


@query(_SQL_EXTENT, bench=False)
def q_spatial_extent_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — spatial extent aggregate (nodes.total_bounds, lab3a nb
    cell 5): per-type bbox (min/max lon/lat) + point count in one
    hash agg (map-side combined; at scale this is the metadata pass a
    spatial layout writer runs before choosing a grid)."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    return pts.groupBy("event_type").agg(
        F.round(F.min("lon"), 6).alias("min_lon"),
        F.round(F.min("lat"), 6).alias("min_lat"),
        F.round(F.max("lon"), 6).alias("max_lon"),
        F.round(F.max("lat"), 6).alias("max_lat"),
        F.count(F.lit(1)).alias("n"),
    )


_SQL_HOT_COLD = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
cells AS (
  SELECT CAST(floor((lon - (-74.3)) / 0.05) AS BIGINT) AS gx,
         CAST(floor((lat - 40.5) / 0.05) AS BIGINT) AS gy,
         count(*)::BIGINT AS n, avg(value) AS avg_value
  FROM p GROUP BY 1, 2
),
t AS (SELECT quantile_cont(n, 0.75) AS q75, quantile_cont(n, 0.25) AS q25 FROM cells)
SELECT CASE WHEN n >= q75 THEN 'hot' WHEN n <= q25 THEN 'cold' ELSE 'mid' END AS band,
       count(*)::BIGINT AS n_cells, sum(n)::BIGINT AS n_points,
       round(avg(avg_value), 6) AS avg_cell_value
FROM cells CROSS JOIN t
GROUP BY 1
"""


@query(_SQL_HOT_COLD)
def q_hot_cold_grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13+F18 — hot/cold-spot extraction (lab4 nb cell 18: cluster
    stats → quantile threshold): grid-cell densities → exact q75/q25
    thresholds of the per-cell counts (two-phase, broadcast 1-row
    stat) → hot/mid/cold banding, summarized per band."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    gx, gy = geo.grid_cell("lat", "lon", 40.5, -74.3, 0.05)
    cells = (
        pts.withColumn("gx", gx)
        .withColumn("gy", gy)
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
    )
    thresh = cells.agg(
        F.expr("percentile(n, 0.75)").alias("_q75"),
        F.expr("percentile(n, 0.25)").alias("_q25"),
    )
    banded = cells.crossJoin(F.broadcast(thresh)).withColumn(
        "band",
        F.when(F.col("n") >= F.col("_q75"), F.lit("hot"))
        .when(F.col("n") <= F.col("_q25"), F.lit("cold"))
        .otherwise(F.lit("mid")),
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").alias("n_points"),
        F.round(F.avg("avg_value"), 6).alias("avg_cell_value"),
    )


_SQL_HAVERSINE = f"""
WITH p AS ({_DERIVED_POINTS_SQL})
SELECT event_type,
       round(avg(2 * 6371.0 * asin(sqrt(
         pow(sin((radians(40.7580) - radians(lat)) / 2), 2)
         + cos(radians(lat)) * cos(radians(40.7580))
           * pow(sin((radians(-73.9855) - radians(lon)) / 2), 2)))), 6) AS avg_dist_km,
       round(max(2 * 6371.0 * asin(sqrt(
         pow(sin((radians(40.7580) - radians(lat)) / 2), 2)
         + cos(radians(lat)) * cos(radians(40.7580))
           * pow(sin((radians(-73.9855) - radians(lon)) / 2), 2)))), 6) AS max_dist_km
FROM p GROUP BY event_type
"""


@query(_SQL_HAVERSINE)
def q_haversine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.8-geo — haversine distance to a fixed center, per event type."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    d = geo.haversine_km("lat", "lon", F.lit(40.7580), F.lit(-73.9855))
    return (
        pts.withColumn("dist_km", d)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("dist_km"), 6).alias("avg_dist_km"),
            F.round(F.max("dist_km"), 6).alias("max_dist_km"),
        )
    )


# --------------------------------------------------------------------------
# Text / LLM-pipeline operators (documents table)
# --------------------------------------------------------------------------

_CLEAN_SQL = (
    "trim(regexp_replace(regexp_replace(regexp_replace(lower(text),"
    " 'http\\S+|www\\S+|https\\S+', ' ', 'g'),"
    " '[^a-zA-Z\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


_SQL_DEDUP = f"""
SELECT min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_copies
FROM documents GROUP BY {_CLEAN_SQL}
"""


@query(_SQL_DEDUP)
def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on normalized text (hash-groupBy scale path;
    oracle groups on the normalized text itself)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", tx.clean_text("text").alias("_ct"))
        .groupBy("_ct")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


_SQL_TOKENS = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS total_tokens,
       round(avg(len(regexp_split_to_array(trim(text), '\\s+'))), 6) AS avg_tokens,
       sum(length(text))::BIGINT AS total_chars
FROM documents GROUP BY source
"""


@query(_SQL_TOKENS)
def q_token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source (whitespace tokens + char length)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", tx.token_count("text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


_PII_PLANT_SQL = (
    "text || ' contact user' || doc_id::VARCHAR || '@mail.example.com ref '"
    " || (doc_id * 37 + 100000)::VARCHAR"
    " || ' via https://ex.example.com/t?u=' || doc_id::VARCHAR"
)


_PII_URL = r"https?://\S+"


_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"


_PII_DIGITS = r"[0-9]{6,}"


_SQL_PII_SCRUB = f"""
WITH planted AS (SELECT source, {_PII_PLANT_SQL} AS ptext FROM documents),
scrubbed AS (
  SELECT source, ptext,
         regexp_replace(regexp_replace(regexp_replace(ptext,
           '{_PII_URL}', '<URL>', 'g'),
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_DIGITS}', '<NUM>', 'g') AS stext
  FROM planted
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(ptext, '{_PII_URL}')))::BIGINT AS n_urls,
       sum(len(regexp_extract_all(ptext, '{_PII_EMAIL}')))::BIGINT AS n_emails,
       sum(len(regexp_extract_all(ptext, '{_PII_DIGITS}')))::BIGINT AS n_digit_runs,
       sum(length(ptext) - length(stext))::BIGINT AS chars_removed,
       sum(len(regexp_extract_all(stext, '{_PII_URL}'))
           + len(regexp_extract_all(stext, '{_PII_EMAIL}'))
           + len(regexp_extract_all(stext, '{_PII_DIGITS}')))::BIGINT AS n_residual
FROM scrubbed GROUP BY source ORDER BY source
"""


@query(_SQL_PII_SCRUB)
def q_pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus PII scrub + audit (extension op, same family as
    quality/token stats): deterministic synthetic PII is planted per doc
    (the derived-columns convention — the fixture corpus is PII-free),
    then counted (`text.pii_counts`) and redacted (`text.scrub_pii`).
    Per source: match counts, chars removed, and residual matches after
    the scrub (must be 0). Everything is codegen'd regexp work; the
    oracle replays both the planting and the scrub."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "ptext",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com ref "),
            (F.col("doc_id") * 37 + 100000).cast("string"),
            F.lit(" via https://ex.example.com/t?u="),
            F.col("doc_id").cast("string"),
        ),
    )
    urls, emails, digits = tx.pii_counts("ptext")
    scrubbed = tx.scrub_pii("ptext")
    r_urls, r_emails, r_digits = tx.pii_counts("scrubbed")
    return (
        planted.withColumn("scrubbed", scrubbed)
        .select(
            "source",
            urls.alias("u"),
            emails.alias("e"),
            digits.alias("d"),
            (F.length("ptext") - F.length("scrubbed")).alias("delta"),
            (r_urls + r_emails + r_digits).alias("resid"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("u").alias("n_urls"),
            F.sum("e").alias("n_emails"),
            F.sum("d").alias("n_digit_runs"),
            F.sum("delta").alias("chars_removed"),
            F.sum("resid").alias("n_residual"),
        )
        .orderBy("source")
    )


def _sql_top_keywords() -> str:
    stoplist = ", ".join(f"'{w}'" for w in tx.STOPWORDS)
    return f"""
WITH toks AS (
  SELECT unnest(string_split({_CLEAN_SQL}, ' ')) AS tok FROM documents
)
SELECT tok, count(*)::BIGINT AS n FROM toks
WHERE length(tok) > 3 AND tok NOT IN ({stoplist})
GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 15
"""


@query(_sql_top_keywords())
def q_top_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction (lab4 nb cell 16, json 991 ``extract_keywords``):
    clean → tokenize → stopword + length>3 filter → global top-15 by
    frequency, alphabetical tie-break. Executes as explode → hash agg →
    TakeOrderedAndProject (no global sort materialization)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokens(tx.clean_text("text"))).alias("tok"))
    return (
        toks.filter((F.length("tok") > 3) & ~F.col("tok").isin(tx.STOPWORDS))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(15)
    )


_SQL_LANG = f"""
SELECT lang, {tx.lang_id_oracle_sql('text')} AS pred_lang, count(*)::BIGINT AS n
FROM documents GROUP BY 1, 2
"""


@query(_SQL_LANG, bench=False)
def q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language-ID heuristic vs the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("pred_lang", tx.lang_id("text"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in tx.STOPWORDS) + "]"


_SQL_QUALITY = f"""
WITH q AS (
  SELECT doc_id,
         least(length(text) / 200.0, 1.0) AS len_score,
         1.0 - least(((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                      / greatest(length(text), 1)) * 4, 1.0) AS punct_score,
         (len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                          x -> list_contains({_STOPWORDS_SQL}, x)))::DOUBLE
          / greatest(len(regexp_split_to_array(lower(text), '\\s+')), 1)) AS sw
  FROM documents
)
SELECT doc_id,
       round((len_score + punct_score
              + CASE WHEN sw > 0.05 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) / 3.0, 6) AS quality
FROM q
"""


@query(_SQL_QUALITY)
def q_quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-quality scoring: length/punct/stopword composite per doc."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.quality_score("text").alias("quality"))


_SHINGLES_SQL = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in range(1, greatest(len(toks)-2, 1)+1)])"
)


_SQL_MINHASH_NEAR_DUP = f"""
WITH docs AS (SELECT doc_id, {_CLEAN_SQL} AS ct FROM documents),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM (SELECT doc_id, string_split(ct, ' ') AS toks FROM docs)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shingles, b.shingles))::DOUBLE
           / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM pairs WHERE jaccard >= 0.8
"""


@query(_SQL_MINHASH_NEAR_DUP)
def q_minhash_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection (shingle→minhash→band→bucket-join→
    exact-Jaccard verify). 64 hashes / 32 bands × 2 rows ⇒ candidate
    recall ≈ 1-(1-j²)^32 (>1-1e-13 at j=0.8), so the output equals the
    oracle's brute-force all-pairs Jaccard≥0.8 — LSH is purely the scale
    path (no cross product; integer band-hash shuffle keys)."""
    docs = _t(spark, sf_dir, "documents")
    out = dd.minhash_near_dup_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.8, num_hashes=64, bands=32
    )
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _duckdb_minhash_mins(num_hashes: int) -> str:
    """DuckDB replay of `dd.minhash_signature` over column h: the body
    of the oracles' ``[{mins}] AS sig`` list, same integers."""
    return ", ".join(
        f"min((h * {a} + {b}) % {dd.MINHASH_P})"
        for a, b in dd.minhash_coeffs(num_hashes)
    )


_SQL_LSH_SENSITIVITY = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE doc_id % 3 = 0
),
sh AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
  FROM (
    SELECT doc_id,
           unnest(list_distinct([array_to_string(toks[i:i+1], ' ')
                                 for i in range(1, len(toks))])) AS s
    FROM t WHERE len(toks) >= 2
  )
),
per_doc AS MATERIALIZED (
  SELECT doc_id, [{mins}] AS sig, list_distinct(list(h)) AS hs
  FROM sh GROUP BY doc_id
),
rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 20),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN rare USING (h) JOIN sh b USING (h)
  WHERE a.doc_id < b.doc_id
),
scored AS (
  SELECT p.doc_a, p.doc_b,
         round(len(list_intersect(da.hs, db.hs))::DOUBLE
               / (len(da.hs) + len(db.hs) - len(list_intersect(da.hs, db.hs))),
               6) AS jr,
         da.sig AS sig_a, db.sig AS sig_b
  FROM pairs p
  JOIN per_doc da ON da.doc_id = p.doc_a
  JOIN per_doc db ON db.doc_id = p.doc_b
),
flagged AS (
  SELECT jr,
         CASE WHEN EXISTS (
           SELECT 1 FROM range(0, 8) r(b)
           WHERE sig_a[b * 2 + 1] = sig_b[b * 2 + 1]
             AND sig_a[b * 2 + 2] = sig_b[b * 2 + 2]
         ) THEN 1 ELSE 0 END AS detected,
         1.0 - (((1.0 - jr * jr) * (1.0 - jr * jr))
              * ((1.0 - jr * jr) * (1.0 - jr * jr)))
             * (((1.0 - jr * jr) * (1.0 - jr * jr))
              * ((1.0 - jr * jr) * (1.0 - jr * jr))) AS expected,
         CASE WHEN jr < 0.05 THEN 'j_0.02-0.05'
              WHEN jr < 0.1 THEN 'j_0.05-0.10'
              WHEN jr < 0.2 THEN 'j_0.10-0.20'
              ELSE 'j_0.20-1.00' END AS bucket
  FROM scored WHERE jr >= 0.02
)
SELECT bucket, count(*)::BIGINT AS n_pairs,
       sum(detected)::BIGINT AS n_detected,
       round(sum(detected)::DOUBLE / count(*), 6) AS detect_rate,
       round(sum(round(expected, 6)::DECIMAL(20,10))::DOUBLE / count(*), 6)
         AS expected_rate
FROM flagged GROUP BY bucket ORDER BY bucket
""".format(mins=_duckdb_minhash_mins(16))


@query(_SQL_LSH_SENSITIVITY)
def q_lsh_sensitivity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter-sensitivity report — the tuning artifact a dedup
    operator reads before picking (bands, rows): for every candidate
    pair (docs sharing a ≤20-df 2-gram shingle, exact Jaccard ≥ 0.2),
    compare OBSERVED MinHash-LSH detection (any of 8 bands × 2 rows
    colliding) against the ANALYTIC S-curve 1−(1−j²)⁸, bucketed by
    Jaccard (bands placed at the corpus's actual pair-similarity
    modes: 0.02/0.05/0.1/0.2+). Where the observed rate tracks the
    curve, the sketch is healthy; divergence flags hash skew.

    Fully cross-engine: shingle hash is the md5-prefix bigint (the
    `simhash_docs` idiom — bit-identical in DuckDB), MinHash
    permutations are the package's one (a·h+b) mod P integer family
    (`operators/dedup.minhash_signature`), so the oracle replays the ENTIRE
    sketch — signatures, band collisions, and the S-curve (power by
    explicit multiplication chain; IEEE multiply is correctly rounded,
    so the doubles match bitwise; averages sum in decimal).

    Scale shape: DF-capped inverted-index equi-join (never all-pairs),
    16-min HashAggregate signatures, pair-level column arithmetic.
    Probe modulus doc_id % 3 = 0 bounds the pair volume like the other
    diagnostic probes."""
    sh = dd.bigram_hash_rows(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    )
    # r9 rewrite (guide §2.3 "shuffle keys instead of payloads" / §8):
    # the original carried collect_set(h) hash-set ARRAYS per doc
    # through two pair joins and ran array_intersect per pair, and the
    # md5 shingle subtree was re-evaluated by each of its 4 consumers.
    # Now: (1) sh — (doc_id, h) int rows — lazily checkpoints once;
    # (2) exact Jaccard comes from the same integer co-count equi-join
    # the proven dedup verifier uses (operators/dedup.
    # jaccard_from_shingle_rows): |∩| by (pair ⋈ h) group-count, sizes
    # by per-doc counts. sh is per-doc-distinct STRINGS but h can
    # collide mod P, so set semantics need a (doc_id, h) distinct —
    # `shd` — matching collect_set/array_intersect exactly; `rare`'s df
    # stays on the RAW rows (the oracle counts string-distinct rows).
    # jr = round(inter/(na+nb−inter), 6) — same ints, same double
    # division, bit-identical. Every pair shares its rare shingle's h,
    # so inter ≥ 1 and the joins stay inner.
    sh = sh.localCheckpoint(eager=False)
    shd = sh.select("doc_id", "h").distinct().localCheckpoint(eager=False)
    per_sig = sh.groupBy("doc_id").agg(dd.minhash_signature("h", 16).alias("sig"))
    counts = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= 20)
    capped = sh.join(rare, "h")
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    inter = (
        pairs.join(shd.select(F.col("doc_id").alias("doc_a"), "h"), "doc_a")
        .join(shd.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    joined = (
        inter.join(
            counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na")),
            "doc_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb")),
            "doc_b",
        )
        .withColumn(
            "jr",
            F.round(
                F.col("inter") / (F.col("_na") + F.col("_nb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jr") >= 0.02)
        .join(
            per_sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            per_sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .withColumn(
            "detected",
            F.expr(
                "exists(sequence(0, 7), b -> sig_a[2 * b] = sig_b[2 * b]"
                " AND sig_a[2 * b + 1] = sig_b[2 * b + 1])"
            ).cast("long"),
        )
        .withColumn(
            "expected",
            F.expr(
                "1.0 - (((1.0 - jr * jr) * (1.0 - jr * jr))"
                " * ((1.0 - jr * jr) * (1.0 - jr * jr)))"
                " * (((1.0 - jr * jr) * (1.0 - jr * jr))"
                " * ((1.0 - jr * jr) * (1.0 - jr * jr)))"
            ),
        )
        .withColumn(
            "bucket",
            F.when(F.col("jr") < 0.05, "j_0.02-0.05")
            .when(F.col("jr") < 0.1, "j_0.05-0.10")
            .when(F.col("jr") < 0.2, "j_0.10-0.20")
            .otherwise("j_0.20-1.00"),
        )
    )
    cnt = F.count(F.lit(1))
    return (
        joined.groupBy("bucket")
        .agg(
            cnt.alias("n_pairs"),
            F.sum("detected").alias("n_detected"),
            F.round(F.sum("detected") / cnt, 6).alias("detect_rate"),
            F.round(
                F.sum(
                    F.round("expected", 6).cast("decimal(20,10)")
                ).cast("double")
                / cnt,
                6,
            ).alias("expected_rate"),
        )
        .orderBy("bucket")
    )


_MH_IDX_SHINGLE_CTES = """
t{side} AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE doc_id % 10 {op} 0
),
sh{side} AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
  FROM (
    SELECT doc_id, source,
           unnest(list_distinct([array_to_string(toks[i:i+1], ' ')
                                 for i in range(1, len(toks))])) AS s
    FROM t{side} WHERE len(toks) >= 2
  )
)"""


# Placeholders shared by the three stored-index oracles.
_MH_IDX_SQL = dict(
    base_ctes=_MH_IDX_SHINGLE_CTES.format(side="b", op="!="),
    delta_ctes=_MH_IDX_SHINGLE_CTES.format(side="d", op="=").lstrip(",\n"),
    mins=_duckdb_minhash_mins(_MH_IDX_HASHES),
    bands=_MH_IDX_BANDS,
    tau=_MH_IDX_TAU,
)


_SQL_MINHASH_INDEX_BUILD = """
WITH {base_ctes},
sig AS (
  SELECT doc_id, [{mins}] AS sig FROM shb GROUP BY doc_id
),
rows_ AS (
  SELECT b.range AS band, sig[b.range * 2 + 1] AS m0, sig[b.range * 2 + 2] AS m1
  FROM sig, range({bands}) b
)
SELECT band::INT AS band, count(*)::BIGINT AS n_rows,
       count(DISTINCT (m0, m1))::BIGINT AS n_buckets,
       sum(m0)::BIGINT AS sum_m0, sum(m1)::BIGINT AS sum_m1
FROM rows_ GROUP BY band ORDER BY band
""".format(**_MH_IDX_SQL)


@query(_SQL_MINHASH_INDEX_BUILD)
def q_minhash_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP INDEX AS ARTIFACT — the MinHash-LSH twin of
    `ivfpq_index_build`: sketch the BASE corpus split (doc_id % 10 ≠ 0,
    the already-curated side) ONCE and persist it — band-bucket table
    (doc_id, band, m0, m1) + per-doc shingle-hash sets + meta.json
    (`sources/ann_index.build_minhash_index`, fingerprint-keyed cache).
    The returned manifest is computed FROM THE STORED ARTIFACT (read
    back off disk): per band, the row count, distinct-bucket count, and
    order-free integer sums over the two row-min columns. The oracle
    replays shingling, the md5-prefix hash, and all 16 permutations in
    pure SQL — a hash match proves the persisted sketch bit-equal to a
    from-scratch build. 100 TB shape: sketching is one pass + one
    groupBy; every later ingest batch probes this table instead of
    re-sketching the corpus."""
    bands, _sets, _meta = ann.ensure_minhash_index(
        spark, sf_dir, num_hashes=_MH_IDX_HASHES, bands=_MH_IDX_BANDS,
        split_mod=_MH_IDX_MOD,
    )
    return (
        bands.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("m0", "m1").alias("n_buckets"),
            F.sum("m0").alias("sum_m0"),
            F.sum("m1").alias("sum_m1"),
        )
        .orderBy("band")
    )


def _probe_summary(pairs: DataFrame) -> DataFrame:
    """Per delta-doc source: matched docs, pairs, and the mean and max
    Jaccard of verified (probe_id, source, base_id, jr) probe pairs."""
    return (
        pairs.groupBy("source")
        .agg(
            F.count_distinct("probe_id").alias("n_matched_docs"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("jr").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_jaccard"),
            F.max("jr").alias("max_jaccard"),
        )
        .orderBy("source")
    )


_SQL_NEAR_DUP_PROBE = """
WITH {base_ctes},
{delta_ctes},
sigb AS (
  SELECT doc_id, [{mins}] AS sig, list_distinct(list(h)) AS hs
  FROM shb GROUP BY doc_id
),
sigd AS (
  SELECT doc_id, any_value(source) AS source, [{mins}] AS sig,
         list_distinct(list(h)) AS hs
  FROM shd GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT d.doc_id AS probe_id, b.doc_id AS base_id
  FROM sigd d, sigb b, range({bands}) r
  WHERE d.sig[r.range * 2 + 1] = b.sig[r.range * 2 + 1]
    AND d.sig[r.range * 2 + 2] = b.sig[r.range * 2 + 2]
),
verified AS (
  SELECT d.source,
         c.probe_id,
         round(len(list_intersect(d.hs, b.hs))::DOUBLE
               / (len(d.hs) + len(b.hs) - len(list_intersect(d.hs, b.hs))),
               6) AS jr
  FROM cand c
  JOIN sigd d ON d.doc_id = c.probe_id
  JOIN sigb b ON b.doc_id = c.base_id
)
SELECT source, count(DISTINCT probe_id)::BIGINT AS n_matched_docs,
       count(*)::BIGINT AS n_pairs,
       round(sum(jr::DECIMAL(20,10))::DOUBLE / count(*), 6) AS avg_jaccard,
       max(jr) AS max_jaccard
FROM verified WHERE jr >= {tau}
GROUP BY source ORDER BY source
""".format(**_MH_IDX_SQL)


@query(_SQL_NEAR_DUP_PROBE)
def q_near_dup_probe_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening against the STORED dedup index —
    the build-once/probe-many shape a 100 TB ingest pipeline actually
    runs: each NEW batch (the delta split, doc_id % 10 = 0) is sketched
    with the index's own permutation family, candidates come from an
    integer-tuple equi-join against the persisted band table (never
    all-pairs, base corpus never re-sketched), and survivors are
    exact-verified by hashed-shingle Jaccard against the persisted
    per-doc shingle sets. Output: per delta-doc source, how much of the batch
    duplicates the existing corpus.

    The oracle never sees the artifact: it recomputes BOTH splits from
    the documents table (same md5-prefix hash, same (a·h+b) mod P
    integer permutations, same band-tuple rule, same τ) — a hash match
    proves stored-probe ≡ recompute-from-scratch. avg_jaccard sums
    6dp-quantized values in DECIMAL so reassociation can't flip the
    rounding boundary."""
    bands, base_sets, _meta = ann.ensure_minhash_index(
        spark, sf_dir, num_hashes=_MH_IDX_HASHES, bands=_MH_IDX_BANDS,
        split_mod=_MH_IDX_MOD,
    )
    docs = _t(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % _MH_IDX_MOD == 0).select(
        "doc_id", "source", "text"
    )
    return _probe_summary(_mh_probe_pairs(delta, bands, base_sets))


@query(_SQL_NEAR_DUP_PROBE, bench=False)
def q_streaming_near_dup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 + index-as-artifact — CONTINUOUS ingest screening: the
    document stream's delta split drains through ``foreachBatch``
    (`streaming/ingest.near_dup_probe_stream`); every micro-batch runs
    the stored-index probe (`_mh_probe_pairs` — the exact batch
    pipeline) and appends verified pairs to a parquet sink, base corpus
    never re-sketched, driver never touching pair rows. availableNow
    drain ⇒ the sink re-aggregates to the batch answer, so
    `near_dup_probe_stored`'s DuckDB oracle applies verbatim."""
    with win.scoped_shuffle_partitions(spark):
        pairs = ingest.near_dup_probe_stream(spark, sf_dir, split_mod=_MH_IDX_MOD)
    return _probe_summary(pairs)


_SQL_MINHASH_INDEX_UPSERT = """
WITH {base_ctes},
{delta_ctes},
sigb AS (
  SELECT doc_id, [{mins}] AS sig, list_distinct(list(h)) AS hs
  FROM shb GROUP BY doc_id
),
sigd AS (
  SELECT doc_id, [{mins}] AS sig, list_distinct(list(h)) AS hs
  FROM shd GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT d.doc_id AS probe_id, b.doc_id AS base_id
  FROM sigd d, sigb b, range({bands}) r
  WHERE d.sig[r.range * 2 + 1] = b.sig[r.range * 2 + 1]
    AND d.sig[r.range * 2 + 2] = b.sig[r.range * 2 + 2]
),
matched AS (
  SELECT DISTINCT c.probe_id
  FROM cand c
  JOIN sigd d ON d.doc_id = c.probe_id
  JOIN sigb b ON b.doc_id = c.base_id
  WHERE round(len(list_intersect(d.hs, b.hs))::DOUBLE
              / (len(d.hs) + len(b.hs) - len(list_intersect(d.hs, b.hs))),
              6) >= {tau}
),
unioned AS (
  SELECT doc_id, sig FROM sigb
  UNION ALL
  SELECT doc_id, sig FROM sigd
  WHERE doc_id NOT IN (SELECT probe_id FROM matched)
),
rows_ AS (
  SELECT doc_id, b.range AS band,
         sig[b.range * 2 + 1] AS m0, sig[b.range * 2 + 2] AS m1
  FROM unioned, range({bands}) b
)
SELECT band::INT AS band, count(*)::BIGINT AS n_rows,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(DISTINCT (m0, m1))::BIGINT AS n_buckets,
       sum(m0)::BIGINT AS sum_m0, sum(m1)::BIGINT AS sum_m1
FROM rows_ GROUP BY band ORDER BY band
""".format(**_MH_IDX_SQL)


@query(_SQL_MINHASH_INDEX_UPSERT)
def q_minhash_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL INDEX MAINTENANCE (VERDICT r5 "Next" #4) — the
    dedup-index admission path: the delta split is screened against the
    STORED index (`near_dup_probe_stored`'s probe), and the admitted
    (non-duplicate) docs are sketched with the index's own permutation
    family and APPENDED into a copy of the band + set tables — the
    base corpus is never re-sketched
    (`sources/ann_index.upsert_minhash_index`). The manifest is
    computed FROM THE POST-UPSERT STORED ARTIFACT: per band, row/doc/
    bucket counts and order-free integer sums over the two min columns.
    The oracle replays base sketching, the probe (candidates + exact
    Jaccard ≥ τ), the admission rule, AND the union sketch from the
    documents table alone — a hash match proves
    append ≡ from-scratch rebuild over base ∪ admitted. 100 TB shape:
    per ingest batch, one stored-index probe + append-only parquet of
    the batch's own sketch rows; nothing rescans the corpus."""
    bands, _sets, _meta = ann.ensure_minhash_upsert(
        spark, sf_dir, num_hashes=_MH_IDX_HASHES, bands=_MH_IDX_BANDS,
        split_mod=_MH_IDX_MOD,
    )
    return (
        bands.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count_distinct("m0", "m1").alias("n_buckets"),
            F.sum("m0").alias("sum_m0"),
            F.sum("m1").alias("sum_m1"),
        )
        .orderBy("band")
    )


_SQL_NEAR_DUP_CLUSTERS = f"""
WITH RECURSIVE docs AS (SELECT doc_id, {_CLEAN_SQL} AS ct FROM documents),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM (SELECT doc_id, string_split(ct, ' ') AS toks FROM docs)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
),
edges2 AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM edges2
  UNION
  SELECT e.a, r.r FROM edges2 e JOIN reach r ON r.id = e.b
),
comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
SELECT comp AS cluster_rep, count(*)::BIGINT AS n_members
FROM comp GROUP BY comp ORDER BY cluster_rep
"""


@query(_SQL_NEAR_DUP_CLUSTERS)
def q_near_dup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster census: MinHash-LSH near-dup pairs (Jaccard ≥
    0.8) grouped into duplicate clusters via connected components
    (`operators/dbscan.connected_components` — union-find / min-label
    propagation, size-dispatched). The canonical corpus-dedup shape:
    keep one representative per component, not per pair. Output one row
    per cluster (rep = min doc_id, n_members ≥ 2). Oracle replays
    brute-force pairs + a recursive-CTE reachability closure."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_near_dup_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.8, num_hashes=64, bands=32
    )
    comp = dbscan.connected_components(pairs, "doc_a", "doc_b")
    return (
        comp.groupBy(F.col("comp").alias("cluster_rep"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster_rep")
    )


_SQL_CORPUS_PIPELINE = f"""
WITH docs0 AS (SELECT doc_id, source, text, {_CLEAN_SQL} AS ct FROM documents),
keep AS (SELECT min(doc_id) AS doc_id FROM docs0 GROUP BY ct),
uniq AS (SELECT d.doc_id, d.source, d.text, d.ct FROM docs0 d JOIN keep k USING (doc_id)),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM (SELECT doc_id, string_split(ct, ' ') AS toks FROM uniq)
),
dup_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
),
survivors AS (
  SELECT * FROM uniq WHERE doc_id NOT IN (SELECT doc_b FROM dup_pairs)
),
q AS (
  SELECT source, text,
         least(length(text) / 200.0, 1.0) AS len_score,
         1.0 - least(((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                      / greatest(length(text), 1)) * 4, 1.0) AS punct_score,
         (len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                          x -> list_contains({_STOPWORDS_SQL}, x)))::DOUBLE
          / greatest(len(regexp_split_to_array(lower(text), '\\s+')), 1)) AS sw
  FROM survivors
),
scored AS (
  SELECT source, text,
         round((len_score + punct_score
          + CASE WHEN sw > 0.05 AND sw < 0.6 THEN 1.0 ELSE 0.5 END) / 3.0, 6) AS quality
  FROM q
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS total_tokens,
       round(sum(quality::DECIMAL(20,10))::DOUBLE / count(*), 6) AS avg_quality
FROM scored WHERE quality >= 0.8
GROUP BY source ORDER BY source
"""


@query(_SQL_CORPUS_PIPELINE)
def q_training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data pipeline, end-to-end in ONE lazy DAG:
    raw documents → exact dedup (keep min doc_id per normalized text)
    → near-dup removal (MinHash+LSH pairs at Jaccard ≥ 0.8; a doc is
    dropped when dominated by ANY lower-id near-duplicate — the
    deterministic keep-min rule, no iterative CC needed) → quality
    gate (composite score ≥ 0.8) → per-source corpus stats.

    Scale shape: every stage is a key shuffle or anti-join on bigint
    doc_id — text leaves the executors only as hashes; the LSH
    candidate join is the one quadratic-risk step and it's banded
    (integer bucket keys), never all-pairs. The oracle replays the
    whole pipeline with brute-force near-dup pairs (LSH recall at
    j≥0.8 is 1-(1-j²)^32 → exact at this threshold)."""
    docs = _t(spark, sf_dir, "documents")
    # keep-list checkpoint (r9, guide §5): `uniq` is consumed twice
    # (the near-dup pair pipeline and the survivor anti-join), so the
    # exact-dedup clean_text + groupBy subtree behind it ran TWICE.
    # Materializing the keep ids — bigints, the smallest possible proxy
    # for the dedup decision (guide §8) — runs it once; the two
    # downstream semi-joins read the checkpoint.
    keep = (
        docs.select("doc_id", tx.clean_text("text").alias("_ct"))
        .groupBy("_ct")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    uniq = docs.join(keep, "doc_id", "left_semi")
    pairs = dd.minhash_near_dup_pairs(
        uniq, "text", "doc_id", jaccard_threshold=0.8, num_hashes=64, bands=32
    )
    dominated = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = uniq.join(dominated, "doc_id", "left_anti")
    good = survivors.withColumn("quality", tx.quality_score("text")).filter(
        F.col("quality") >= 0.8
    )
    # avg over decimal, not double: per-doc qualities are bit-identical
    # across engines, but a double SUM is association-order-dependent
    # and /3-style rationals park the 6-dp rounding exactly on
    # boundaries (5/20 sources flipped when this was avg(double)).
    # Decimal summation is exact and order-free in both engines.
    qdec = F.col("quality").cast("decimal(20,10)")
    return (
        good.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tx.token_count("text")).alias("total_tokens"),
            F.round(
                F.sum(qdec).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


def _sql_simhash() -> str:
    bit_cols = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(dd.SIMHASH_BITS)
    )
    recombine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(dd.SIMHASH_BITS)
    )
    return f"""
WITH docs AS (SELECT doc_id, {_CLEAN_SQL} AS ct FROM documents),
toks AS (SELECT doc_id, unnest(string_split(ct, ' ')) AS tok FROM docs),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
bits AS (SELECT doc_id, {bit_cols} FROM hashed GROUP BY doc_id)
SELECT doc_id, ({recombine})::BIGINT AS simhash FROM bits
"""


@query(_sql_simhash(), bench=False)
def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (60-bit sign-sum over token md5-prefix
    bits). The md5-prefix hash is bit-identical in DuckDB, so the
    oracle recomputes the exact fingerprints; the hamming-distance
    contract is additionally pytest-verified (tests/test_operators.py)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash60(docs, "text", "doc_id")


_SQL_NGRAM_JACCARD = f"""
WITH docs AS (SELECT doc_id, {_CLEAN_SQL} AS ct FROM documents),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM (SELECT doc_id, string_split(ct, ' ') AS toks FROM docs)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shingles, b.shingles))::DOUBLE
           / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM pairs WHERE jaccard >= 0.5
"""


@query(_SQL_NGRAM_JACCARD)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs word-3-gram Jaccard ≥ 0.5 via an inverted
    shingle index (integer-keyed equi-join; no cross product). The
    exact counterpart of minhash_near_dup_docs at a looser threshold;
    oracle is brute-force all-pairs Jaccard."""
    docs = _t(spark, sf_dir, "documents")
    out = dd.ngram_jaccard_all_pairs(docs, "text", "doc_id", threshold=0.5)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


_SQL_FINGERPRINT = f"""
WITH g AS (
  SELECT {_CLEAN_SQL} AS ct, count(*)::BIGINT AS n
  FROM documents GROUP BY 1
)
SELECT sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_distinct,
       sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
       sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS n_dup_docs,
       max(n)::BIGINT AS max_group
FROM g
"""


@query(_SQL_FINGERPRINT, bench=False)
def q_doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level fingerprint census: 64-bit content fingerprints
    (xxhash64 of normalized text, functions.text.fingerprint64) →
    distinct-fingerprint and duplicate-group stats. The oracle groups
    on the normalized text itself, so a hash-match certifies the
    fingerprint is collision-free and normalization-equivalent on this
    corpus."""
    docs = _t(spark, sf_dir, "documents")
    groups = (
        docs.select(tx.fingerprint64("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return groups.agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("n_dup_docs"),
        F.max("n").alias("max_group"),
    )


# --------------------------------------------------------------------------
# Embeddings / similarity search
# --------------------------------------------------------------------------

_SQL_EMB_NEAR_DUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM e a, e b WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.45
"""


@query(_SQL_EMB_NEAR_DUP, bench=False)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.45), EXACT baseline —
    the oracle anchor for srp_near_dup_pairs. Explicit ``exact=True``
    through the size-guarded operator (ValueError past 100k rows unless
    forced), so the O(n²) plan is unreachable by accident; the default
    SRP-LSH path is the production shape."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return sim.embedding_near_dup_pairs(emb, 0.45, _srp_tables(), exact=True).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def _sql_srp_bits(planes: list[list[float]], col: str = "v") -> str:
    """DuckDB replay of the SRP signature of ``col``: bit i is set when
    its dot product with ``planes[i]`` is positive."""
    return " + ".join(
        f"(CASE WHEN list_inner_product({col}, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def _sql_srp_near_dup() -> str:
    # 8 planes/table (256 buckets) — near-dup pair generation needs
    # finer buckets than the 4-bit top-k tables: candidate volume is
    # sum of squared bucket sizes, and recall for true near-dups
    # (cosine >= 0.9, p_bit ~ 0.9) stays >= 0.999 across 8 tables.
    tables = _srp_tables(8, 8)
    selects = []
    for planes in tables:
        sig_terms = _sql_srp_bits(planes)
        selects.append(
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b\n"
            f"  FROM (SELECT vec_id, {sig_terms} AS s FROM emb) a\n"
            f"  JOIN (SELECT vec_id, {sig_terms} AS s FROM emb) b ON a.s = b.s\n"
            f"  WHERE a.vec_id < b.vec_id"
        )
    cand = "\nUNION\n".join(selects)
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cand AS (
{cand}
),
pairs AS (
  SELECT c.id_a, c.id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM cand c JOIN emb a ON a.vec_id = c.id_a JOIN emb b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM pairs WHERE cosine >= 0.45
"""


def _srp_planes(n_planes: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG over plane·dim
    index) — exact dyadic rationals, so both Spark literals and the
    DuckDB oracle's list literals round-trip bit-exactly."""
    return [
        [(((1103515245 * (p * dim + d) + 12345) % 2147483648) / 2147483648.0) - 0.5
         for d in range(dim)]
        for p in range(n_planes)
    ]


def _srp_tables(n_tables: int = 8, n_planes: int = 4) -> list[list[list[float]]]:
    """L independent deterministic 64-d plane sets = the 32-plane LCG
    stream chunked into 8 tables of 4 bits (same dyadic-rational
    construction as _srp_planes, so both engines round-trip
    bit-exactly)."""
    flat = _srp_planes(n_tables * n_planes, 64)
    return [flat[t * n_planes : (t + 1) * n_planes] for t in range(n_tables)]


@query(_sql_srp_near_dup())
def q_srp_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the DEFAULT scale path: 8-table SRP-LSH
    banding equi-join candidates → exact cosine ≥ 0.45 verify — no
    cross product anywhere (VERDICT r1 #4 fix). Deterministic planes ⇒
    the oracle independently recomputes every bucket and the candidate
    union, making the approximate result value-checked end-to-end;
    recall vs the exact baseline is pytest-asserted separately."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return sim.embedding_near_dup_pairs(emb, 0.45, _srp_tables(8, 8)).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


_SPLIT_CAP = 16


def _sql_srp_near_dup_split() -> str:
    tables = _srp_tables(4, 2)
    dim = 64
    split = sim._split_planes(sim._SPLIT_MAX_EXTRA, dim)
    sig_selects = []
    for t, planes in enumerate(tables):
        sig_terms = _sql_srp_bits(planes)
        sig_selects.append(
            f"SELECT {t} AS t, vec_id, CAST({sig_terms} AS BIGINT) AS sig FROM emb"
        )
    banded = "\nUNION ALL\n".join(sig_selects)
    ext_terms = _sql_srp_bits(split, col="cv")
    mu_cols = ", ".join(
        f"CAST(sum(CAST(v[{d + 1}] AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS mu{d}"
        for d in range(dim)
    )
    cv_list = ", ".join(f"v[{d + 1}] - m.mu{d}" for d in range(dim))
    return f"""
WITH emb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
banded AS MATERIALIZED (
{banded}
),
occ AS (SELECT t, sig, count(*) AS _occ FROM banded GROUP BY t, sig),
hot AS (
  SELECT t, sig,
         CAST(least({sim._SPLIT_MAX_EXTRA},
                    ceil(log2(_occ / {float(_SPLIT_CAP)!r}))) AS INT) AS _extra
  FROM occ WHERE _occ > {_SPLIT_CAP}
),
m AS (SELECT {mu_cols} FROM emb),
cvv AS MATERIALIZED (SELECT vec_id, [{cv_list}] AS cv FROM emb, m),
ext AS MATERIALIZED (SELECT vec_id, CAST({ext_terms} AS BIGINT) AS efull FROM cvv),
keyed AS MATERIALIZED (
  SELECT b.vec_id, b.t,
         COALESCE(h._extra, 0) AS depth,
         CASE WHEN h._extra IS NULL THEN b.sig
              ELSE b.sig * (1::BIGINT << h._extra)
                   + (e.efull % (1::BIGINT << h._extra)) END AS sig
  FROM banded b
  LEFT JOIN hot h ON h.t = b.t AND h.sig = b.sig
  JOIN ext e ON e.vec_id = b.vec_id
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b
    ON a.t = b.t AND a.depth = b.depth AND a.sig = b.sig
  WHERE a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM cand c JOIN emb a ON a.vec_id = c.id_a JOIN emb b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM pairs WHERE cosine >= 0.35
"""


@query(_sql_srp_near_dup_split())
def q_srp_near_dup_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-adaptive SRP-LSH near-dup (r7): deliberately COARSE tables
    (4 × 2 planes → 4 buckets/table, every bucket hot at any sf) so the
    bucket_cap path must engage — occupancy census, ceil(log2(occ/16))
    extra signature bits from the splitmix64 plane family over
    mean-centered vectors, candidate join on (table, depth, extended
    sig), exact cosine verify. The oracle replays ALL of it: base
    signatures from the same plane literals, the occupancy census, the
    decimal-sum mean, the centered extension bits, the depth-keyed
    join, and the verify — making the skew-split operator itself
    value-checked cross-engine, not just pytest-bounded."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return sim.embedding_near_dup_pairs(
        emb, 0.35, _srp_tables(4, 2), bucket_cap=_SPLIT_CAP
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _sql_srp() -> str:
    planes = _srp_planes()
    sig_terms = _sql_srp_bits(planes)
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT vec_id, v, {sig_terms} AS srp_sig FROM emb),
pairs AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, b.v) AS cosine
  FROM sig q JOIN sig b ON q.srp_sig = b.srp_sig AND q.vec_id <> b.vec_id
  WHERE q.vec_id < 32
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS sim_rank
  FROM pairs
) WHERE sim_rank <= 5
"""


@query(_sql_srp(), bench=False)
def q_srp_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: signed-random-projection buckets → equi-join →
    exact rerank. The planes are deterministic literals, so the oracle
    recomputes the SAME buckets independently (DuckDB
    list_inner_product sign bits) and the approximate result is
    value-checked end-to-end, not just rows-only. Rank omitted from
    the output so fp tie-ordering can't flip rows; per-query recall vs
    the exact baseline is additionally pytest-verified."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 32)
    return sim.cosine_topk_srp(queries, emb, k=5, planes=_srp_planes()).select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


_SQL_IVF = """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
dims AS (SELECT unnest(range(1, len(v) + 1)) AS i, vec_id FROM emb),
centers AS (
  SELECT label AS cell, list(m ORDER BY i) AS c
  FROM (
    SELECT e.label, d.i, avg(e.v[d.i]) AS m
    FROM emb e JOIN dims d USING (vec_id)
    GROUP BY e.label, d.i
  ) GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.v, c.cell,
         list_cosine_similarity(e.v, c.c) AS cs,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.v, c.c) DESC, c.cell ASC) AS rn
  FROM emb e CROSS JOIN centers c
),
cells AS (SELECT vec_id AS neighbor_id, v AS bv, cell FROM scored WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, v AS qv, cell FROM scored WHERE rn <= 3 AND vec_id % 25 = 0),
pairs AS (
  SELECT p.query_id, b.neighbor_id,
         list_cosine_similarity(p.qv, b.bv) AS cosine
  FROM probes p JOIN cells b USING (cell)
  WHERE b.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS sim_rank
  FROM pairs
) WHERE sim_rank <= 5
"""


@query(_SQL_IVF)
def q_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: per-label centroid coarse quantizer → each query
    probes its 3 nearest cells → exact cosine rerank inside the probed
    cells (top-5). Fully deterministic (centroids are per-label means),
    so unlike SRP this approximate path is oracle-checked end-to-end:
    the DuckDB SQL replicates quantize→probe→rerank exactly. Rank is
    omitted from the output so fp tie-ordering can't flip rows."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centers = sim.label_centroids(emb, "embedding", "label")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = sim.cosine_topk_ivf(queries, emb, k=5, centers=centers, nprobe=3)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


def _sql_srp_multi_cand() -> str:
    """Candidate-pair CTE text for the multi-table SRP oracle."""
    tables = _srp_tables()
    selects = []
    for planes in tables:
        sig_terms = _sql_srp_bits(planes)
        selects.append(
            f"SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id\n"
            f"  FROM (SELECT vec_id, {sig_terms} AS s FROM emb WHERE vec_id < 32) q\n"
            f"  JOIN (SELECT vec_id, {sig_terms} AS s FROM emb) b ON q.s = b.s\n"
            f"  WHERE q.vec_id <> b.vec_id"
        )
    return "\nUNION\n".join(selects)


def _sql_srp_multi() -> str:
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cand AS (
{_sql_srp_multi_cand()}
),
pairs AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(q.v, b.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM cand c JOIN emb q ON q.vec_id = c.query_id JOIN emb b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM ranked WHERE rn <= 5
"""


@query(_sql_srp_multi())
def q_srp_multi_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SRP-LSH ANN (8 tables × 4 bits): union of per-table
    bucket candidates → exact rerank. The recall amplification over the
    single-table path is measured by `ann_recall`; the oracle
    recomputes every table's buckets and the candidate union."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 32)
    return sim.cosine_topk_srp_multi(
        queries, emb, k=5, tables=_srp_tables()
    ).select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))


_PQ_M, _PQ_K, _PQ_ITERS, _PQ_SCALE, _PQ_DIM = 8, 4, 2, 1000, 64


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return emb, sim.pq_train(
        emb, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, scale=_PQ_SCALE
    )


def _sql_pq_block_ctes(b: int, train_where: str = "", encode_split: bool = False) -> str:
    """Per-block Lloyd replay CTEs over scaled-int sub-coordinates: the
    block's codebook is ``pq{b}_c{_PQ_ITERS}`` and its codes ``code{b}``.
    ``train_where`` restricts the TRAINING rows (e.g. the base split in
    the upsert replay); with ``encode_split`` the code{b} CTE encodes
    ALL rows (ke{b}) with the split-trained codebook instead of just
    the training rows."""
    dsub = _PQ_DIM // _PQ_M
    cols = [f"c{j}" for j in range(dsub)]
    int_cols = ", ".join(
        f"CAST(round(embedding[{b * dsub + j + 1}]::DOUBLE * {_PQ_SCALE}) AS BIGINT) AS c{j}"
        for j in range(dsub)
    )
    parts = [
        f"kp{b} AS (SELECT vec_id AS id, {int_cols} FROM embeddings {train_where})",
        _sql_lloyd_ctes(f"kp{b}", cols, _PQ_K, _PQ_ITERS, pre=f"pq{b}_"),
    ]
    enc_src = f"ke{b}" if encode_split else f"kp{b}"
    if encode_split:
        parts.append(f"ke{b} AS (SELECT vec_id AS id, {int_cols} FROM embeddings)")
    nearest = _sql_nearest(enc_src, cols, f"pq{b}_c{_PQ_ITERS}", ["id"], "code")
    parts.append(f"code{b} AS ({nearest})")
    return ",\n".join(parts)


def _sql_pq_codes() -> str:
    dsub = _PQ_DIM // _PQ_M
    blocks = ",\n".join(_sql_pq_block_ctes(b) for b in range(_PQ_M))
    norm = " + ".join(f"c{j} * c{j}" for j in range(dsub))
    unions = "\nUNION ALL\n".join(
        f"SELECT {b} AS block, g.code, g.n, round(sqrt({norm}), 6) AS centroid_norm\n"
        f"FROM (SELECT code, count(*)::BIGINT AS n FROM code{b} GROUP BY code) g\n"
        f"JOIN pq{b}_c{_PQ_ITERS} c ON c.cid = g.code"
        for b in range(_PQ_M)
    )
    return f"WITH {blocks}\n{unions}\nORDER BY block, code"


@query(_sql_pq_codes(), bench=False)
def q_pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index family #3 — product quantization (Jégou et al. 2011):
    8 per-block codebooks (k=4, 8 dims each) trained with the exact
    integer Lloyd on scaled sub-coordinates, every vector encoded as 8
    code ids. Output: per-(block, code) population + centroid norm.
    The oracle re-trains ALL codebooks (per-block Lloyd iterations as
    unrolled CTEs) and re-encodes every vector — training, assignment,
    and centroid arithmetic are value-checked end-to-end."""
    emb, cbs = _pq_codebooks(spark, sf_dir)
    codes = sim.pq_encode(emb, cbs, scale=_PQ_SCALE)
    parts = []
    for b in range(_PQ_M):
        norm_map = F.create_map(
            *[
                F.lit(v)
                for c, ctr in enumerate(cbs[b])
                for v in (c, math.sqrt(sum(x * x for x in ctr)))
            ]
        )
        parts.append(
            codes.groupBy(F.col(f"code_{b}").alias("code"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(b).alias("block"),
                "code",
                "n",
                F.round(norm_map[F.col("code")], 6).alias("centroid_norm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("block", "code")


def _sql_pq_adc() -> str:
    dsub = _PQ_DIM // _PQ_M
    blocks = ",\n".join(_sql_pq_block_ctes(b) for b in range(_PQ_M))
    qcols = ", ".join(
        f"CAST(round(embedding[{d + 1}]::DOUBLE * {_PQ_SCALE}) AS BIGINT) AS q{d}"
        for d in range(_PQ_DIM)
    )
    code_joins = "\n  ".join(
        f"JOIN code{b} cd{b} ON cd{b}.id = b.vec_id"
        f" JOIN pq{b}_c{_PQ_ITERS} cc{b} ON cc{b}.cid = cd{b}.code"
        for b in range(_PQ_M)
    )
    terms = []
    for b in range(_PQ_M):
        for j in range(dsub):
            d = b * dsub + j
            terms.append(f"(q.q{d}::DOUBLE - cc{b}.c{j}) * (q.q{d}::DOUBLE - cc{b}.c{j})")
    dist = " + ".join(terms)
    return f"""
WITH {blocks},
q AS (SELECT vec_id AS query_id, {qcols} FROM embeddings WHERE vec_id < 32),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id, {dist} AS adc_dist
  FROM embeddings b
  {code_joins}
  CROSS JOIN q
  WHERE q.query_id <> b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS pq_rank
  FROM pairs
)
SELECT query_id, neighbor_id, round(adc_dist, 4) AS adc_dist, pq_rank
FROM ranked WHERE pq_rank <= 5
"""


@query(_sql_pq_adc(), bench=False)
def q_pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search: queries (vec_id < 32) against the
    PQ-encoded base — per pair Σ_b ‖q_b − C_b[code_b]‖² in the scaled
    space via element_at into literal centroid arrays (all codegen),
    top-5 per query. The oracle re-trains the codebooks, re-encodes the
    base, and recomputes every ADC distance."""
    emb, cbs = _pq_codebooks(spark, sf_dir)
    codes = sim.pq_encode(emb, cbs, scale=_PQ_SCALE)
    queries = emb.filter(F.col("vec_id") < 32)
    out = sim.pq_adc_topk(queries, codes, cbs, k=5, scale=_PQ_SCALE)
    return out.select(
        "query_id", "neighbor_id", F.round("adc_dist", 4).alias("adc_dist"), "pq_rank"
    )


def _sql_ivfpq() -> str:
    dsub = _PQ_DIM // _PQ_M
    blocks = ",\n".join(_sql_pq_block_ctes(b) for b in range(_PQ_M))
    qcols = ", ".join(
        f"CAST(round(embedding[{d + 1}]::DOUBLE * {_PQ_SCALE}) AS BIGINT) AS q{d}"
        for d in range(_PQ_DIM)
    )
    code_joins = "\n  ".join(
        f"JOIN code{b} cd{b} ON cd{b}.id = b.vec_id"
        f" JOIN pq{b}_c{_PQ_ITERS} cc{b} ON cc{b}.cid = cd{b}.code"
        for b in range(_PQ_M)
    )
    terms = []
    for b in range(_PQ_M):
        for j in range(dsub):
            d = b * dsub + j
            terms.append(f"(q.q{d}::DOUBLE - cc{b}.c{j}) * (q.q{d}::DOUBLE - cc{b}.c{j})")
    dist = " + ".join(terms)
    return f"""
WITH {blocks},
iemb AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
idims AS (SELECT unnest(range(1, len(v) + 1)) AS i, vec_id FROM iemb),
icenters AS (
  SELECT label AS cell, list(m ORDER BY i) AS c
  FROM (
    SELECT e.label, d.i, avg(e.v[d.i]) AS m
    FROM iemb e JOIN idims d USING (vec_id)
    GROUP BY e.label, d.i
  ) GROUP BY label
),
iscored AS (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, c.c) DESC, c.cell ASC) AS rn
  FROM iemb e CROSS JOIN icenters c
),
icells AS (SELECT vec_id, cell FROM iscored WHERE rn = 1),
iprobes AS (SELECT vec_id AS query_id, cell FROM iscored
            WHERE rn <= 3 AND vec_id % 25 = 0),
q AS (SELECT vec_id AS query_id, {qcols} FROM embeddings WHERE vec_id % 25 = 0),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id, {dist} AS adc_dist
  FROM embeddings b
  {code_joins}
  JOIN icells cl ON cl.vec_id = b.vec_id
  JOIN iprobes p ON p.cell = cl.cell
  JOIN q ON q.query_id = p.query_id
  WHERE q.query_id <> b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dist ASC, neighbor_id ASC) AS pq_rank
  FROM pairs
)
SELECT query_id, neighbor_id, round(adc_dist, 4) AS adc_dist, pq_rank
FROM ranked WHERE pq_rank <= 5
"""


@query(_sql_ivfpq(), bench=False)
def q_ivfpq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index probe (the FAISS ``IVFPQ`` layout — the
    production 100 TB ANN shape): the label-centroid coarse quantizer
    restricts each query (vec_id % 25 = 0) to its 3 nearest cells, and
    ranking INSIDE the probed cells uses the PQ codes' asymmetric
    distance — the search never touches raw base vectors, only m=8
    2-bit codes per vector. Top-5 per query by (adc_dist, neighbor_id).
    The oracle replays codebook training, encoding, coarse assignment,
    the probe restriction, and every ADC distance in pure SQL."""
    emb, cbs = _pq_codebooks(spark, sf_dir)
    codes = sim.pq_encode(emb, cbs, scale=_PQ_SCALE)
    centers = sim.label_centroids(emb, "embedding", "label")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = sim.ivfpq_topk(
        queries, emb, codes, cbs, k=5, centers=centers, nprobe=3, scale=_PQ_SCALE
    )
    return out.select(
        "query_id", "neighbor_id", F.round("adc_dist", 4).alias("adc_dist"), "pq_rank"
    )


_SQL_IVF_CELL_CTES = """
iemb AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
idims AS (SELECT unnest(range(1, len(v) + 1)) AS i, vec_id FROM iemb),
icenters AS (
  SELECT label AS cell, list(m ORDER BY i) AS c
  FROM (
    SELECT e.label, d.i, avg(e.v[d.i]) AS m
    FROM iemb e JOIN idims d USING (vec_id)
    GROUP BY e.label, d.i
  ) GROUP BY label
),
iscored AS (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, c.c) DESC, c.cell ASC) AS rn
  FROM iemb e CROSS JOIN icenters c
),
icells AS (SELECT vec_id, cell FROM iscored WHERE rn = 1)
"""


def _sql_ivfpq_build() -> str:
    blocks = ",\n".join(_sql_pq_block_ctes(b) for b in range(_PQ_M))
    code_joins = "\n  ".join(
        f"JOIN code{b} cd{b} ON cd{b}.id = e.vec_id" for b in range(_PQ_M)
    )
    ck = " + ".join(f"cd{b}.code * {4 ** b}" for b in range(_PQ_M))
    return f"""
WITH {blocks},
{_SQL_IVF_CELL_CTES.strip()},
percode AS (
  SELECT cl.cell, ({ck})::BIGINT AS ck
  FROM embeddings e
  {code_joins}
  JOIN icells cl ON cl.vec_id = e.vec_id
)
SELECT cell, count(*)::BIGINT AS n_vecs, sum(ck)::BIGINT AS codes_checksum
FROM percode GROUP BY cell ORDER BY cell
"""


@query(_sql_ivfpq_build())
def q_ivfpq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-AS-ARTIFACT build (VERDICT r4 "Next" #2): train the IVF-PQ
    index ONCE and persist it — codes parquet (m+2 small ints per
    vector: neighbor_id, coarse cell, 8 PQ code ids) + meta.json
    (centers, codebooks, params, data fingerprint) under
    spark-warehouse/ann_index/ (`sources/ann_index.py`). The returned
    manifest is computed FROM THE STORED ARTIFACT (read back off disk,
    never from the in-memory build): per coarse cell, the vector count
    and an order-free integer checksum Σ_vec Σ_b code_b·4^b over the
    stored codes. The oracle replays codebook training, encoding, and
    coarse assignment in pure SQL — a hash match proves the persisted
    artifact is bit-equal to a from-scratch train, i.e. the store/load
    cycle is lossless. 100 TB shape: this is the amortized build step —
    training is 1+iters distributed jobs, encode+assign are map-only,
    and the artifact scan afterwards is a few ints per vector."""
    codes, _centers, _cbs, _meta = ann.ensure_ivfpq_index(
        spark, sf_dir, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K,
        iters=_PQ_ITERS, scale=_PQ_SCALE,
    )
    checksum = None
    for b in range(_PQ_M):
        term = F.col(f"code_{b}").cast("bigint") * F.lit(4 ** b).cast("bigint")
        checksum = term if checksum is None else checksum + term
    return (
        codes.withColumn("_ck", checksum)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("_ck").alias("codes_checksum"),
        )
        .orderBy("cell")
    )


_PQ_UPSERT_MOD = 10


def _sql_ivfpq_upsert() -> str:
    blocks = ",\n".join(
        _sql_pq_block_ctes(
            b, train_where=f"WHERE vec_id % {_PQ_UPSERT_MOD} != 0",
            encode_split=True,
        )
        for b in range(_PQ_M)
    )
    code_joins = "\n  ".join(
        f"JOIN code{b} cd{b} ON cd{b}.id = e.vec_id" for b in range(_PQ_M)
    )
    ck = " + ".join(f"cd{b}.code * {4 ** b}" for b in range(_PQ_M))
    return f"""
WITH {blocks},
iemb AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
         WHERE vec_id % {_PQ_UPSERT_MOD} != 0),
idims AS (SELECT unnest(range(1, len(v) + 1)) AS i, vec_id FROM iemb),
icenters AS (
  SELECT label AS cell, list(m ORDER BY i) AS c
  FROM (
    SELECT e.label, d.i, avg(e.v[d.i]) AS m
    FROM iemb e JOIN idims d USING (vec_id)
    GROUP BY e.label, d.i
  ) GROUP BY label
),
aemb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
iscored AS (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, c.c) DESC, c.cell ASC) AS rn
  FROM aemb e CROSS JOIN icenters c
),
icells AS (SELECT vec_id, cell FROM iscored WHERE rn = 1),
percode AS (
  SELECT cl.cell, ({ck})::BIGINT AS ck,
         (e.vec_id % {_PQ_UPSERT_MOD} = 0)::BIGINT AS is_new
  FROM embeddings e
  {code_joins}
  JOIN icells cl ON cl.vec_id = e.vec_id
)
SELECT cell, count(*)::BIGINT AS n_vecs, sum(is_new)::BIGINT AS n_new,
       sum(ck)::BIGINT AS codes_checksum
FROM percode GROUP BY cell ORDER BY cell
"""


@query(_sql_ivfpq_upsert())
def q_ivfpq_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL INDEX MAINTENANCE (VERDICT r5 "Next" #4) — the
    vector-index admission path: the base split (vec_id % 10 ≠ 0) is
    trained + encoded once and persisted; the delta split is then
    encoded with the STORED codebooks and coarse centers (map-only, no
    retrain) and appended to a copy of the code table, with a drift
    counter in meta that flips ``retrain_due`` past 50% appended
    (`sources/ann_index.upsert_ivfpq_index`). The manifest is computed
    FROM THE POST-UPSERT STORED ARTIFACT: per coarse cell, total
    vectors, how many arrived via upsert, and the order-free
    Σ code_b·4^b checksum. The oracle replays base-split training +
    whole-table encoding in pure SQL — a hash match proves
    append-with-stored-codebooks ≡ from-scratch
    encode-with-base-codebooks, i.e. admission is lossless. 100 TB
    shape: ingest batches cost one map-side encode + an append; the
    retrain trigger bounds quantization drift."""
    codes, _centers, _cbs, _meta = ann.ensure_ivfpq_upsert(
        spark, sf_dir, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K,
        iters=_PQ_ITERS, scale=_PQ_SCALE, split_mod=_PQ_UPSERT_MOD,
    )
    checksum = None
    for b in range(_PQ_M):
        term = F.col(f"code_{b}").cast("bigint") * F.lit(4 ** b).cast("bigint")
        checksum = term if checksum is None else checksum + term
    return (
        codes.withColumn("_ck", checksum)
        .withColumn(
            "_new", (F.col("neighbor_id") % _PQ_UPSERT_MOD == 0).cast("bigint")
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("_new").alias("n_new"),
            F.sum("_ck").alias("codes_checksum"),
        )
        .orderBy("cell")
    )


@query(_sql_ivfpq())
def q_ivfpq_probe_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-from-STORED-index — the build-once/probe-many production
    shape: load the persisted IVF-PQ artifact (build if absent/stale;
    `sources/ann_index.py`), then run the same top-5 ADC search as
    `ivfpq_topk_embeddings` against the stored code table, with the
    raw base vectors never loaded. Shares the full-replay oracle with
    the retrain-inline path, so a green check proves
    stored-probe ≡ retrain-inline bit-for-bit (same ADC distances,
    same ranks). At scale the probe is a parquet scan of the code
    table (m+2 ints/vector) + one integer-cell equi-join against the
    broadcast query side."""
    codes, centers, cbs, _meta = ann.ensure_ivfpq_index(
        spark, sf_dir, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K,
        iters=_PQ_ITERS, scale=_PQ_SCALE,
    )
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = sim.ivfpq_probe(
        queries, codes, cbs, centers, k=5, nprobe=3, scale=_PQ_SCALE
    )
    return out.select(
        "query_id", "neighbor_id", F.round("adc_dist", 4).alias("adc_dist"), "pq_rank"
    )


_SEMDEDUP_K, _SEMDEDUP_ITERS, _SEMDEDUP_TAU = 8, 2, 0.45


def _sql_semdedup() -> str:
    cols = [f"c{d}" for d in range(64)]
    int_cols = ", ".join(
        f"CAST(round(embedding[{d + 1}]::DOUBLE * 1000) AS BIGINT) AS c{d}" for d in range(64)
    )
    parts = [
        f"kp AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, {int_cols} FROM embeddings)",
        _sql_lloyd_ctes("kp", cols, _SEMDEDUP_K, _SEMDEDUP_ITERS),
        f"lab AS ({_sql_nearest('kp', cols, f'c{_SEMDEDUP_ITERS}', ['id', 'v'], 'cluster')})",
    ]
    parts.append(
        f"""removed AS (
  SELECT DISTINCT b.cluster, b.id
  FROM lab b JOIN lab a ON a.cluster = b.cluster AND a.id < b.id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {_SEMDEDUP_TAU}
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT l.cluster, count(*)::BIGINT AS n,
       sum(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       round(1 - sum(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS keep_rate
FROM lab l LEFT JOIN removed r ON r.cluster = l.cluster AND r.id = l.id
GROUP BY l.cluster ORDER BY l.cluster
"""


@query(_sql_semdedup())
def q_semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    the embedding space (exact replayable Lloyd, k=8, scaled-int
    coords), then WITHIN each cluster remove any vector whose cosine to
    a lower-id cluster-mate is ≥ τ — pairwise work is confined to
    clusters, the property that makes semantic dedup tractable at
    corpus scale. Output: per-cluster census (n, n_removed, keep_rate).
    The oracle replays clustering, assignment, and the within-cluster
    EXISTS rule end-to-end."""
    # single-file fixture scan = 1 task; the unrolled 64-dim dots (norm
    # + within-cluster pairwise) dominate and are partitioning-free —
    # spread first (guide §2.5; measured 8.7 → 4.9 s interleaved A/B)
    emb = spr.spread(_t(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    vint = F.expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT))"
    )
    pts = emb.select("vec_id", "embedding", vint.alias("vint"))
    _, centers = lloyd.lloyd_kmeans_vec(
        pts.select("vec_id", "vint"), "vec_id", "vint", dim=64, k=_SEMDEDUP_K, iters=_SEMDEDUP_ITERS
    )
    nrm = F.sqrt(F.expr(f"({sim._dot_sql('embedding', 'embedding', 64)})"))
    lab = pts.select(
        "vec_id",
        "embedding",
        nrm.alias("_n"),
        lloyd._argmin_cid_vec(centers, "vint").alias("cluster"),
    ).localCheckpoint(eager=False)
    a = lab.select(
        F.col("cluster"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("_n").alias("na")
    )
    b = lab.select(
        F.col("cluster"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("_n").alias("nb")
    )
    cos = F.expr(f"({sim._dot_sql('va', 'vb', 64)})") / (F.col("na") * F.col("nb"))
    removed = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= _SEMDEDUP_TAU)
        .select("cluster", F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        lab.select("cluster", "vec_id")
        .join(removed.withColumn("rm", F.lit(1)), ["cluster", "vec_id"], "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("rm"), F.lit(0)).cast("bigint")).alias("n_removed"),
        )
        .withColumn("keep_rate", F.round(1 - F.col("n_removed") / F.col("n"), 6))
        .orderBy("cluster")
    )


def _sql_exact_topk(where: str) -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE {where}),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_dot_product(q.qv::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine
  FROM q, embeddings b WHERE b.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id FROM ranked WHERE rn <= 5
"""


def _sql_ann_recall() -> str:
    return f"""
SELECT 'ivf' AS method,
       (SELECT count(*) FROM embeddings WHERE vec_id % 25 = 0)::BIGINT AS n_queries,
       round(
         (SELECT count(*) FROM ({_sql_exact_topk('vec_id % 25 = 0')}) e
            JOIN ({_SQL_IVF}) a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
         / (5.0 * (SELECT count(*) FROM embeddings WHERE vec_id % 25 = 0)), 6
       ) AS recall_at_5
UNION ALL
SELECT 'srp' AS method,
       (SELECT count(*) FROM embeddings WHERE vec_id < 32)::BIGINT AS n_queries,
       round(
         (SELECT count(*) FROM ({_sql_exact_topk('vec_id < 32')}) e
            JOIN ({_sql_srp()}) a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
         / (5.0 * (SELECT count(*) FROM embeddings WHERE vec_id < 32)), 6
       ) AS recall_at_5
UNION ALL
SELECT 'srp_multi' AS method,
       (SELECT count(*) FROM embeddings WHERE vec_id < 32)::BIGINT AS n_queries,
       round(
         (SELECT count(*) FROM ({_sql_exact_topk('vec_id < 32')}) e
            JOIN ({_sql_srp_multi()}) a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
         / (5.0 * (SELECT count(*) FROM embeddings WHERE vec_id < 32)), 6
       ) AS recall_at_5
ORDER BY method
"""


@query(_sql_ann_recall(), bench=False)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of the two approximate paths
    (SRP-LSH buckets, IVF probe) against the exact brute-force top-5 on
    their own query sets. recall = Σ|approx ∩ exact| / (5·n_queries),
    computed identically in both engines (sum-then-divide, no
    per-query averaging ambiguity). The oracle nests the already-proven
    exact/SRP/IVF SQL replays as subqueries — the engine literally
    grades its own index structures."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )

    def recall_row(method, queries, approx):
        exact = sim.cosine_topk_bruteforce(queries, emb, k=5, dim=64).select(
            "query_id", "neighbor_id"
        )
        hits = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).agg(F.count(F.lit(1)).alias("s"))
        nq = queries.agg(F.count(F.lit(1)).alias("n"))
        return hits.crossJoin(nq).select(
            F.lit(method).alias("method"),
            F.col("n").cast("bigint").alias("n_queries"),
            F.round(F.col("s") / (F.lit(5.0) * F.col("n")), 6).alias("recall_at_5"),
        )

    q_srp = emb.filter(F.col("vec_id") < 32)
    srp = sim.cosine_topk_srp(q_srp, emb, k=5, planes=_srp_planes())
    srp_multi = sim.cosine_topk_srp_multi(q_srp, emb, k=5, tables=_srp_tables())
    q_ivf = emb.filter(F.col("vec_id") % 25 == 0)
    ivf = sim.cosine_topk_ivf(
        q_ivf, emb, k=5, centers=sim.label_centroids(emb, "embedding", "label"), nprobe=3
    )
    return (
        recall_row("ivf", q_ivf, ivf)
        .unionByName(recall_row("srp", q_srp, srp))
        .unionByName(recall_row("srp_multi", q_srp, srp_multi))
        .orderBy("method")
    )


def _sql_ivfpq_recall() -> str:
    return f"""
SELECT 'ivfpq' AS method,
       (SELECT count(*) FROM embeddings WHERE vec_id % 25 = 0)::BIGINT AS n_queries,
       round(
         (SELECT count(*) FROM ({_sql_exact_topk('vec_id % 25 = 0')}) e
            JOIN ({_sql_ivfpq()}) a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
         / (5.0 * (SELECT count(*) FROM embeddings WHERE vec_id % 25 = 0)), 6
       ) AS recall_at_5
"""


@query(_sql_ivfpq_recall(), bench=False)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 grading of the COMPOSED IVF-PQ index against the exact
    brute-force top-5 (the `ann_recall` pattern applied to
    `ivfpq_topk_embeddings`): quantifies what the two approximations
    stack to — coarse-cell candidate loss (IVF) plus code-quantization
    ranking loss (PQ). recall = Σ|approx ∩ exact| / (5·n_queries),
    sum-then-divide. The oracle nests the full IVF-PQ replay (codebook
    training included) and the exact top-5 SQL as subqueries.

    Grades the STORED index (VERDICT r4 "Next" #2): the approximate
    side probes the persisted artifact via `sources/ann_index.py`
    (built once per fixture fingerprint, loaded afterwards) — the shape
    a production recall job has, and the reason a full-suite sweep no
    longer pays a per-query retrain here. The oracle's from-scratch
    replay doubles as the staleness gate: a stored index that drifted
    from the data would fail the hash."""
    codes, centers, cbs, _meta = ann.ensure_ivfpq_index(
        spark, sf_dir, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K,
        iters=_PQ_ITERS, scale=_PQ_SCALE,
    )
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    approx = sim.ivfpq_probe(
        queries, codes, cbs, centers, k=5, nprobe=3, scale=_PQ_SCALE
    ).select("query_id", "neighbor_id")
    exact = sim.cosine_topk_bruteforce(queries, emb, k=5, dim=64).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("s")
    )
    nq = queries.agg(F.count(F.lit(1)).alias("n"))
    return hits.crossJoin(nq).select(
        F.lit("ivfpq").alias("method"),
        F.col("n").cast("bigint").alias("n_queries"),
        F.round(F.col("s") / (F.lit(5.0) * F.col("n")), 6).alias("recall_at_5"),
    )


_SQL_KNN = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 32),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_dot_product(q.qv::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine
  FROM q, embeddings b WHERE b.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM ranked WHERE rn <= 5
"""


@query(_SQL_KNN)
def q_knn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10/ANN — exact cosine top-5 neighbors for a query subset.

    Rank omitted from the output (returns the top-k *set* with rounded
    cosine) so fp tie-ordering can't flip rows vs the oracle.
    """
    # spread the base side: the unrolled 64-dim cosine against every
    # broadcast query runs in the scan stage, which is 1 task on the
    # single-file fixture (guide §2.5; measured 2.04 → 1.36 s A/B)
    emb = spr.spread(_t(spark, sf_dir, "embeddings"))
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = emb.filter(F.col("vec_id") < 32)
    out = sim.cosine_topk_bruteforce(queries, emb, k=5, dim=64)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))


@query(_SQL_KNN)
def q_knn_embeddings_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-k as ``knn_embeddings``, via the Arrow/numpy
    matmul path (`cosine_topk_pandas`): per-batch BLAS matmul +
    argpartition local top-k, global window merge. Measured 4× faster
    than the codegen'd unrolled cosine at sf0.1 (0.50 s vs 2.12 s
    warm) and the gap grows with base size — this is the production
    brute-force path; the JVM expression version remains the
    dependency-free baseline. Shares the oracle with knn_embeddings
    (cosines agree to ~1e-12 relative; both round 6dp)."""
    emb = _t(spark, sf_dir, "embeddings")
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = emb.filter(F.col("vec_id") < 32)
    out = sim.cosine_topk_pandas(queries, emb, k=5)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))


_SQL_CENTROIDS = """
WITH e AS (
  SELECT label, unnest(embedding::DOUBLE[]) AS v,
         generate_subscripts(embedding, 1) - 1 AS pos
  FROM embeddings
), c AS (SELECT label, pos, avg(v) AS c FROM e GROUP BY label, pos)
SELECT c.label, round(sqrt(sum(c.c * c.c)), 6) AS centroid_norm, n
FROM c JOIN (SELECT label, count(*)::BIGINT AS n FROM embeddings GROUP BY label) cnt
  ON c.label = cnt.label
GROUP BY c.label, n ORDER BY c.label
"""


@query(_SQL_CENTROIDS)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregation: per-label centroid norm + count (the shuffle
    shape of a KMeans iteration, oracle-checkable)."""
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    # element-wise mean via posexplode → groupBy(label, pos) → collect norm
    exploded = emb.select("label", F.posexplode(vec).alias("pos", "v"))
    centroids = exploded.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    return (
        centroids.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"))
        .join(
            emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")),
            "label",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# ML / feature-engineering (SURVEY §2.9)
# --------------------------------------------------------------------------

_SQL_ONE_HOT = """
SELECT (isodow(ts) - 1)::INT AS dow,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS et_click,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS et_error,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS et_purchase,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS et_signup,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS et_view
FROM events GROUP BY 1 ORDER BY dow
"""


@query(_SQL_ONE_HOT, bench=False)
def q_one_hot_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — one-hot dummies (fixed category list, pd.get_dummies parity)
    summed per dow: proves the dummy columns, not just the counts."""
    ev = _t(spark, sf_dir, "events")
    d = mf.one_hot(
        ev.withColumn("dow", temporal.dayofweek_monday0("ts")), "event_type", EVENT_TYPES, "et"
    )
    return d.groupBy("dow").agg(
        *[F.sum(f"et_{c}").alias(f"et_{c}") for c in EVENT_TYPES]
    ).orderBy("dow")


_SQL_POS_SPLIT = """
WITH r AS (
  SELECT *, row_number() OVER (ORDER BY event_id ASC) AS rn,
         (SELECT count(*) FROM events) AS n_total
  FROM events
)
SELECT (CASE WHEN rn <= floor(n_total * 0.7) THEN 0 ELSE 1 END)::INT AS split,
       count(*)::BIGINT AS n, min(event_id)::BIGINT AS min_id, max(event_id)::BIGINT AS max_id,
       round(avg(value), 6) AS avg_value
FROM r GROUP BY 1 ORDER BY split
"""


@query(_SQL_POS_SPLIT, bench=False)
def q_positional_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 — deterministic positional 70/30 split (np.split parity) by
    event_id order, summarized per split."""
    ev = _t(spark, sf_dir, "events")
    s = mf.positional_split(ev, "event_id", 0.7)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    ).orderBy("split")


_SQL_SCALED = """
WITH s AS (SELECT avg(value) AS mu, stddev_samp(value) AS sd FROM events)
SELECT event_type,
       round(avg((value - mu) / sd), 6) AS avg_z,
       round(min((value - mu) / sd), 6) AS min_z,
       round(max((value - mu) / sd), 6) AS max_z
FROM events, s GROUP BY event_type
"""


@query(_SQL_SCALED, bench=False)
def q_scaled_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — standard scaling with fit/apply artifact split (fit global
    μ/σ, apply as literals), then per-type stats of the z-scores."""
    ev = _t(spark, sf_dir, "events")
    stats = mf.fit_standard_scaler(ev, ["value"])
    z = mf.apply_standard_scaler(ev, stats)
    return z.groupBy("event_type").agg(
        F.round(F.avg("value_z"), 6).alias("avg_z"),
        F.round(F.min("value_z"), 6).alias("min_z"),
        F.round(F.max("value_z"), 6).alias("max_z"),
    )


_SQL_PCA = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
a AS (
  SELECT covar_samp(lon, lat) AS sxy, var_samp(lon) AS sxx, var_samp(lat) AS syy FROM p
)
SELECT round((sxx + syy) / 2 + sqrt(pow((sxx - syy) / 2, 2) + pow(sxy, 2)), 6) AS lambda1,
       round((sxx + syy) / 2 - sqrt(pow((sxx - syy) / 2, 2) + pow(sxy, 2)), 6) AS lambda2,
       round(((sxx + syy) / 2 + sqrt(pow((sxx - syy) / 2, 2) + pow(sxy, 2)))
             / (sxx + syy), 6) AS explained_ratio,
       round(atan2((sxx + syy) / 2 + sqrt(pow((sxx - syy) / 2, 2) + pow(sxy, 2)) - sxx, sxy), 6)
         AS axis_angle
FROM a
"""


@query(_SQL_PCA, bench=False)
def q_pca_axis_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — closed-form 2-D PCA (eigenvalues/axis angle of the coord
    covariance matrix). Cross-checked against ml.feature.PCA in
    tests/test_ml.py; the closed form is what the oracle can express."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    out = mlp.pca2d_closed_form(pts, "lon", "lat")
    return out.select(*[F.round(F.col(c), 6).alias(c) for c in out.columns])


_VORONOI_CENTERS: list[tuple[float, float]] | None = None


def _voronoi_centers() -> list[tuple[float, float]]:
    global _VORONOI_CENTERS
    if _VORONOI_CENTERS is None:
        _VORONOI_CENTERS = mlp.deterministic_centers(15, -74.3, -73.7, 40.5, 41.0)
    return _VORONOI_CENTERS


def _sql_voronoi() -> str:
    dists = ", ".join(
        f"(pow(lon - ({cx!r}), 2) + pow(lat - ({cy!r}), 2))" for cx, cy in _voronoi_centers()
    )
    return f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
d AS (SELECT *, [{dists}] AS dl FROM p)
SELECT (list_indexof(dl, list_min(dl)) - 1)::INT AS region_id,
       count(*)::BIGINT AS n, round(avg(value), 6) AS avg_value
FROM d GROUP BY 1 ORDER BY region_id
"""


@query(_sql_voronoi(), bench=False)
def q_voronoi_region_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/M3 composition (lab2 nb cell 20): Voronoi-region assignment =
    argmin distance to 15 driver-side centers (broadcast literal
    when-chain — zero shuffle), then per-region mean feature."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    r = mlp.assign_nearest_center(pts, "lon", "lat", _voronoi_centers())
    return r.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    ).orderBy("region_id")


def _sql_region_joinback() -> str:
    dists = ", ".join(
        f"(pow(lon - ({cx!r}), 2) + pow(lat - ({cy!r}), 2))" for cx, cy in _voronoi_centers()
    )
    return f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
d AS (SELECT *, [{dists}] AS dl FROM p),
r AS (SELECT *, (list_indexof(dl, list_min(dl)) - 1)::INT AS region_id FROM d),
m AS (SELECT region_id, avg(value) AS region_avg FROM r GROUP BY 1)
SELECT r.event_type, count(*)::BIGINT AS n,
       round(avg(r.value - m.region_avg), 6) AS avg_dev,
       round(max(abs(r.value - m.region_avg)), 6) AS max_abs_dev
FROM r JOIN m USING (region_id)
GROUP BY r.event_type
"""


@query(_sql_region_joinback(), bench=False)
def q_region_speed_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9+A6 — the lab2 cell-20 two-step: per-region mean feature,
    then joined BACK onto the row stream by the carried region key
    (the reference's ``reindex(df.index)``; here a broadcast equi-join
    on region_id — the aggregated side is tiny by construction). Output
    is each point's deviation from its region mean, per event type."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    r = mlp.assign_nearest_center(pts, "lon", "lat", _voronoi_centers())
    region_means = r.groupBy("region_id").agg(F.avg("value").alias("region_avg"))
    back = r.join(F.broadcast(region_means), "region_id", "left")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.col("value") - F.col("region_avg")), 6).alias("avg_dev"),
        F.round(F.max(F.abs(F.col("value") - F.col("region_avg"))), 6).alias("max_abs_dev"),
    )


_KMEANS_K, _KMEANS_ITERS = 8, 20


_SQL_KMEANS_BAND = """
WITH n AS (SELECT count(*)::BIGINT AS c FROM events)
SELECT t.band, t.ok, n.c AS n_points
FROM (VALUES ('centroids_in_bbox', true), ('k_at_most_8_nonempty', true),
             ('no_collapse', true), ('sizes_partition_points', true)) AS t(band, ok), n
ORDER BY t.band
"""


@query(_SQL_KMEANS_BAND, bench=False)
def q_kmeans_event_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — k-means (k=8, 20 rounds: Spark ML's default maxIter) over
    the derived points, fitted with the exact Lloyd of `ml/lloyd.py` on
    the integer lattice behind them, reported as CENSUS BANDS: the
    cluster sizes partition exactly the point set (n_points counted
    from the events scan, and INDEPENDENTLY recomputed by the oracle
    from the events table), at most k non-empty clusters, every
    centroid (mean derived lon/lat of its points) inside the
    derived-point bbox, and no degenerate all-in-one collapse. The
    full iteration replay of the same fit is `lloyd_kmeans_clusters`'s
    oracle; Lloyd convergence is pytest-verified (tests/test_ml.py)."""
    ev = _t(spark, sf_dir, "events")
    labeled, _centers = lloyd.lloyd_kmeans(
        ev.select("event_id", *_event_lattice()), "event_id", ["x", "y"],
        k=_KMEANS_K, iters=_KMEANS_ITERS,
    )
    clusters = (
        _derived_points(labeled.withColumnRenamed("id", "event_id"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("lon").alias("c_lon"),
            F.avg("lat").alias("c_lat"),
        )
        .collect()
    )
    n_input = ev.count()
    sizes = [r["n"] for r in clusters]
    rows = [
        (
            "centroids_in_bbox",
            all(-74.3 <= r["c_lon"] <= -73.7 and 40.5 <= r["c_lat"] <= 41.0 for r in clusters),
            n_input,
        ),
        ("k_at_most_8_nonempty", 1 <= len(clusters) <= _KMEANS_K, n_input),
        ("no_collapse", max(sizes) < sum(sizes), n_input),
        ("sizes_partition_points", sum(sizes) == n_input, n_input),
    ]
    return tb.local_frame(
        spark, rows, "band string, ok boolean, n_points bigint"
    ).orderBy("band")


_LLOYD_K, _LLOYD_ITERS = 5, 6


def _sql_lloyd() -> str:
    iters = _LLOYD_ITERS
    return f"""
WITH pts AS (SELECT event_id AS id, {_SQL_EVENT_LATTICE} FROM events),
{_sql_lloyd_ctes("pts", ["x", "y"], _LLOYD_K, iters)},
a_final AS ({_sql_nearest("pts", ["x", "y"], f"c{iters}", ["id"])})
SELECT f.cid AS cluster_id, count(*)::BIGINT AS n,
       round(any_value(c.x), 6) AS c_x, round(any_value(c.y), 6) AS c_y
FROM a_final f JOIN c{iters} c ON c.cid = f.cid
GROUP BY f.cid
ORDER BY n DESC, cluster_id ASC
"""


@query(_sql_lloyd())
def q_lloyd_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 (oracle-able formulation) — deterministic distributed Lloyd's
    KMeans (`ml/lloyd.py`) on the integer event grid coords
    (x = event_id % 1000, y = event_id·7 % 1000 — the derived-point
    lattice before its affine lon/lat mapping). Exact-integer centroid
    sums make every iteration bit-replayable, so the DuckDB oracle
    unrolls ALL 6 Lloyd updates as CTEs and the census must match
    value-for-value — including the final centroids."""
    ev = _t(spark, sf_dir, "events").select("event_id", *_event_lattice())
    labeled, centers = lloyd.lloyd_kmeans(
        ev, "event_id", ["x", "y"], k=_LLOYD_K, iters=_LLOYD_ITERS
    )
    cx_map = F.create_map(
        *[F.lit(v) for i, (cx, _) in enumerate(centers) for v in (i, cx)]
    )
    cy_map = F.create_map(
        *[F.lit(v) for i, (_, cy) in enumerate(centers) for v in (i, cy)]
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "cluster_id",
            "n",
            F.round(cx_map[F.col("cluster_id")], 6).alias("c_x"),
            F.round(cy_map[F.col("cluster_id")], 6).alias("c_y"),
        )
        .orderBy(F.col("n").desc(), F.col("cluster_id").asc())
    )


_SQL_GBT_VALUE_BAND = """
WITH n AS (SELECT count(*)::BIGINT AS c FROM events WHERE value >= 0)
SELECT t.band, t.ok, n.c AS n_rows
FROM (VALUES ('mae_finite_positive', true), ('r2_at_most_one', true),
             ('rmse_ge_mae', true), ('rmsle_finite', true)) AS t(band, ok), n
ORDER BY t.band
"""


@query(_SQL_GBT_VALUE_BAND, bench=False)
def q_gbt_value_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7+M9 — GBT regression (LightGBM stand-in) on a log1p target with
    the Lab-2 shape: feature engineering → seeded 70/30 random split →
    fit on train → single-pass metric aggregates on the valid split,
    reported as METRIC-FLOOR BANDS (VERDICT r2 #5: the raw metrics are
    learner-dependent, so the hash-checked contract is their
    invariants): errors finite-positive, RMSE ≥ MAE (Jensen), R² ≤ 1,
    with the eligible-row count INDEPENDENTLY recomputed by the oracle.
    The learnable-target twin with tight bands is `gbt_band_lab2`."""
    ev = _derived_points(_t(spark, sf_dir, "events"))
    feats = (
        ev.withColumn("hour", F.hour("ts"))
        .withColumn("dow", temporal.dayofweek_monday0("ts"))
        .withColumn("dist_km", geo.haversine_km("lat", "lon", F.lit(40.7580), F.lit(-73.9855)))
    )
    feats = mf.log1p_target(feats.filter(F.col("value") >= 0), "value")
    n_rows = feats.count()
    fcols = ["hour", "dow", "lon", "lat", "dist_km"]
    train, valid = feats.randomSplit([0.7, 0.3], seed=42)
    model = mlp.gbt_fit(train, fcols, "log_value", max_iter=10, max_depth=4)
    pred = mlp.gbt_predict(model, valid, fcols)
    m = mlp.regression_metrics(
        pred, "log_value", "prediction", log_space=True
    ).collect()[0]
    rows = [
        ("mae_finite_positive", bool(m["mae"] > 0 and math.isfinite(m["mae"])), n_rows),
        ("r2_at_most_one", bool(m["r2"] <= 1.0), n_rows),
        ("rmse_ge_mae", bool(m["rmse"] >= m["mae"]), n_rows),
        ("rmsle_finite", bool(math.isfinite(m["rmsle"])), n_rows),
    ]
    return tb.local_frame(
        spark, rows, "band string, ok boolean, n_rows bigint"
    ).orderBy("band")


# --------------------------------------------------------------------------
# Spatial overlay / graph accessibility (SURVEY §2.10 G6/G8/G9, §2.3 J6)
# --------------------------------------------------------------------------

def _road_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic segment set: consecutive derived points (event_id i
    → i+1, i < 999) as road-like polylines; the (i*7 % 1000) lat wraps
    produce long diagonal segments that exercise the multi-cell path."""
    pts = _derived_points(_t(spark, sf_dir, "events")).filter(F.col("event_id") < 1000)
    a = pts.select(F.col("event_id").alias("seg_id"), F.col("lon").alias("x1"), F.col("lat").alias("y1"))
    b = pts.select((F.col("event_id") - 1).alias("seg_id"), F.col("lon").alias("x2"), F.col("lat").alias("y2"))
    return a.join(b, "seg_id")


_ROAD_SEGMENTS_SQL = f"""
  WITH dp AS ({_DERIVED_POINTS_SQL})
  SELECT a.event_id AS seg_id, a.lon AS x1, a.lat AS y1, b.lon AS x2, b.lat AS y2
  FROM dp a JOIN dp b ON b.event_id = a.event_id + 1
  WHERE a.event_id < 999 AND b.event_id < 1000
"""


_SQL_ROAD_DENSITY = f"""
WITH segs AS ({_ROAD_SEGMENTS_SQL}),
cand AS (
  SELECT s.*, gx, gy
  FROM segs s,
       unnest(generate_series(floor((least(x1,x2) - (-74.3)) / 0.05)::BIGINT,
                              floor((greatest(x1,x2) - (-74.3)) / 0.05)::BIGINT)) AS t1(gx),
       unnest(generate_series(floor((least(y1,y2) - 40.5) / 0.05)::BIGINT,
                              floor((greatest(y1,y2) - 40.5) / 0.05)::BIGINT)) AS t2(gy)
),
clip AS (
  SELECT gx, gy,
         greatest(
           CASE WHEN (x2 - x1) <> 0
                THEN least(((-74.3) + gx * 0.05 - x1) / (x2 - x1),
                           ((-74.3) + (gx + 1) * 0.05 - x1) / (x2 - x1))
                WHEN x1 >= (-74.3) + gx * 0.05 AND x1 <= (-74.3) + (gx + 1) * 0.05
                THEN '-infinity'::DOUBLE ELSE 'infinity'::DOUBLE END,
           CASE WHEN (y2 - y1) <> 0
                THEN least((40.5 + gy * 0.05 - y1) / (y2 - y1),
                           (40.5 + (gy + 1) * 0.05 - y1) / (y2 - y1))
                WHEN y1 >= 40.5 + gy * 0.05 AND y1 <= 40.5 + (gy + 1) * 0.05
                THEN '-infinity'::DOUBLE ELSE 'infinity'::DOUBLE END,
           0.0) AS t_in,
         least(
           CASE WHEN (x2 - x1) <> 0
                THEN greatest(((-74.3) + gx * 0.05 - x1) / (x2 - x1),
                              ((-74.3) + (gx + 1) * 0.05 - x1) / (x2 - x1))
                WHEN x1 >= (-74.3) + gx * 0.05 AND x1 <= (-74.3) + (gx + 1) * 0.05
                THEN 'infinity'::DOUBLE ELSE '-infinity'::DOUBLE END,
           CASE WHEN (y2 - y1) <> 0
                THEN greatest((40.5 + gy * 0.05 - y1) / (y2 - y1),
                              (40.5 + (gy + 1) * 0.05 - y1) / (y2 - y1))
                WHEN y1 >= 40.5 + gy * 0.05 AND y1 <= 40.5 + (gy + 1) * 0.05
                THEN 'infinity'::DOUBLE ELSE '-infinity'::DOUBLE END,
           1.0) AS t_out,
         sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) AS seg_len
  FROM cand
),
ov AS (
  SELECT gx, gy,
         round(CASE WHEN seg_len > 0 THEN greatest(t_out - t_in, 0.0) * seg_len
                    ELSE 0.0 END, 12) AS overlap_len
  FROM clip
)
SELECT gx::BIGINT AS gx, gy::BIGINT AS gy,
       round(sum(overlap_len), 6) AS road_len, count(*)::BIGINT AS n_segments
FROM ov WHERE overlap_len > 0
GROUP BY gx, gy ORDER BY gx, gy
"""


@query(_SQL_ROAD_DENSITY)
def q_road_density_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9/J6 — road length per grid cell (lab3c cell 5, but as a
    cell-exploded equi-join + Liang-Barsky clip instead of the
    reference's O(cells×edges) nested loop): per-cell total overlap
    length + segment count over a 0.05° grid."""
    segs = _road_segments(spark, sf_dir)
    ov = sj.segment_grid_overlap(segs, origin_x=-74.3, origin_y=40.5, cell=0.05)
    return (
        ov.groupBy("gx", "gy")
        .agg(
            F.round(F.sum("overlap_len"), 6).alias("road_len"),
            F.count(F.lit(1)).alias("n_segments"),
        )
        .orderBy("gx", "gy")
    )


def _grid_graph(spark: SparkSession, n: int) -> tuple[DataFrame, DataFrame]:
    """The node ids and (src, dst) edges of the n×n grid graph: node id
    links to its right (id + 1) and lower (id + n) neighbour."""
    ids = spark.range(n * n).select(F.col("id").cast("bigint"))
    right = ids.filter((F.col("id") % n) < n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    down = ids.filter(F.col("id") < n * (n - 1)).select(
        F.col("id").alias("src"), (F.col("id") + n).alias("dst")
    )
    return ids, right.unionByName(down)


_SQL_ISOCHRONE = """
WITH RECURSIVE ids AS (SELECT range::BIGINT AS id FROM range(900)),
base AS (
  SELECT id AS src, id + 1 AS dst FROM ids WHERE id % 30 < 29
  UNION ALL
  SELECT id AS src, id + 30 AS dst FROM ids WHERE id < 870
),
edges AS (
  SELECT src, dst, 60.0 / (1 + (src * dst) % 5) AS w FROM base
  UNION ALL
  SELECT dst AS src, src AS dst, 60.0 / (1 + (src * dst) % 5) AS w FROM base
),
walk(id, dist) AS (
  SELECT 465::BIGINT AS id, 0.0::DOUBLE AS dist
  UNION
  SELECT e.dst, w.dist + e.w FROM walk w JOIN edges e ON e.src = w.id
  WHERE w.dist + e.w <= 300.0
),
rpts AS (SELECT DISTINCT 100 * (id % 30) AS x, 100 * (id // 30) AS y FROM walk),
-- hull vertices are per-row x-extremes of the reachable set
bpts AS (
  SELECT x, y FROM (
    SELECT x, y, min(x) OVER (PARTITION BY y) AS mn, max(x) OVER (PARTITION BY y) AS mx
    FROM rpts
  ) WHERE x = mn OR x = mx
),
-- supporting pairs: all boundary points on the closed left of (a->b)
hedges AS (
  SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM bpts a, bpts b
  WHERE NOT (a.x = b.x AND a.y = b.y)
    AND NOT EXISTS (
      SELECT 1 FROM bpts r
      WHERE (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) < 0
    )
),
pois AS (
  SELECT event_id, event_type,
         3 * (event_id % 1000) AS px, 3 * ((event_id * 7) % 1000) AS py
  FROM events WHERE event_id < 1000
),
acc AS (
  SELECT event_type,
         CASE WHEN EXISTS (
           SELECT 1 FROM hedges e
           WHERE (e.bx - e.ax) * (p.py - e.ay) - (e.by - e.ay) * (p.px - e.ax) < 0
         ) THEN 0 ELSE 1 END AS acc
  FROM pois p
)
SELECT event_type, count(*)::BIGINT AS n_total, sum(acc)::BIGINT AS n_accessible,
       round(sum(acc)::DOUBLE / count(*), 6) AS pct_accessible
FROM acc GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_ISOCHRONE, bench=False)
def q_isochrone_poi_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6+G8 composition (lab3a cells 12/15): bounded weighted SSSP from
    a center node over a deterministic 30×30 road grid → reachable set →
    convex hull → POI accessibility share per event_type (half-plane
    point-in-hull filter, no UDF).

    Geometry runs on the common INTEGER lattice (node col·100, POI
    m·3 — the per-axis affine image of lon/lat, which preserves hull
    membership): cross products are exact bigint arithmetic, so the
    oracle replays the whole chain — recursive-CTE bounded SSSP (edge
    times 60/k are exact doubles), hull membership as a NOT EXISTS over
    supporting pairs of the reachable set's per-row extremes — with
    zero fp ambiguity. Dijkstra/hull/membership parity is additionally
    pytest-verified (tests/test_graph.py, tests/test_overlay.py)."""
    n = 30
    ids, grid = _grid_graph(spark, n)
    nodes = ids.select(
        "id",
        ((F.col("id") % n) * 100).alias("ix"),
        ((F.col("id") / n).cast("bigint") * 100).alias("iy"),
    )
    # travel_time: unit edge length / deterministic per-edge speed class
    edges = grid.withColumn(
        "travel_time",
        F.lit(60.0) / (F.lit(1) + (F.col("src") * F.col("dst")) % 5),
    )
    center = n * n // 2 + n // 2  # node 465
    reach = ga.isochrone_nodes(edges, nodes, center, radius=300.0, directed=False)
    hull = ga.convex_hull(reach, x="ix", y="iy")
    pois = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .select(
            "event_id",
            "event_type",
            ((F.col("event_id") % 1000) * 3).alias("ix"),
            (((F.col("event_id") * 7) % 1000) * 3).alias("iy"),
        )
    )
    inside = ga.points_in_hull(pois, hull, x="ix", y="iy").select("event_id").withColumn(
        "acc", F.lit(1)
    )
    return (
        pois.join(inside.select("event_id", "acc"), "event_id", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.coalesce(F.col("acc"), F.lit(0))).alias("n_accessible"),
            F.round(F.avg(F.coalesce(F.col("acc"), F.lit(0)).cast("double")), 6).alias("pct_accessible"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Raster sampling (SURVEY §2.1 S10/S11, §2.3 J7)
# --------------------------------------------------------------------------

def _sql_raster_stats() -> str:
    rv = raster.raster_value_sql("lon", "lat")
    return f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
s AS (SELECT event_type, {rv} AS raster_value FROM p)
SELECT event_type, count(*)::BIGINT AS n,
       round(avg(raster_value), 6) AS avg_density,
       round(min(raster_value), 6) AS min_density,
       round(max(raster_value), 6) AS max_density
FROM s GROUP BY event_type ORDER BY event_type
"""


@query(_sql_raster_stats())
def q_raster_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/J7 — broadcast-raster point sampling (rowcol + clip + nodata
    mean-fill, get_population_density semantics) over derived event
    points; per-type stats of the sampled density. The deterministic
    synthetic raster is closed-form, so the oracle recomputes pixels in
    SQL without seeing the array."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    s = raster.sample_raster(pts, raster.synthetic_raster(), raster.RASTER_T, raster.RASTER_NODATA)
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("raster_value"), 6).alias("avg_density"),
            F.round(F.min("raster_value"), 6).alias("min_density"),
            F.round(F.max("raster_value"), 6).alias("max_density"),
        )
        .orderBy("event_type")
    )


@query(_sql_raster_stats(), bench=False)
def q_raster_tiled_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S11 scale path — the SAME sampling semantics as
    `raster_sample_stats`, but over the tiled raster layout
    (tile-table equi-join + element_at instead of a broadcast numpy
    array; `sources/raster.sample_raster_tiled`). Shares the broadcast
    path's oracle — a match proves layout equivalence."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    fill = raster.raster_valid_mean(raster.synthetic_raster(), raster.RASTER_NODATA)
    s = raster.sample_raster_tiled(
        pts, raster.tiled_raster_df(spark), raster.RASTER_T, raster.RASTER_NODATA, fill
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("raster_value"), 6).alias("avg_density"),
            F.round(F.min("raster_value"), 6).alias("min_density"),
            F.round(F.max("raster_value"), 6).alias("max_density"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# k-distance curve (M2) + hyperparameter search (M8)
# --------------------------------------------------------------------------

def _sql_utm_xy() -> tuple[str, str]:
    """DuckDB twin of the engine's exact UTM zone-18N projection
    (functions.geo.utm_xy_sql) over lon/lat columns in scope."""
    return geo.utm_xy_sql("lat", "lon", zone=18)


_UTM_X_SQL, _UTM_Y_SQL = _sql_utm_xy()


_SQL_KDIST = f"""
WITH d AS ({_DERIVED_POINTS_SQL}),
p AS (SELECT event_id AS id, {_UTM_X_SQL} AS x, {_UTM_Y_SQL} AS y FROM d WHERE event_id < 500),
pairs AS (
  SELECT q.id AS query_id,
         sqrt((q.x - b.x) * (q.x - b.x) + (q.y - b.y) * (q.y - b.y)) AS dist,
         b.id AS neighbor_id
  FROM p q, p b WHERE q.id <> b.id
), ranked AS (
  SELECT query_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rk
  FROM pairs
), kd AS (SELECT query_id, dist FROM ranked WHERE rk = 4)
SELECT count(*)::BIGINT AS n,
       round(avg(dist), 4) AS mean_dist,
       round(quantile_cont(dist, 0.5), 4) AS median_dist,
       round(quantile_cont(dist, 0.9), 4) AS p90_dist,
       round(max(dist), 4) AS max_dist
FROM kd
"""


@query(_SQL_KDIST)
def q_kdist_curve_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — DBSCAN eps-tuning support: per-point k-th-NN distance
    (k=4) over 500 derived points, summarized (the reference sorts the
    curve and eyeballs the elbow; the curve's summary stats are the
    checkable artifact)."""
    pts = _derived_points(_t(spark, sf_dir, "events")).filter(F.col("event_id") < 500)
    ux, uy = geo.utm_xy_m("lat", "lon", zone=18)
    pts = pts.select(F.col("event_id").alias("id"), ux.alias("x"), uy.alias("y"))
    kd = knn.kth_nn_distance(pts, k=4, id_col="id", x="x", y="y")
    s = mlp.kth_nn_distance_stats(kd, dist_col="kth_dist")
    return s.select(
        "n",
        *[F.round(F.col(c), 4).alias(c) for c in ["mean_dist", "median_dist", "p90_dist", "max_dist"]],
    )


def _param_search_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — hyperparameter search re-expressed on TrainValidationSplit
    (the reference drives Optuna over LightGBM; grid + TVS is the
    Spark-ML-native equivalent, SURVEY §2.9). Returns the tried grid
    with per-candidate validation RMSE and a best flag. Stochastic
    learner → rows-only."""
    ev = _derived_points(_t(spark, sf_dir, "events"))
    feats = (
        ev.withColumn("hour", F.hour("ts"))
        .withColumn("dow", temporal.dayofweek_monday0("ts"))
        .filter(F.col("value") >= 0)
        .withColumn("log_value", F.log1p("value"))
    )
    vec = mlp.assemble(feats, ["hour", "dow", "lon", "lat"]).select("features", "log_value")
    gbt = GBTRegressor(featuresCol="features", labelCol="log_value", maxIter=5, seed=42)
    grid = (
        ParamGridBuilder()
        .addGrid(gbt.maxDepth, [3, 5])
        .addGrid(gbt.stepSize, [0.1, 0.3])
        .build()
    )
    tvs = TrainValidationSplit(
        estimator=gbt,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(labelCol="log_value", metricName="rmse"),
        trainRatio=0.7,
        seed=42,
    )
    model = tvs.fit(vec)
    rows = [
        (
            int(pm[gbt.maxDepth]),
            float(pm[gbt.stepSize]),
            round(float(m), 4),
            bool(i == int(min(range(len(model.validationMetrics)), key=model.validationMetrics.__getitem__))),
        )
        for i, (pm, m) in enumerate(zip(grid, model.validationMetrics))
    ]
    return tb.local_frame(
        spark, rows, "max_depth int, step_size double, val_rmse double, is_best boolean"
    ).orderBy("max_depth", "step_size")


# --------------------------------------------------------------------------
# Structured Streaming (SURVEY §2.11)
# --------------------------------------------------------------------------

_SQL_STREAM_HOURLY = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start, count(*)::BIGINT AS n
FROM events GROUP BY 1 ORDER BY hour_start
"""


@query(_SQL_STREAM_HOURLY)
def q_streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — the Lab-1 hourly tumbling count as a Structured
    Streaming job: file-source stream → watermark → 1-hour event-time
    windows → availableNow drain to a memory sink. Incremental
    execution must reproduce the batch answer over the same files, so
    the batch SQL oracle applies verbatim."""
    ev = win.stream_events(spark, sf_dir)
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(win.hourly_event_counts_stream(ev))
    return out.orderBy("hour_start")


# static event_type → (category, weight) dim for the stream-static join;
# literal on both sides
_EVENT_DIM = [
    ("click", "engagement", 1.0),
    ("view", "engagement", 0.5),
    ("purchase", "revenue", 3.0),
    ("signup", "growth", 2.0),
    ("error", "ops", 0.25),
]


def _sql_stream_enriched() -> str:
    rows = ", ".join(f"('{t}', '{c}', {w!r})" for t, c, w in _EVENT_DIM)
    return f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start, d.category,
       count(*)::BIGINT AS n, round(sum(e.value * d.weight), 4) AS wsum
FROM events e JOIN (VALUES {rows}) AS d(event_type, category, weight)
  ON e.event_type = d.event_type
GROUP BY 1, 2 ORDER BY hour_start, category
"""


@query(_sql_stream_enriched(), bench=False)
def q_streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — stream–static dimension join: the event stream broadcast-
    joins a static event_type→(category, weight) dim inside each
    micro-batch, then watermarked 1-hour windows aggregate per category.
    availableNow drain ⇒ the batch SQL oracle (VALUES dim join) applies
    verbatim."""
    dim = tb.local_frame(
        spark, _EVENT_DIM, "event_type string, category string, weight double"
    )
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(
            win.enriched_counts_stream(win.stream_events(spark, sf_dir), dim, "event_type")
        )
    return out.orderBy("hour_start", "category")


_SQL_STREAM_DEDUP = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_distinct_users
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_STREAM_DEDUP, bench=False)
def q_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 streamed — watermarked streaming dedup on (user_id,
    event_type): with an availableNow drain every key emits exactly
    once, so per-type distinct-user counts equal the batch DISTINCT."""
    ev = win.stream_events(spark, sf_dir)
    dd_s = win.dedup_stream(ev, ["user_id", "event_type"])
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(dd_s, output_mode="append")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
        .orderBy("event_type")
    )


_SQL_STREAM_STATE = """
SELECT user_id, count(*)::BIGINT AS n_events,
       round(sum(coalesce(value, 0.0)), 4) AS sum_value,
       count(DISTINCT event_type)::BIGINT AS n_types
FROM events GROUP BY user_id ORDER BY user_id
"""


@query(_SQL_STREAM_STATE, bench=False)
def q_streaming_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running (count, value sum, distinct types) GroupState.
    Final state after an availableNow drain ≡ the batch groupBy — the
    oracle below. Update-mode emits one row per user per micro-batch;
    the last row per user is the final state (max n_events)."""
    ev = win.stream_events(spark, sf_dir)
    st = win.user_running_stats_stream(ev)
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(st, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = out.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    return final.select(
        "user_id",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        "n_types",
    ).orderBy("user_id")


_SQL_STREAM_SESSIONS = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), per AS (
  SELECT user_id, session_id, count(*) AS n_events FROM s GROUP BY 1, 2
)
SELECT user_id, count(*)::BIGINT AS n_sessions, sum(n_events)::BIGINT AS n_events,
       max(n_events)::BIGINT AS max_session_events
FROM per GROUP BY user_id ORDER BY user_id
"""


@query(_SQL_STREAM_SESSIONS, bench=False)
def q_streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11/W2 — native session windows (30-min gap, per user) on a
    stream, drained availableNow; summarized per user (n_sessions,
    events, max session length). Session-window semantics match the
    batch sessionize operator at every non-boundary timestamp, so the
    batch lag/cumsum SQL is the oracle."""
    ev = win.stream_events(spark, sf_dir)
    sw = win.session_window_stream(ev, gap_minutes=30.0, keys=["user_id"])
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(sw)
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


_SQL_STREAM_CLICK_PURCHASE = """
SELECT c.user_id, count(*)::BIGINT AS n_pairs,
       round(sum(p.value), 4) AS attributed_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
GROUP BY c.user_id ORDER BY c.user_id
"""


@query(_SQL_STREAM_CLICK_PURCHASE, bench=False)
def q_streaming_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — stream–stream interval join (the one stateful join shape
    the other streaming queries don't cover): every click pairs with the
    same user's purchases landing within 2 h after it, both sides
    watermarked so join state is bounded by watermark + interval width.
    availableNow drain ⇒ the batch interval-join SQL is the oracle.
    Summarized per user (pair count, attributed purchase value)."""
    clicks = win.stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = win.stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = win.interval_join_stream(
        clicks, purchases, key="user_id", max_delay_minutes=120
    )
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(joined, output_mode="append")
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("r_value"), 4).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


_SQL_STREAM_CLICK_NOPURCHASE = """
WITH c AS (
  SELECT * FROM events
  WHERE event_type = 'click'
    AND ts <= least(
          (SELECT max(ts) FROM events WHERE event_type = 'click'),
          (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        - INTERVAL 7 HOUR
)
SELECT c.user_id, count(*)::BIGINT AS n_rows,
       sum(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_converted,
       sum(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unconverted
FROM c LEFT JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
GROUP BY c.user_id ORDER BY c.user_id
"""


@query(_SQL_STREAM_CLICK_NOPURCHASE, bench=False)
def q_streaming_click_nopurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — stream–stream LEFT OUTER interval join: clicks that did
    NOT convert within 2 h emit with NULL right columns, but only after
    the watermark proves no purchase can still arrive. Outer rows
    within watermark+delay of the stream head are not final at drain
    time, so both engine and oracle restrict to the CLOSED region —
    and the horizon must come from the GLOBAL watermark, which is the
    MIN of the per-stream watermarks: the purchase stream's max event
    time trails the click stream's, so the closed region is
    l_ts ≤ least(max click ts, max purchase ts) − 7 h (4 h watermark +
    2 h join window + 1 h margin). Using the global max-ts instead
    loses tail outer rows the join state hasn't evicted yet (caught by
    the sf0.001 oracle). Per user: clicks, conversions, unconverted
    clicks."""
    clicks = win.stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = win.stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = win.interval_join_stream(
        clicks, purchases, key="user_id", max_delay_minutes=120, how="left_outer"
    )
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(joined, output_mode="append")
    ev = _t(spark, sf_dir, "events")
    horizon = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("INTERVAL 7 HOUR")
        ).alias("h")
    )
    return (
        out.join(F.broadcast(horizon))
        .filter(F.col("l_ts") <= F.col("h"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("r_ts").isNotNull().cast("bigint")).alias("n_converted"),
            F.sum(F.col("r_ts").isNull().cast("bigint")).alias("n_unconverted"),
        )
        .orderBy("user_id")
    )


_SQL_AUC_RANK = """
WITH scored AS (
  SELECT round(1.0 / (1.0 + exp(-(l_discount * 10.0 - 0.5
                                  + (l_quantity - 25.0) / 50.0))), 9) AS score,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
  FROM lineitem
),
grouped AS (
  SELECT score, count(*)::BIGINT AS n, sum(pos)::BIGINT AS np
  FROM scored GROUP BY score
),
ranked AS (
  SELECT *,
         coalesce(sum(n) OVER (ORDER BY score
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_prev
  FROM grouped
)
SELECT round((sum(np * (cum_prev + (n + 1) / 2.0))
              - sum(np) * (sum(np) + 1) / 2.0)
             / (sum(np) * (sum(n) - sum(np))), 6) AS auc,
       sum(np)::BIGINT AS n_pos,
       (sum(n) - sum(np))::BIGINT AS n_neg,
       count(*)::BIGINT AS n_score_groups
FROM ranked
"""


@query(_SQL_AUC_RANK)
def q_auc_rank_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC via the tied-rank Mann-Whitney identity —
    the classifier-evaluation primitive a training pipeline needs at
    100 TB, computed WITHOUT sorting individual rows: group by distinct
    score (bounded domain), cumulative counts over the score groups
    give each group's average rank, then
    AUC = (Σ_pos avgrank − Np(Np+1)/2)/(Np·Nn). The only window runs
    over score GROUPS (~550 rows regardless of data size), not rows.
    Score is a fixed logistic of discount/quantity; label is
    l_returnflag='R' — deterministic, so the oracle replays exactly."""
    li = _t(spark, sf_dir, "lineitem")
    score = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -(
                    F.col("l_discount") * 10.0
                    - 0.5
                    + (F.col("l_quantity") - 25.0) / 50.0
                )
            )
        ),
        9,
    )
    grouped = (
        li.select(score.alias("score"),
                  (F.col("l_returnflag") == "R").cast("bigint").alias("pos"))
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("np"))
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grouped.withColumn(
        "cum_prev", F.coalesce(F.sum("n").over(w), F.lit(0))
    ).withColumn("avgrank", F.col("cum_prev") + (F.col("n") + 1) / 2.0)
    return ranked.agg(
        F.round(
            (
                F.sum(F.col("np") * F.col("avgrank"))
                - F.sum("np") * (F.sum("np") + 1) / 2.0
            )
            / (F.sum("np") * (F.sum("n") - F.sum("np"))),
            6,
        ).alias("auc"),
        F.sum("np").alias("n_pos"),
        (F.sum("n") - F.sum("np")).alias("n_neg"),
        F.count(F.lit(1)).alias("n_score_groups"),
    )


_SQL_TFIDF = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
toks4 AS (SELECT * FROM toks WHERE length(tok) > 3),
df_tbl AS (
  SELECT tok, count(*)::BIGINT AS df
  FROM (SELECT DISTINCT doc_id, tok FROM toks4) GROUP BY tok
),
tf_tbl AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf
  FROM toks4 WHERE doc_id % 97 = 0 GROUP BY doc_id, tok
),
scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         round(t.tf * (ln(((SELECT count(*) FROM documents) + 1.0)
                          / (d.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf_tbl t JOIN df_tbl d ON t.tok = d.tok
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, tok) AS rnk
  FROM scored
)
SELECT doc_id, rnk::INT AS rnk, tok, tfidf, df
FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


@query(_SQL_TFIDF)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term scoring over the corpus: document frequency from a
    distinct (term, doc) explode, smoothed idf = ln((N+1)/(df+1))+1,
    per-doc term frequency, then top-3 terms per sampled doc by
    tf·idf (ties break lexicographically). The df dimension joins the
    tf fact on term — a hash shuffle at vocab scale; the per-doc top-k
    is a partitioned window that takes Spark's WindowGroupLimit push.
    N arrives as a broadcast 1-row agg (never collected)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).filter(F.length("tok") > 3)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    df_tbl = (
        toks.distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    tf_tbl = (
        toks.filter(F.col("doc_id") % 97 == 0)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        tf_tbl.join(df_tbl, "tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_corpus") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tfidf", "df")
        .orderBy("doc_id", "rnk")
    )


def _logreg_raw_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw binary-classification metrics (accuracy/precision/recall/F1
    at 0.5 + tied-rank AUC) for the separable-label logistic regression
    — kept as the pytest surface (tests/test_ml.py pins the AUC floor);
    the registry entry `logreg_return_metrics` wraps this in
    hash-checked metric-floor bands."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_discount",
        "l_quantity",
        "l_tax",
        F.log1p("l_extendedprice").alias("log_price"),
        (
            (
                F.col("l_discount") * 10.0
                + F.col("l_quantity") / 50.0
                + ((F.col("l_orderkey") % 13) / 13.0 - 0.5) * 0.4
            )
            > 0.8
        ).cast("int").alias("label"),
    )
    fcols = ["l_discount", "l_quantity", "l_tax", "log_price"]
    train, valid = base.randomSplit([0.7, 0.3], seed=42)
    model = mlp.logreg_fit(train, fcols, "label")
    pred = mlp.logreg_predict(model, valid, fcols)
    m = mlp.binary_metrics(pred, "label", "p1")
    return m.select(
        *[
            F.round(F.col(c), 4).alias(c) if c not in ("n_pos", "n_neg") else c
            for c in m.columns
        ]
    )


_SQL_LOGREG_BAND = """
WITH n AS (
  SELECT count(*)::BIGINT AS c FROM lineitem
  WHERE l_discount * 10.0 + l_quantity / 50.0
        + ((l_orderkey % 13) / 13.0 - 0.5) * 0.4 > 0.8
)
SELECT t.band, t.ok, n.c AS n_pos_total
FROM (VALUES ('accuracy_above_08', true), ('auc_above_09', true),
             ('precision_in_unit', true), ('recall_in_unit', true)) AS t(band, ok), n
ORDER BY t.band
"""


@query(_SQL_LOGREG_BAND, bench=False)
def q_logreg_return_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary classification (the ML-surface gap next to M7's
    regression): logistic regression on a deterministic,
    feature-separable label (discount/quantity signal + orderkey
    jitter), seeded 70/30 split, single-pass distributed metrics —
    reported as METRIC-FLOOR BANDS (VERDICT r2 #5; LBFGS coefficients
    are not SQL-replayable, but the label IS deterministic, so the
    oracle independently recomputes the full-corpus positive count and
    pins the floors the separable label guarantees): AUC > 0.9,
    accuracy > 0.8, precision/recall in (0, 1]."""
    m = _logreg_raw_metrics(spark, sf_dir).collect()[0]
    li = _t(spark, sf_dir, "lineitem")
    n_pos_total = li.filter(
        (
            F.col("l_discount") * 10.0
            + F.col("l_quantity") / 50.0
            + ((F.col("l_orderkey") % 13) / 13.0 - 0.5) * 0.4
        )
        > 0.8
    ).count()
    rows = [
        ("accuracy_above_08", bool(m["accuracy"] > 0.8), n_pos_total),
        ("auc_above_09", bool(m["auc"] > 0.9), n_pos_total),
        ("precision_in_unit", bool(0.0 < m["precision"] <= 1.0), n_pos_total),
        ("recall_in_unit", bool(0.0 < m["recall"] <= 1.0), n_pos_total),
    ]
    return tb.local_frame(
        spark, rows, "band string, ok boolean, n_pos_total bigint"
    ).orderBy("band")


_SQL_GAP_FILL = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         count(*)::BIGINT AS n_orders, round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
),
cal AS (
  SELECT unnest(generate_series(
           (SELECT date_trunc('day', min(o_orderdate)) FROM orders),
           (SELECT date_trunc('day', max(o_orderdate)) FROM orders),
           INTERVAL 1 DAY)) AS day
)
SELECT cal.day,
       coalesce(n_orders, 0)::BIGINT AS n_orders,
       coalesce(revenue, 0.0) AS revenue,
       (CASE WHEN n_orders IS NULL THEN 1 ELSE 0 END)::INT AS is_gap,
       coalesce(last_value(revenue IGNORE NULLS)
                  OVER (ORDER BY cal.day ROWS UNBOUNDED PRECEDING),
                0.0) AS filled_revenue
FROM cal LEFT JOIN daily ON cal.day = daily.day
ORDER BY cal.day
"""


@query(_SQL_GAP_FILL)
def q_gap_fill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense calendar (codegen'd
    sequence+explode between the observed min/max day — no driver
    round-trip) left-joins the daily revenue pre-aggregate; missing
    days get n_orders=0 and a forward-filled last-known revenue via
    last(ignorenulls) over the date order. The window is unpartitioned
    but runs over the DAILY PRE-AGGREGATE (time-span-bounded: ~2.4k
    rows for 7 years regardless of fact volume) — the raw shuffle is
    the daily groupBy, which is partial-agg'd map-side."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    cal = (
        orders.agg(
            F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
            F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
        )
        .select(
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cal.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.col("n_orders").isNull().cast("int").alias("is_gap"),
            F.coalesce(
                F.last("revenue", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("filled_revenue"),
        )
        .orderBy("day")
    )


_SQL_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS tv FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS tc
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.tv
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS tp
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.tc
  GROUP BY e.user_id
)
SELECT count(*)::BIGINT AS n_view,
       sum(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_click_after_view,
       sum(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_purchase_after_click,
       round(sum(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS view_to_click,
       round(sum(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END)
             / sum(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE, 6)
         AS click_to_purchase
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


@query(_SQL_FUNNEL)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per user the first
    view, the first click AT OR AFTER that view, and the first purchase
    at or after that click — stage timestamps must respect event order,
    which a plain per-type min would not. Three shuffles on user_id
    (one per stage); each stage is a conditional-min agg joined back,
    the decorrelated form of the correlated MIN subquery the oracle
    states directly. Single-row output of stage counts + rates."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("tv")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    funnel = (
        v.join(c, "user_id", "left").join(p, "user_id", "left")
    )
    n_view = F.count(F.lit(1))
    n_click = F.sum(F.col("tc").isNotNull().cast("bigint"))
    n_purchase = F.sum(F.col("tp").isNotNull().cast("bigint"))
    return funnel.agg(
        n_view.alias("n_view"),
        n_click.alias("n_click_after_view"),
        n_purchase.alias("n_purchase_after_click"),
        F.round(n_click / n_view, 6).alias("view_to_click"),
        F.round(n_purchase / n_click, 6).alias("click_to_purchase"),
    )


_SQL_COHORT = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT cohort_week,
       ((epoch(date_trunc('week', ts)) - epoch(cohort_week))
        / (7 * 86400))::BIGINT AS week_offset,
       count(DISTINCT e.user_id)::BIGINT AS n_active
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query(_SQL_COHORT)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users cohorted by the Monday
    week of their first event; each (cohort_week, week_offset) cell
    counts distinct users active that many weeks later. Two shuffles:
    first-event agg on user_id, then the distinct-count agg on the
    cell key — the first-seen dimension broadcasts back onto events.
    Offsets are exact epoch arithmetic (date_trunc week is
    Monday-start in both engines)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    week_len = F.lit(7 * 86400)
    return (
        ev.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                    - F.unix_timestamp("cohort_week")
                )
                / week_len
            ).cast("bigint").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# Multimodal binary columns (training-data pipeline extension)
# --------------------------------------------------------------------------

_SQL_MULTIMODAL = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         text, encode(text) AS payload
  FROM documents
)
-- sha256(VARCHAR) hashes the UTF-8 bytes — identical input to Spark's
-- sha2(encode(text,'UTF-8')) (this DuckDB build lacks sha256(BLOB))
SELECT media_type, count(*)::BIGINT AS n_items,
       sum(octet_length(payload))::BIGINT AS total_bytes,
       count(DISTINCT sha256(text))::BIGINT AS n_distinct_payloads
FROM m GROUP BY media_type ORDER BY media_type
"""


@query(_SQL_MULTIMODAL)
def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checkable half: documents → opaque
    binary payloads + typed media metadata, then per-media-type size and
    content-hash stats (dedup-by-hash is the exact-dedup primitive for
    binary corpora). sha256/byte-length run JVM-side on both engines."""
    docs = _t(spark, sf_dir, "documents")
    m = mm.synthesize_media(docs, "doc_id", "text")
    return (
        m.select(
            F.col("media.media_type").alias("media_type"),
            F.length("payload").alias("n_bytes"),
            F.sha2("payload", 256).alias("h"),
        )
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("h").alias("n_distinct_payloads"),
        )
        .orderBy("media_type")
    )


def _sql_multimodal_features() -> str:
    bins = ", ".join(
        f"CASE WHEN strlen(text) = 0 THEN 0.0 ELSE"
        f" length(regexp_replace(text, '[^\\x{16 * b:02x}-\\x{16 * b + 15:02x}]', '', 'g'))::DOUBLE"
        f" / strlen(text) END AS f{b}"
        for b in range(4)
    )
    fcols = ", ".join(
        f"round(sum(f{b}::DECIMAL(20,10))::DOUBLE / count(*), 6) AS f{b}"
        for b in range(4)
    )
    return f"""
WITH m AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         strlen(text)::BIGINT AS n_bytes, {bins}
  FROM documents
)
SELECT media_type, count(*)::BIGINT AS n_items,
       round(sum(n_bytes)::DOUBLE / count(*), 6) AS avg_bytes, {fcols}
FROM m GROUP BY media_type ORDER BY media_type
"""


@query(_sql_multimodal_features(), bench=False)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: Arrow-batched mapInPandas decode
    (deterministic byte-level stand-in — real codecs slot into the same
    batch shape) → sha256 + 16-bin byte-histogram embedding; per-type
    feature-vector centroids. The corpus text is printable ASCII, so
    the stand-in decode's byte histogram equals per-char-class counts —
    the oracle recomputes the Python/numpy path exactly in SQL (regex
    char classes per 16-codepoint bin), value-checking the whole
    mapInPandas plumbing. Averages sum in decimal (order-free); the
    histogram ratios themselves are single exact divisions, identical
    across engines."""
    docs = _t(spark, sf_dir, "documents")
    feats = mm.extract_features(mm.synthesize_media(docs, "doc_id", "text"))
    cnt = F.count(F.lit(1))
    return (
        feats.groupBy("media_type")
        .agg(
            cnt.alias("n_items"),
            F.round(F.sum("n_bytes") / cnt, 6).alias("avg_bytes"),
            *[
                F.round(
                    F.sum(F.col("feature")[i].cast("decimal(20,10)")).cast("double")
                    / cnt,
                    6,
                ).alias(f"f{i}")
                for i in range(4)
            ],
        )
        .orderBy("media_type")
    )


def _image_px_stats(per_doc: DataFrame, px_per_image: int) -> DataFrame:
    """Per-source stats of an image codec round trip over per-image rows
    (source, px_sum, px_min, px_max): n_images, avg_px_mean (the mean
    pixel over ``px_per_image`` pixels per image), min_px, max_px."""
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(
                F.sum("px_sum") / (F.count(F.lit(1)) * px_per_image), 6
            ).alias("avg_px_mean"),
            F.min("px_min").alias("min_px"),
            F.max("px_max").alias("max_px"),
        )
        .orderBy("source")
    )


def _video_px_stats(per_doc: DataFrame, px_per_frame: int) -> DataFrame:
    """Per-source stats of a video codec round trip over per-video rows
    (source, n_frames, px_sum, px_min, px_max): n_videos, frames,
    avg_px_mean (the mean pixel over ``px_per_frame`` pixels per
    frame), min_px, max_px."""
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.sum("n_frames").alias("frames"),
            F.round(
                F.sum("px_sum") / (F.sum("n_frames") * px_per_frame), 6
            ).alias("avg_px_mean"),
            F.min("px_min").alias("min_px"),
            F.max("px_max").alias("max_px"),
        )
        .orderBy("source")
    )


_SQL_PNG_ROUNDTRIP = """
WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 29 = 0),
px AS (
  SELECT d.doc_id, d.source,
         (d.doc_id * 31 + y.range * 16 + x.range * 7) % 256 AS px
  FROM d, range(16) y, range(16) x
),
per_doc AS (
  SELECT doc_id, source, sum(px)::BIGINT AS px_sum,
         min(px) AS mn, max(px) AS mx
  FROM px GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_images,
       round(sum(px_sum)::DOUBLE / (count(*) * 256), 6) AS avg_px_mean,
       min(mn)::INT AS min_px, max(mx)::INT AS max_px
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_PNG_ROUNDTRIP)
def q_png_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec round-trip (the un-stubbed multimodal image
    path, VERDICT r2 missing #2): a deterministic 16×16 greyscale grid
    per probe doc — pixel(y, x) = (doc_id·31 + y·16 + x·7) mod 256 —
    is ENCODED to PNG with per-row cycling filters (None/Sub/Up/
    Average/Paeth) and DECODED back through the pure-Python codec
    (`sources/png.py`), all inside one Arrow-batched mapInPandas; the
    decoded pixels' integer sums/extrema aggregate per source.

    The oracle never sees a PNG: it recomputes the same statistics from
    the grid's closed-form arithmetic — so a hash match proves the
    zlib + filter-reconstruction round-trip is lossless for every
    filter type, cross-engine. Integer pixel sums make the comparison
    exact (one final division). Probe set: doc_id % 29 = 0 (codec work
    is per-image Python — bounded like the JW probe set)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 29 == 0).select(
        "doc_id", "source"
    )

    def roundtrip(doc_id, source):
        import numpy as np

        from ..sources.png import read_png, write_png

        y, x = np.mgrid[0:16, 0:16]
        grid = ((int(doc_id) * 31 + y * 16 + x * 7) % 256).astype(np.uint8)
        px = read_png(write_png(grid, filter_type="mixed"))
        if not np.array_equal(px, grid):  # codec must be lossless
            raise ValueError(f"PNG round-trip corrupted doc {doc_id}")
        return (
            int(doc_id), source, int(px.astype(np.int64).sum()), int(px.min()), int(px.max())
        )

    per_doc = tb.map_rows(
        docs, roundtrip, "doc_id bigint, source string, px_sum bigint, px_min int, px_max int"
    )
    return _image_px_stats(per_doc, 256)


_SQL_WAV_ROUNDTRIP = """
WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 31 = 0),
s AS (
  SELECT d.doc_id, d.source, i.range AS i,
         (d.doc_id * 37 + i.range * i.range) % 4001 - 2000 AS c1,
         (d.doc_id * 53 + i.range * 7) % 4001 - 2000 AS c2
  FROM d, range(256) i
),
lagged AS (
  SELECT *, lag(c1) OVER (PARTITION BY doc_id ORDER BY i) AS p1,
            lag(c2) OVER (PARTITION BY doc_id ORDER BY i) AS p2
  FROM s
),
per_doc AS (
  SELECT doc_id, source,
         sum(c1 + c2)::BIGINT AS s_sum,
         sum(c1 * c1 + c2 * c2)::BIGINT AS sq_sum,
         least(min(c1), min(c2))::INT AS s_min,
         greatest(max(c1), max(c2))::INT AS s_max,
         (sum(CASE WHEN p1 IS NOT NULL AND (c1 >= 0) <> (p1 >= 0) THEN 1 ELSE 0 END)
          + sum(CASE WHEN p2 IS NOT NULL AND (c2 >= 0) <> (p2 >= 0) THEN 1 ELSE 0 END))::BIGINT AS zc
  FROM lagged GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_clips,
       sum(s_sum)::BIGINT AS sample_sum,
       round(sqrt(sum(sq_sum)::DOUBLE / (count(*) * 512)), 6) AS rms,
       min(s_min)::INT AS min_sample, max(s_max)::INT AS max_sample,
       sum(zc)::BIGINT AS zero_crossings
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_WAV_ROUNDTRIP)
def q_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec round-trip (the un-stubbed multimodal audio
    path, the WAV twin of `png_roundtrip_stats`): a deterministic
    256-frame STEREO PCM waveform per probe doc —
    ch1[i] = (doc_id·37 + i²) mod 4001 − 2000,
    ch2[i] = (doc_id·53 + i·7) mod 4001 − 2000 —
    is ENCODED to canonical 16-bit RIFF/WAVE and DECODED back through
    `sources/wav.py` inside one Arrow-batched mapInPandas; decoded
    samples feed integer sums/extrema, RMS energy, and per-channel
    zero-crossing counts, aggregated per source.

    The oracle never sees a WAV: it recomputes the statistics from the
    waveform's closed-form arithmetic (zero crossings via a lag window
    over the generated series) — a hash match proves the PCM
    encode/decode round-trip lossless. Probe set doc_id % 31 = 0."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 31 == 0).select(
        "doc_id", "source"
    )

    def roundtrip(doc_id, source):
        import numpy as np

        from ..sources.wav import read_wav, write_wav

        i = np.arange(256, dtype=np.int64)
        ch1 = (int(doc_id) * 37 + i * i) % 4001 - 2000
        ch2 = (int(doc_id) * 53 + i * 7) % 4001 - 2000
        frames = np.stack([ch1, ch2], axis=1)
        decoded, rate = read_wav(write_wav(frames, rate=16_000))
        if rate != 16_000 or not np.array_equal(decoded, frames):
            raise ValueError(f"WAV round-trip corrupted doc {doc_id}")
        return (
            int(doc_id),
            source,
            int(decoded.sum()),
            int((decoded.astype(np.int64) ** 2).sum()),
            int(decoded.min()),
            int(decoded.max()),
            int(((decoded[1:] >= 0) != (decoded[:-1] >= 0)).sum()),  # zero crossings
        )

    per_doc = tb.map_rows(
        docs,
        roundtrip,
        "doc_id bigint, source string, s_sum bigint, sq_sum bigint,"
        " s_min int, s_max int, zc bigint",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("s_sum").alias("sample_sum"),
            F.round(
                F.sqrt(F.sum("sq_sum") / (F.count(F.lit(1)) * 512)), 6
            ).alias("rms"),
            F.min("s_min").alias("min_sample"),
            F.max("s_max").alias("max_sample"),
            F.sum("zc").alias("zero_crossings"),
        )
        .orderBy("source")
    )


_SQL_GIF_ROUNDTRIP = """
WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 37 = 0),
px AS (
  SELECT d.doc_id, d.source,
         (d.doc_id * 11 + f.range * 97 + p.range) % 8 AS idx
  FROM d, range(4) f, range(256) p
),
per_doc AS (
  SELECT doc_id, source, 4 AS n_frames, sum(idx)::BIGINT AS idx_sum,
         min(idx)::INT AS idx_min, max(idx)::INT AS idx_max
  FROM px GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_videos,
       sum(n_frames)::BIGINT AS total_frames,
       sum(idx_sum)::BIGINT AS index_sum,
       min(idx_min)::INT AS min_index, max(idx_max)::INT AS max_index
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_GIF_ROUNDTRIP)
def q_gif_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-codec round-trip (the un-stubbed multimodal video
    path — animated GIF with genuine LZW, `sources/gif.py`): per probe
    doc, four 16×16 frames with palette index
    (doc_id·11 + f·97 + y·16 + x) mod 8 are ENCODED as an animated
    GIF89a (variable-width LZW, sub-block framing) and DECODED back
    inside one Arrow-batched mapInPandas; decoded index sums/extrema
    and the frame count aggregate per source.

    The oracle never sees a GIF: it recomputes the statistics from the
    frame arithmetic — a hash match proves LZW encode/decode lossless
    for every frame. Probe set doc_id % 37 = 0 (the modulus-bounded
    per-item-Python discipline of the PNG/WAV/JW probes)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 37 == 0).select(
        "doc_id", "source"
    )

    def roundtrip(doc_id, source):
        import numpy as np

        from ..sources.gif import read_gif, write_gif

        pal = np.array([[i * 32, i * 32, i * 32] for i in range(8)], np.uint8)
        y, x = np.mgrid[0:16, 0:16]
        frames = [
            ((int(doc_id) * 11 + f * 97 + y * 16 + x) % 8).astype(np.uint8)
            for f in range(4)
        ]
        _p, got = read_gif(write_gif(frames, pal))
        if len(got) != 4 or any(not np.array_equal(a, b) for a, b in zip(got, frames)):
            raise ValueError(f"GIF round-trip corrupted doc {doc_id}")
        stacked = np.stack(got).astype(np.int64)
        return (
            int(doc_id),
            source,
            len(got),
            int(stacked.sum()),
            int(stacked.min()),
            int(stacked.max()),
        )

    per_doc = tb.map_rows(
        docs,
        roundtrip,
        "doc_id bigint, source string, n_frames int, idx_sum bigint,"
        " idx_min int, idx_max int",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.sum("n_frames").alias("total_frames"),
            F.sum("idx_sum").alias("index_sum"),
            F.min("idx_min").alias("min_index"),
            F.max("idx_max").alias("max_index"),
        )
        .orderBy("source")
    )


_SQL_JPEG_ROUNDTRIP = """
WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 41 = 0),
blocks AS (
  SELECT d.doc_id, d.source,
         (d.doc_id * 17 + by.range * 8 + bx.range * 3) % 256 AS bval
  FROM d, range(4) by, range(4) bx
),
per_doc AS (
  SELECT doc_id, source, sum(bval * 64)::BIGINT AS px_sum,
         min(bval) AS mn, max(bval) AS mx
  FROM blocks GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_images,
       round(sum(px_sum)::DOUBLE / (count(*) * 1024), 6) AS avg_px_mean,
       min(mn)::INT AS min_px, max(mx)::INT AS max_px
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_JPEG_ROUNDTRIP)
def q_jpeg_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-image-codec round-trip (the baseline-JPEG twin of
    `png_roundtrip_stats`, VERDICT r3 "Next" #6): a deterministic
    32×32 BLOCK-CONSTANT grayscale image per probe doc — every pixel
    of 8×8 block (by, bx) is (doc_id·17 + by·8 + bx·3) mod 256 — is
    ENCODED to baseline sequential JPEG (SOF0, Annex K Huffman, all-8
    quant) and DECODED back through the pure-Python codec
    (`sources/jpeg.py`: Huffman → dequant → IDCT), all inside one
    Arrow-batched mapInPandas; decoded pixel sums/extrema aggregate
    per source.

    The oracle never sees a JPEG: it recomputes the statistics from
    the block grid's closed-form arithmetic. A hash match proves the
    full DCT entropy pipeline LOSSLESS on this content class — a
    constant block has only the DC coefficient 8·(v−128), which the
    all-8 quantizer carries exactly, so the lossy codec is exact
    precisely where the math says it must be. The same grid re-encoded
    as gray-valued RGB through the 4:2:0 + restart-interval path is
    asserted exact inside the UDF, so the subsampled/DRI machinery is
    pinned by the same hash. Probe set doc_id % 41 = 0 (codec work is
    per-image Python, bounded like the PNG/WAV/GIF probes)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 41 == 0).select(
        "doc_id", "source"
    )

    def roundtrip(doc_id, source):
        import numpy as np

        from ..sources.jpeg import read_jpeg, write_jpeg

        y, x = np.mgrid[0:32, 0:32]
        img = ((int(doc_id) * 17 + (y // 8) * 8 + (x // 8) * 3) % 256).astype(np.uint8)
        px = read_jpeg(write_jpeg(img))
        if not np.array_equal(px, img):  # exact on this class
            raise ValueError(f"JPEG round-trip corrupted doc {doc_id}")
        # the same grid as gray-valued RGB through the 4:2:0 +
        # restart-interval path: Y blocks constant and chroma constant
        # 128 (box-means exactly), so THIS path must also be lossless —
        # pinned by the same oracle hash
        rgb = np.stack([img, img, img], axis=-1)
        px420 = read_jpeg(write_jpeg(rgb, subsampling="420", restart_interval=2))
        if not np.array_equal(px420, rgb):
            raise ValueError(f"JPEG 4:2:0 round-trip corrupted doc {doc_id}")
        return (
            int(doc_id), source, int(px.astype(np.int64).sum()), int(px.min()), int(px.max())
        )

    per_doc = tb.map_rows(
        docs, roundtrip, "doc_id bigint, source string, px_sum bigint, px_min int, px_max int"
    )
    return _image_px_stats(per_doc, 1024)


_SQL_IMAGE_PHASH = """
WITH d AS (SELECT doc_id, doc_id % 31 AS grp, doc_id % 4 + 1 AS kk
           FROM documents WHERE doc_id % 3 = 0),
px AS (
  SELECT d.doc_id, d.grp, y.range AS y, x.range AS x,
         least(255, greatest(0,
           least(191, greatest(64,
             (d.grp * (y.range + 3) * (x.range + 5)
              + y.range * 29 + x.range * 13) % 256))
           + CASE WHEN 0 < d.kk AND y.range = (d.doc_id * 7) % 8
                   AND x.range = (d.doc_id * 11) % 9
                  THEN 64 * (d.doc_id % 3 - 1) ELSE 0 END
           + CASE WHEN 1 < d.kk AND y.range = (d.doc_id * 7 + 13) % 8
                   AND x.range = (d.doc_id * 11 + 17) % 9
                  THEN 64 * ((d.doc_id + 1) % 3 - 1) ELSE 0 END
           + CASE WHEN 2 < d.kk AND y.range = (d.doc_id * 7 + 26) % 8
                   AND x.range = (d.doc_id * 11 + 34) % 9
                  THEN 64 * ((d.doc_id + 2) % 3 - 1) ELSE 0 END
           + CASE WHEN 3 < d.kk AND y.range = (d.doc_id * 7 + 39) % 8
                   AND x.range = (d.doc_id * 11 + 51) % 9
                  THEN 64 * ((d.doc_id + 3) % 3 - 1) ELSE 0 END)) AS p
  FROM d, range(8) y, range(9) x
),
bits AS (
  SELECT a.doc_id, a.grp, a.y * 8 + a.x AS i,
         CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
  FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
  WHERE a.x < 8
),
hashes AS (
  SELECT doc_id, grp,
         sum(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END)::INT AS b0,
         sum(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END)::INT AS b1,
         sum(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END)::INT AS b2,
         sum(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END)::INT AS b3
  FROM bits GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, 0 AS band, b0 AS val FROM hashes
  UNION ALL SELECT doc_id, 1, b1 FROM hashes
  UNION ALL SELECT doc_id, 2, b2 FROM hashes
  UNION ALL SELECT doc_id, 3, b3 FROM hashes
),
cand AS (
  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.ida, c.idb, ha.grp AS ga, hb.grp AS gb,
         bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
         + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)) AS hamming
  FROM cand c
  JOIN hashes ha ON c.ida = ha.doc_id
  JOIN hashes hb ON c.idb = hb.doc_id
)
SELECT hamming::INT AS hamming, count(*)::BIGINT AS n_pairs,
       sum(CASE WHEN ga = gb THEN 1 ELSE 0 END)::BIGINT AS n_same_group,
       sum(ida + idb)::BIGINT AS id_sum
FROM pairs WHERE hamming <= 6
GROUP BY 1 ORDER BY 1
"""


@query(_SQL_IMAGE_PHASH)
def q_image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-duplicate detection end-to-end through
    the REAL PNG codec: each probe doc (doc_id % 3 = 0) renders a
    deterministic 8×9 greyscale thumbnail whose base pattern depends on
    a latent duplicate group g = doc_id % 31 —
    base(y, x) = clamp((g·(y+3)·(x+5) + y·29 + x·13) mod 256, 64, 191)
    — plus k = (doc_id mod 4)+1 per-doc perturbed pixels at
    ((doc_id·7 + 13j) mod 8, (doc_id·11 + 17j) mod 9) of amplitude
    64·((doc_id+j) mod 3 − 1), final clamp to [0, 255]; each ±64 spike
    flips ≤2 difference-hash comparisons, so same-group thumbnails
    spread over Hamming 0–6 while cross-group thumbnails sit ~32 bits
    apart. The thumbnail is ENCODED to PNG and DECODED back
    (`sources/png.py`) inside one Arrow-batched mapInPandas; the 64-bit
    dHash — bit(y, x) = px[y, x] < px[y, x+1] — is computed from the
    DECODED pixels and packed into four 16-bit band values.

    Candidate pairs come from a banded-LSH equi-join (any shared
    16-bit band), exact-verified with bit_count(xor) Hamming ≤ 6 —
    never all-pairs, the same bucketed shape as the MinHash text path
    (`operators/dedup.py`). The oracle recomputes pixels, dHash bits,
    bands, the band join, and the Hamming census in pure SQL from the
    closed-form arithmetic — it never sees a PNG, so a hash match
    proves decode-loop fidelity AND the LSH candidate semantics
    (including genuinely-missed pairs whose ≤6 flips straddle all four
    bands) cross-engine. 100 TB shape: per-image Python is map-only
    over a bounded probe set; the joins are integer-keyed shuffles."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0).select(
        "doc_id"
    )

    def dhash(doc_id):
        import numpy as np

        from ..sources.png import read_png, write_png

        d = int(doc_id)
        g = d % 31
        y, x = np.mgrid[0:8, 0:9]
        base = (g * (y + 3) * (x + 5) + y * 29 + x * 13) % 256
        grid = np.clip(base, 64, 191).astype(np.int64)
        for j in range(d % 4 + 1):
            # scalar-indexed += so coinciding spike positions ACCUMULATE
            # (fancy-index += would apply only once, diverging from the
            # oracle's summed CASE terms)
            grid[(d * 7 + 13 * j) % 8, (d * 11 + 17 * j) % 9] += 64 * ((d + j) % 3 - 1)
        grid = np.clip(grid, 0, 255).astype(np.uint8)
        px = read_png(write_png(grid, filter_type="mixed"))
        if not np.array_equal(px, grid):
            raise ValueError(f"PNG round-trip corrupted doc {d}")
        bits = (
            px[:, :8].astype(np.int64) < px[:, 1:].astype(np.int64)
        ).astype(np.int64).ravel()  # i = y*8 + x
        bands = [int((bits[k * 16 : (k + 1) * 16] << np.arange(16)).sum()) for k in range(4)]
        return (d, g, *bands)

    # r9: `hashes` is consumed THREE times (band explode + both verify
    # sides), so the per-image Python PNG encode→decode ran 3× per
    # image; and the probe scan is one task at fixture scale, so it ran
    # single-core. Spread the compact doc_id rows before the Python
    # boundary (guide §2.5/§4) and materialize the 6-int hash rows once
    # (guide §5).

    hashes = tb.map_rows(
        spr.spread(docs), dhash, "doc_id bigint, grp int, b0 int, b1 int, b2 int, b3 int"
    ).localCheckpoint(eager=False)
    bands = hashes.select(
        "doc_id", F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "val")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("ida"),
        F.col("grp").alias("ga"),
        *[F.col(c).alias(c + "a") for c in ["b0", "b1", "b2", "b3"]],
    )
    hb = hashes.select(
        F.col("doc_id").alias("idb"),
        F.col("grp").alias("gb"),
        *[F.col(c).alias(c + "b") for c in ["b0", "b1", "b2", "b3"]],
    )
    return (
        cand.join(ha, "ida")
        .join(hb, "idb")
        .withColumn(
            "hamming",
            F.expr(
                "bit_count(b0a ^ b0b) + bit_count(b1a ^ b1b)"
                " + bit_count(b2a ^ b2b) + bit_count(b3a ^ b3b)"
            ),
        )
        .filter(F.col("hamming") <= 6)
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("ga") == F.col("gb"), 1).otherwise(0)).alias(
                "n_same_group"
            ),
            F.sum(F.col("ida") + F.col("idb")).alias("id_sum"),
        )
        .orderBy("hamming")
    )


_SQL_FLAC_ROUNDTRIP = """
WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 37 = 0),
s AS (
  SELECT d.doc_id, d.source,
         (d.doc_id * 13 + i.range * 3) % 2001 - 1000 AS c1,
         (d.doc_id * 29 + i.range * i.range) % 1999 - 999 AS c2
  FROM d, range(256) i
),
per_doc AS (
  SELECT doc_id, source,
         sum(c1 + c2)::BIGINT AS s_sum,
         sum(c1 * c1 + c2 * c2)::BIGINT AS sq_sum,
         least(min(c1), min(c2))::INT AS s_min,
         greatest(max(c1), max(c2))::INT AS s_max
  FROM s GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_clips,
       sum(s_sum)::BIGINT AS sample_sum,
       round(sqrt(sum(sq_sum)::DOUBLE / (count(*) * 512)), 6) AS rms,
       min(s_min)::INT AS min_sample, max(s_max)::INT AS max_sample
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_FLAC_ROUNDTRIP)
def q_flac_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio-codec round-trip (the FLAC twin of
    `wav_roundtrip_stats` — genuine Rice entropy coding + fixed linear
    prediction, `sources/flac.py`): a deterministic 256-frame STEREO
    waveform per probe doc —
    ch1[i] = (doc_id·13 + i·3) mod 2001 − 1000   (sawtooth),
    ch2[i] = (doc_id·29 + i²) mod 1999 − 999     (quadratic) —
    is ENCODED to a fixed-blocksize FLAC stream (per-frame best FIXED
    predictor, best-k Rice residuals) and DECODED back inside one
    Arrow-batched mapInPandas. Both channels have near-constant
    second differences, so the UDF also asserts the stream is SMALLER
    than raw 16-bit PCM — a hash match therefore proves the codec is
    simultaneously lossless AND actually compressing, i.e. the
    prediction/entropy machinery ran for real, not a verbatim copy.

    The oracle never sees a FLAC stream: it recomputes the statistics
    from the waveform's closed-form arithmetic. Probe set
    doc_id % 37 = 0 (per-clip Python codec work, bounded like the
    PNG/WAV/GIF/JPEG probes)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 37 == 0).select(
        "doc_id", "source"
    )

    def roundtrip(doc_id, source):
        import numpy as np

        from ..sources.flac import read_flac, write_flac

        i = np.arange(256, dtype=np.int64)
        ch1 = (int(doc_id) * 13 + i * 3) % 2001 - 1000
        ch2 = (int(doc_id) * 29 + i * i) % 1999 - 999
        frames = np.stack([ch1, ch2], axis=1)
        enc = write_flac(frames, rate=16_000, bps=16, blocksize=256)
        decoded, rate = read_flac(enc)
        if rate != 16_000 or not np.array_equal(decoded, frames):
            raise ValueError(f"FLAC round-trip corrupted doc {doc_id}")
        if len(enc) >= frames.size * 2:  # must beat raw PCM
            raise ValueError(f"FLAC failed to compress doc {doc_id}")
        return (
            int(doc_id),
            source,
            int(decoded.sum()),
            int((decoded.astype(np.int64) ** 2).sum()),
            int(decoded.min()),
            int(decoded.max()),
        )

    per_doc = tb.map_rows(
        docs,
        roundtrip,
        "doc_id bigint, source string, s_sum bigint, sq_sum bigint,"
        " s_min int, s_max int",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("s_sum").alias("sample_sum"),
            F.round(
                F.sqrt(F.sum("sq_sum") / (F.count(F.lit(1)) * 512)), 6
            ).alias("rms"),
            F.min("s_min").alias("min_sample"),
            F.max("s_max").alias("max_sample"),
        )
        .orderBy("source")
    )


_SQL_MP4_MANIFEST = """
WITH d AS (SELECT doc_id, source, 8 + doc_id % 13 AS n
           FROM documents WHERE doc_id % 43 = 0),
s AS (
  SELECT d.doc_id, d.source, i.range AS i,
         (d.doc_id + i.range * 7) % 200 + 1 AS len,
         (i.range % 5) + 1 AS dur
  FROM d, range(20) i
  WHERE i.range < d.n
),
per_doc AS (
  SELECT doc_id, source,
         count(*)::INT AS n_samples,
         sum(len)::BIGINT AS total_bytes,
         sum(dur)::BIGINT AS total_dur,
         sum(CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END)::INT AS kept_samples,
         sum(CASE WHEN i % 3 = 0 THEN len ELSE 0 END)::BIGINT AS kept_bytes
  FROM s GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_videos,
       sum(n_samples)::BIGINT AS samples,
       sum(total_bytes)::BIGINT AS sample_bytes,
       sum(total_dur)::BIGINT AS duration_ticks,
       sum(kept_samples)::BIGINT AS kept_samples,
       sum(kept_bytes)::BIGINT AS kept_bytes
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_MP4_MANIFEST)
def q_mp4_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-CONTAINER round-trip (`sources/mp4.py`, ISO/IEC
    14496-12): per probe doc a deterministic single-track MP4 —
    n = 8 + doc_id mod 13 samples, sample i of length
    (doc_id + i·7) mod 200 + 1 bytes with duration (i mod 5) + 1 — is
    MUXED (ftyp/mdat/moov with full stsz/stsc/stco/stts tables),
    PARSED back, and its samples byte-compared; then the curation
    operation itself runs: keep every 3rd sample, RE-MUX, RE-PARSE,
    byte-compare again. The manifest aggregates per source.

    The oracle never sees an MP4: it recomputes sample counts/sizes/
    durations from the closed-form arithmetic — a hash match proves
    the sample-table resolution (chunk offsets, size tables, duration
    runs) and the re-mux are exact. This is the layer a 100 TB video
    pipeline actually touches (frame manifests + sample slicing, no
    codec decode). Probe set doc_id % 43 = 0."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 43 == 0).select(
        "doc_id", "source"
    )

    def remux(doc_id, source):
        from ..sources.mp4 import extract_samples, read_mp4, write_mp4

        d = int(doc_id)
        n = 8 + d % 13
        samples = [bytes([(d + i) % 256]) * ((d + i * 7) % 200 + 1) for i in range(n)]
        durs = [(i % 5) + 1 for i in range(n)]
        data = write_mp4(samples, timescale=600, durations=durs)
        (trk,) = read_mp4(data)
        if extract_samples(data, trk) != samples or trk.sample_durations != durs:
            raise ValueError(f"MP4 sample tables corrupted doc {doc_id}")
        kept = extract_samples(data, trk)[::3]
        data2 = write_mp4(kept, timescale=600, durations=trk.sample_durations[::3])
        (trk2,) = read_mp4(data2)
        if extract_samples(data2, trk2) != samples[::3]:
            raise ValueError(f"MP4 re-mux corrupted doc {doc_id}")
        return (
            d,
            source,
            n,
            sum(len(s) for s in samples),
            sum(durs),
            len(kept),
            sum(len(s) for s in kept),
        )

    per_doc = tb.map_rows(
        docs,
        remux,
        "doc_id bigint, source string, n_samples int, total_bytes bigint,"
        " total_dur bigint, kept_samples int, kept_bytes bigint",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.sum("n_samples").alias("samples"),
            F.sum("total_bytes").alias("sample_bytes"),
            F.sum("total_dur").alias("duration_ticks"),
            F.sum("kept_samples").alias("kept_samples"),
            F.sum("kept_bytes").alias("kept_bytes"),
        )
        .orderBy("source")
    )


_SQL_MJPEG_MP4 = """
WITH d AS (SELECT doc_id, source, 2 + doc_id % 3 AS n
           FROM documents WHERE doc_id % 53 = 0),
blocks AS (
  SELECT d.doc_id, d.source, d.n,
         (d.doc_id * 17 + k.range * 31 + by.range * 8 + bx.range * 3) % 256
           AS bval
  FROM d, range(5) k, range(2) by, range(2) bx
  WHERE k.range < d.n
),
per_doc AS (
  SELECT doc_id, source, max(n)::INT AS n_frames,
         sum(bval * 64)::BIGINT AS px_sum,
         min(bval)::INT AS mn, max(bval)::INT AS mx
  FROM blocks GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_videos,
       sum(n_frames)::BIGINT AS frames,
       round(sum(px_sum)::DOUBLE / (sum(n_frames) * 256), 6) AS avg_px_mean,
       min(mn)::INT AS min_px, max(mx)::INT AS max_px
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_MJPEG_MP4)
def q_mjpeg_mp4_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END video FRAME pixel decode (VERDICT r4 "Next" #4):
    Motion-JPEG in MP4 — the composition of the two real codecs. Per
    probe doc (doc_id % 53 = 0) n = 2 + doc_id mod 3 frames are
    rendered as 16×16 BLOCK-CONSTANT grayscale images — every pixel of
    8×8 block (by, bx) of frame k is (doc_id·17 + k·31 + by·8 + bx·3)
    mod 256 — individually ENCODED to baseline JPEG
    (`sources/jpeg.py`), MUXED into a single-track MP4 with codec
    fourcc 'jpeg' (`sources/mp4.py`), then decoded back through the
    production path `multimodal.decode_media(payload, "video")`, which
    slices the sample byte ranges out of the container and JPEG-decodes
    each frame. Decoded pixels are asserted equal to the rendered
    frames inside the UDF (constant 8×8 blocks are exactly representable
    — only the DC coefficient survives, carried exactly by the all-8
    quantizer), and per-doc pixel statistics aggregate per source.

    The oracle never sees an MP4 or a JPEG: it recomputes the stats
    from the block grid's closed-form arithmetic, so a hash match
    proves container slicing ∘ JPEG entropy pipeline LOSSLESS on this
    content class. 100 TB shape: map-only per-item Python over a
    bounded probe set inside Arrow batches; the aggregate is a
    doc-keyed hash-agg."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 53 == 0).select(
        "doc_id", "source"
    )

    def roundtrip(doc_id, source):
        import numpy as np

        from ..sources.jpeg import write_jpeg
        from ..sources.mp4 import write_mp4
        from ..sources.multimodal import decode_media

        d = int(doc_id)
        n = 2 + d % 3
        y, x = np.mgrid[0:16, 0:16]
        frames = [
            ((d * 17 + k * 31 + (y // 8) * 8 + (x // 8) * 3) % 256).astype(np.uint8)
            for k in range(n)
        ]
        mp4 = write_mp4(
            [write_jpeg(f) for f in frames],
            timescale=600,
            durations=[25] * n,
            handler="vide",
            codec="jpeg",
        )
        px = decode_media(mp4, "video")  # (n, 16, 16) uint8
        if px.shape != (n, 16, 16) or not all(
            np.array_equal(px[k], frames[k]) for k in range(n)
        ):
            raise ValueError(f"MJPEG-MP4 frame decode corrupted doc {d}")
        return (d, source, n, int(px.astype(np.int64).sum()), int(px.min()), int(px.max()))

    per_doc = tb.map_rows(
        docs,
        roundtrip,
        "doc_id bigint, source string, n_frames int, px_sum bigint,"
        " px_min int, px_max int",
    )
    return _video_px_stats(per_doc, 256)


_SQL_WEBP_ROUNDTRIP = """
WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 59 = 0),
px AS (
  SELECT d.doc_id, d.source, ch.v AS px
  FROM d, range(16) y, range(16) x,
       LATERAL (VALUES ((d.doc_id * 17 + y.range * 7 + x.range * 3) % 256),
                       ((d.doc_id * 31 + y.range * 16 + x.range * 7) % 256),
                       ((d.doc_id * 13 + y.range * 5 + x.range * 11) % 256)) ch(v)
),
per_doc AS (
  SELECT doc_id, source, sum(px)::BIGINT AS px_sum,
         min(px) AS mn, max(px) AS mx
  FROM px GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_images,
       round(sum(px_sum)::DOUBLE / (count(*) * 768), 6) AS avg_px_mean,
       min(mn)::INT AS min_px, max(mx)::INT AS max_px
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_WEBP_ROUNDTRIP)
def q_webp_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless round-trip (the VP8L codec `sources/webp.py`
    — RFC 9649 §4 — continuing the PNG/JPEG/BMP image-codec family): a
    deterministic 16×16 RGB grid per probe doc —
    r(y, x) = (doc_id·17 + y·7 + x·3) mod 256,
    g(y, x) = (doc_id·31 + y·16 + x·7) mod 256,
    b(y, x) = (doc_id·13 + y·5 + x·11) mod 256 —
    is ENCODED to a RIFF/WEBP VP8L bitstream (canonical prefix codes
    built per channel by package-merge) and DECODED back through the
    production path `multimodal.decode_media(payload, "image")` inside
    one Arrow-batched mapInPandas; equality is asserted per image and
    the decoded pixels' integer sums/extrema aggregate per source.

    The oracle never sees a WebP: it recomputes the statistics from the
    grid's closed-form arithmetic — a hash match proves the prefix-code
    round-trip lossless cross-engine. Probe set doc_id % 59 = 0
    (bounded per-image Python, the `png_roundtrip_stats` pattern)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 59 == 0).select(
        "doc_id", "source"
    )

    def roundtrip(doc_id, source):
        import numpy as np

        from ..sources.multimodal import decode_media
        from ..sources.webp import write_webp

        d = int(doc_id)
        y, x = np.mgrid[0:16, 0:16]
        img = np.stack(
            [
                (d * 17 + y * 7 + x * 3) % 256,
                (d * 31 + y * 16 + x * 7) % 256,
                (d * 13 + y * 5 + x * 11) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        px = decode_media(write_webp(img), "image")
        if not np.array_equal(px, img):  # codec must be lossless
            raise ValueError(f"WebP round-trip corrupted doc {d}")
        return (d, source, int(px.astype(np.int64).sum()), int(px.min()), int(px.max()))

    per_doc = tb.map_rows(
        docs, roundtrip, "doc_id bigint, source string, px_sum bigint, px_min int, px_max int"
    )
    return _image_px_stats(per_doc, 768)


_SQL_MP3_CENSUS = """
WITH kb(idx, kbps) AS (VALUES (1,32),(2,40),(3,48),(4,56),(5,64),(6,80),(7,96),
                              (8,112),(9,128),(10,160),(11,192),(12,224),(13,256),(14,320)),
d AS (SELECT doc_id, source,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS rate
      FROM documents WHERE doc_id % 47 = 0),
f AS (
  SELECT d.doc_id, d.source, d.rate, kb.kbps,
         (144 * kb.kbps * 1000) // d.rate AS frame_bytes
  FROM d, range(6) j
  JOIN kb ON kb.idx = (d.doc_id + j.range * 3) % 14 + 1
),
per_doc AS (
  SELECT doc_id, source,
         count(*)::INT AS n_frames,
         sum(frame_bytes)::BIGINT AS stream_bytes,
         (count(*) * 1152)::BIGINT AS pcm_samples,
         sum(kbps)::BIGINT AS kbps_sum
  FROM f GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_streams,
       sum(n_frames)::BIGINT AS frames,
       sum(stream_bytes)::BIGINT AS stream_bytes,
       sum(pcm_samples)::BIGINT AS pcm_samples,
       round(sum(kbps_sum)::DOUBLE / sum(n_frames), 6) AS mean_kbps
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_MP3_CENSUS)
def q_mp3_frame_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-audio metadata walk (`sources/mp3.py`, ISO/IEC
    11172-3 §2.4.1): per probe doc a spec-valid Layer III stream of 6
    frames with bitrate index (doc_id + j·3) mod 14 + 1 at sample-rate
    index doc_id mod 3 is SYNTHESIZED (headers + sized payloads) and
    WALKED frame-by-frame; per-frame bitrate and exact frame byte
    length (144·kbps·1000 ÷ rate, integer) aggregate per source —
    the ffprobe-style duration/bitrate census a curation pipeline
    runs over audio shards.

    The oracle recomputes the walk from the header arithmetic and the
    published V1-L3 bitrate table — a hash match proves the frame-size
    formula and stream walk exact. Integer-only outputs (sample
    counts, byte totals, summed kbps) keep the comparison exact.
    Probe set doc_id % 47 = 0."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 47 == 0).select(
        "doc_id", "source"
    )

    def walk(doc_id, source):
        from ..sources.mp3 import read_mp3_frames, write_mp3_stream

        d = int(doc_id)
        stream = write_mp3_stream([(d + j * 3) % 14 + 1 for j in range(6)], sr_idx=d % 3)
        frames = read_mp3_frames(stream)
        if len(frames) != 6 or len(stream) != sum(f.frame_bytes for f in frames):
            raise ValueError(f"MP3 walk lost frames doc {doc_id}")
        return (
            d,
            source,
            len(frames),
            sum(f.frame_bytes for f in frames),
            sum(f.n_samples for f in frames),
            sum(f.bitrate_kbps for f in frames),
        )

    per_doc = tb.map_rows(
        docs,
        walk,
        "doc_id bigint, source string, n_frames int, stream_bytes bigint,"
        " pcm_samples bigint, kbps_sum bigint",
    )
    cnt = F.count(F.lit(1))
    return (
        per_doc.groupBy("source")
        .agg(
            cnt.alias("n_streams"),
            F.sum("n_frames").alias("frames"),
            F.sum("stream_bytes").alias("stream_bytes"),
            F.sum("pcm_samples").alias("pcm_samples"),
            F.round(F.sum("kbps_sum") / F.sum("n_frames"), 6).alias("mean_kbps"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Sentiment (SURVEY §2.9 M11 + A5/W3)
# --------------------------------------------------------------------------

_CLEAN_TEXT_SQL = (
    "trim(regexp_replace(regexp_replace(regexp_replace(lower(text), "
    r"'http\S+|www\S+|https\S+', ' ', 'g'), '[^a-zA-Z\s]', ' ', 'g'), "
    r"'\s+', ' ', 'g'))"
)


def _sql_sentiment_docs() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array({_CLEAN_TEXT_SQL}, '\\s+')) AS w
  FROM documents
),
pol AS (
  SELECT t.doc_id, avg(p.valence) AS pol
  FROM toks t JOIN {sn.lexicon_sql_values(0, 'p')} ON t.w = p.word GROUP BY 1
),
subj AS (
  SELECT t.doc_id, avg(s.valence) AS subj
  FROM toks t JOIN {sn.lexicon_sql_values(1, 's')} ON t.w = s.word GROUP BY 1
),
scored AS (
  SELECT d.doc_id, round(coalesce(pol.pol, 0.0), 6) AS pol,
         round(coalesce(subj.subj, 0.0), 6) AS subj
  FROM documents d LEFT JOIN pol USING (doc_id) LEFT JOIN subj USING (doc_id)
)
SELECT CASE WHEN pol > 0.1 THEN 'positive' WHEN pol < -0.1 THEN 'negative'
            ELSE 'neutral' END AS category,
       count(*)::BIGINT AS n,
       round(avg(pol), 6) AS avg_polarity,
       round(avg(subj), 6) AS avg_subjectivity
FROM scored GROUP BY 1 ORDER BY category
"""


@query(_sql_sentiment_docs())
def q_sentiment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 — lexicon polarity/subjectivity (TextBlob-shaped: mean
    valence of matched tokens, 0.0 when none) + 3-way categorization at
    ±0.1, summarized per category. All JVM column expressions."""
    docs = _t(spark, sf_dir, "documents")
    # per-doc scores rounded to 6dp BEFORE the ±0.1 threshold: engines
    # agree to ~1e-15 but a doc landing within fp-noise of the boundary
    # would otherwise classify differently on the two sides
    scored = docs.select(
        "doc_id",
        F.round(sn.polarity("text"), 6).alias("pol"),
        F.round(sn.subjectivity("text"), 6).alias("subj"),
    )
    return (
        scored.select(sn.sentiment_category(F.col("pol")).alias("category"), "pol", "subj")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("pol"), 6).alias("avg_polarity"),
            F.round(F.avg("subj"), 6).alias("avg_subjectivity"),
        )
        .orderBy("category")
    )


_SQL_H264_IPCM = """
WITH d AS (SELECT doc_id, source, 2 + doc_id % 3 AS n
           FROM documents WHERE doc_id % 59 = 0),
px AS (
  SELECT d.doc_id, d.source, d.n,
         (d.doc_id * 13 + k.range * 41 + y.range * 16 + x.range * 7) % 256
           AS pval
  FROM d, range(5) k, range(16) y, range(32) x
  WHERE k.range < d.n
),
per_doc AS (
  SELECT doc_id, source, max(n)::INT AS n_frames,
         sum(pval)::BIGINT AS px_sum,
         min(pval)::INT AS mn, max(pval)::INT AS mx
  FROM px GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_videos,
       sum(n_frames)::BIGINT AS frames,
       round(sum(px_sum)::DOUBLE / (sum(n_frames) * 512), 6) AS avg_px_mean,
       min(mn)::INT AS min_px, max(mx)::INT AS max_px
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_H264_IPCM)
def q_h264_ipcm_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 decode through the production path (VERDICT r5 "Next"
    #6): per probe doc (doc_id % 59 = 0), n = 2 + doc_id mod 3 frames
    of 16×32 gray with per-pixel values (doc_id·13 + k·41 + y·16 + x·7)
    mod 256 are encoded to a CONFORMANT baseline Annex-B H.264 stream
    of I_PCM-only IDR frames (`sources/h264.write_annexb_ipcm` — SPS/
    PPS/slice headers, exp-Golomb, emulation-prevention bytes all
    real), then decoded back through `multimodal.decode_media(payload,
    "video")` → Annex-B sniff → NAL split → SPS/PPS parse → slice +
    macroblock decode. I_PCM is lossless, so decoded pixels are
    asserted equal INSIDE the UDF and the oracle recomputes the pixel
    statistics from the closed-form grid — a hash match proves the
    whole bitstream layer round-trips bit-exactly. The CAVLC residual
    path stays a named boundary (`sources/h264.py` docstring). 100 TB
    shape: map-only Arrow-batched probe set; doc-keyed hash-agg."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 59 == 0).select(
        "doc_id", "source"
    )

    def roundtrip(doc_id, source):
        import numpy as np

        from ..sources.h264 import write_annexb_ipcm
        from ..sources.multimodal import decode_media

        d = int(doc_id)
        n = 2 + d % 3
        y, x = np.mgrid[0:16, 0:32]
        frames = [
            ((d * 13 + k * 41 + y * 16 + x * 7) % 256).astype(np.uint8) for k in range(n)
        ]
        px = decode_media(write_annexb_ipcm(frames), "video")  # (n, 16, 32) uint8
        if px.shape != (n, 16, 32) or not all(
            np.array_equal(px[k], frames[k]) for k in range(n)
        ):
            raise ValueError(f"H.264 I_PCM decode corrupted doc {d}")
        return (d, source, n, int(px.astype(np.int64).sum()), int(px.min()), int(px.max()))

    per_doc = tb.map_rows(
        docs,
        roundtrip,
        "doc_id bigint, source string, n_frames int, px_sum bigint,"
        " px_min int, px_max int",
    )
    return _video_px_stats(per_doc, 512)


def _sql_pattern_walk(src: str = "documents") -> str:
    """The PatternAnalyzer state machine as a recursive CTE over any
    (doc_id, text) source CTE/table — emits CTEs `toks`, `walk`,
    `final`, `scored` (doc_id, pol, subj). Shared by the corpus query
    and the lab-4 golden fixture."""
    negs = sn.negations_sql_list()
    clamp_pi = "greatest(-1.0, least(1.0, lex.p * w.oi))"
    clamp_si = "greatest(-1.0, least(1.0, lex.s * w.oi))"
    close_p = "w.sum_p + (CASE WHEN w.open THEN w.op * (CASE WHEN w.oneg THEN -0.5 ELSE 1.0 END) ELSE 0.0 END)"
    close_s = "w.sum_s + (CASE WHEN w.open THEN w.os ELSE 0.0 END)"
    close_c = "w.cnt + (CASE WHEN w.open THEN 1.0 ELSE 0.0 END)"
    is_neg = f"t.w IN {negs}"
    is_lex = "lex.word IS NOT NULL"
    ext = f"(NOT ({is_neg})) AND {is_lex} AND w.open AND w.omod"
    fresh = f"(NOT ({is_neg})) AND {is_lex} AND NOT (w.open AND w.omod)"
    return f"""toks AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
  FROM (SELECT doc_id, regexp_split_to_array({_CLEAN_TEXT_SQL}, '\\s+') AS l FROM {src})
),
walk(doc_id, pos, sum_p, sum_s, cnt, open, op, os, oneg, omod, oi, neg) AS (
  SELECT doc_id, 0, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, false,
         0.0::DOUBLE, 0.0::DOUBLE, false, false, 1.0::DOUBLE, false
  FROM {src}
  UNION ALL
  SELECT w.doc_id, t.pos,
    CASE WHEN {fresh} THEN {close_p} ELSE w.sum_p END,
    CASE WHEN {fresh} THEN {close_s} ELSE w.sum_s END,
    CASE WHEN {fresh} THEN {close_c} ELSE w.cnt END,
    CASE WHEN ({is_neg}) OR NOT {is_lex} THEN w.open ELSE true END,
    CASE WHEN {ext} THEN {clamp_pi} WHEN {fresh} THEN lex.p ELSE w.op END,
    CASE WHEN {ext} THEN {clamp_si} WHEN {fresh} THEN lex.s ELSE w.os END,
    CASE WHEN {ext} THEN w.oneg WHEN {fresh} THEN w.neg ELSE w.oneg END,
    CASE WHEN {ext} OR {fresh} THEN lex.i <> 1.0 WHEN {is_neg} THEN w.omod ELSE false END,
    CASE WHEN {ext} THEN lex.i WHEN {fresh} THEN (CASE WHEN w.neg THEN 1.0 / lex.i ELSE lex.i END) ELSE w.oi END,
    CASE WHEN {is_neg} THEN true ELSE false END
  FROM walk w
  JOIN toks t ON t.doc_id = w.doc_id AND t.pos = w.pos + 1
  LEFT JOIN {sn.pattern_lexicon_sql_values('lex')} ON lex.word = t.w
),
final AS (
  SELECT w.doc_id,
         {close_p} AS tot_p, {close_s} AS tot_s, {close_c} AS tot_c
  FROM walk w
  JOIN (SELECT doc_id, max(pos) AS mx FROM toks GROUP BY 1) m
    ON m.doc_id = w.doc_id AND w.pos = m.mx
),
scored AS (
  SELECT doc_id,
         round(CASE WHEN tot_c > 0 THEN tot_p / tot_c ELSE 0.0 END, 6) AS pol,
         round(CASE WHEN tot_c > 0 THEN tot_s / tot_c ELSE 0.0 END, 6) AS subj
  FROM final
)"""


def _sql_sentiment_pattern_docs() -> str:
    return f"""
WITH RECURSIVE {_sql_pattern_walk("documents")}
SELECT CASE WHEN pol > 0.1 THEN 'positive' WHEN pol < -0.1 THEN 'negative'
            ELSE 'neutral' END AS category,
       count(*)::BIGINT AS n,
       round(avg(pol), 6) AS avg_polarity,
       round(avg(subj), 6) AS avg_subjectivity
FROM scored GROUP BY 1 ORDER BY category
"""


@query(_sql_sentiment_pattern_docs())
def q_sentiment_pattern_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 at TextBlob parity — PatternAnalyzer's stateful assessment
    chain (intensifier multiply+clamp, negation ×−0.5 with inverted
    pending intensity, unknown-word chain break) as one JVM `aggregate`
    fold per document; per-category census + mean polarity /
    subjectivity. The oracle replays the FULL state machine as a
    recursive CTE stepping token positions — every branch of the fold
    is value-checked cross-engine (lab4 nb cell 13 semantics)."""
    # only the columns the fold reads cross the spread exchange
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = sn.with_pattern_scores(docs, "text").select(
        "doc_id",
        F.round(F.col("_sc")["polarity"], 6).alias("pol"),
        F.round(F.col("_sc")["subjectivity"], 6).alias("subj"),
    )
    return (
        scored.select(sn.sentiment_category(F.col("pol")).alias("category"), "pol", "subj")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("pol"), 6).alias("avg_polarity"),
            F.round(F.avg("subj"), 6).alias("avg_subjectivity"),
        )
        .orderBy("category")
    )


# Lab-4 golden band (VERDICT r2 #3): a reference-distribution fixture —
# review-shaped texts drawn deterministically so the engine's sentiment
# pipeline reproduces BASELINE.md's lab-4 aggregates (80.73% pos /
# 4.63% neg / 14.64% neu split, mean polarity 0.2663, mean subjectivity
# 0.5751 — lab4 nb cell 19, json 1766) within explicit bands. The
# bucket key spreads doc_ids over residues with a Knuth multiplicative
# hash (engine-portable integer arithmetic, uniform for contiguous ids
# at every SF).
_LAB4_POS_TPL = [
    "sweet little cafe with a cool vibe",
    "the staff was nice and the service fast",
    "we were glad the portions were sufficient",
    "cute patio and fair prices",
    "a unique menu worth exploring",
    "the location is easy to reach",
    "quaint decor throughout the dining room",
    "the gumbo had a cool smoky note",
    "decent coffee and a fun crowd",
    "sweet rolls and honest prices",
]
_LAB4_NEG_TPL = [
    "terrible service and the food was cold",
    "the room was dirty and the staff rude",
    "awful experience we were very disappointed",
    "bland overpriced food and slow service",
    "worst meal ever totally disgusting",
]
_LAB4_NEU_TPL = [
    "we ordered the lunch menu and sat by the window",
    "the restaurant is on the corner of the street",
    "they open at noon on weekdays and close at ten",
    "parking is behind the building near the entrance",
    "the menu lists seafood pasta and salads",
]
#: (metric, BASELINE.md target, band tolerance)
_LAB4_TARGETS = [
    ("mean_polarity", 0.2663, 0.02),
    ("mean_subjectivity", 0.5751, 0.03),
    ("neg_share", 0.0463, 0.01),
    ("neu_share", 0.1464, 0.01),
    ("pos_share", 0.8073, 0.01),
]
_LAB4_MULT = 2654435761  # Knuth 2^32/phi, odd & coprime to 1000


def _sql_lab4_golden() -> str:
    def arm(tpls: list[str]) -> str:
        branches = " ".join(
            f"WHEN {i} THEN '{t}'" for i, t in enumerate(tpls)
        )
        return f"CASE b % {len(tpls)} {branches} END"

    case = (
        f"CASE WHEN b < 807 THEN {arm(_LAB4_POS_TPL)}"
        f" WHEN b < 854 THEN {arm(_LAB4_NEG_TPL)}"
        f" ELSE {arm(_LAB4_NEU_TPL)} END"
    )
    metrics = " UNION ALL ".join(
        f"SELECT '{m}' AS metric, {expr} AS value, {t} AS target, {tol} AS tol FROM agg"
        for (m, t, tol), expr in zip(
            _LAB4_TARGETS,
            [
                "round(sp::DOUBLE / n, 6)",
                "round(ss::DOUBLE / n, 6)",
                "round(n_neg::DOUBLE / n, 6)",
                "round((n - n_pos - n_neg)::DOUBLE / n, 6)",
                "round(n_pos::DOUBLE / n, 6)",
            ],
        )
    )
    return f"""
WITH RECURSIVE fixture AS (
  SELECT doc_id, {case} AS text
  FROM (SELECT doc_id, (doc_id * {_LAB4_MULT}) % 1000 AS b FROM documents)
),
{_sql_pattern_walk("fixture")},
agg AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN pol > 0.1 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
         sum(CASE WHEN pol < -0.1 THEN 1 ELSE 0 END)::BIGINT AS n_neg,
         sum(pol::DECIMAL(20,10)) AS sp, sum(subj::DECIMAL(20,10)) AS ss
  FROM scored
)
SELECT metric, value, target, abs(value - target) <= tol AS ok
FROM ({metrics})
ORDER BY metric
"""


@query(_sql_lab4_golden())
def q_lab4_sentiment_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lab-4 sentiment GOLDEN BAND: the BASELINE.md review-sentiment
    aggregates re-derived on a reference-distribution fixture. doc_id →
    bucket b = (doc_id·2654435761) mod 1000; b<807 draws a mild-positive
    review template, b<854 a negative one, else neutral (template index
    b mod pool size) — so the PatternAnalyzer pipeline must land the
    3-way split at 80.73/4.63/14.64 (±1pt), mean polarity 0.2663
    (±0.02), mean subjectivity 0.5751 (±0.03). Output: (metric, value,
    target, ok) — values are EXACT cross-engine (decimal polarity sums,
    one final division; the oracle replays fixture + full state machine
    as a recursive CTE), and tests/test_lab_goldens.py asserts every
    ok. Scale: one projection + one aggregate over the corpus; the
    explode runs on a 1-row aggregate."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    b = (F.col("doc_id") * F.lit(_LAB4_MULT)) % 1000
    pos_a = F.array(*[F.lit(t) for t in _LAB4_POS_TPL])
    neg_a = F.array(*[F.lit(t) for t in _LAB4_NEG_TPL])
    neu_a = F.array(*[F.lit(t) for t in _LAB4_NEU_TPL])
    text = (
        F.when(b < 807, F.element_at(pos_a, (b % len(_LAB4_POS_TPL)).cast("int") + 1))
        .when(b < 854, F.element_at(neg_a, (b % len(_LAB4_NEG_TPL)).cast("int") + 1))
        .otherwise(F.element_at(neu_a, (b % len(_LAB4_NEU_TPL)).cast("int") + 1))
    )
    scored = sn.with_pattern_scores(docs, text).select(
        F.round(F.col("_sc")["polarity"], 6).alias("pol"),
        F.round(F.col("_sc")["subjectivity"], 6).alias("subj"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("pol") > 0.1).cast("bigint")).alias("n_pos"),
        F.sum((F.col("pol") < -0.1).cast("bigint")).alias("n_neg"),
        F.sum(F.col("pol").cast("decimal(20,10)")).alias("sp"),
        F.sum(F.col("subj").cast("decimal(20,10)")).alias("ss"),
    )
    vals = {
        "pos_share": F.round(F.col("n_pos") / F.col("n"), 6),
        "neg_share": F.round(F.col("n_neg") / F.col("n"), 6),
        "neu_share": F.round((F.col("n") - F.col("n_pos") - F.col("n_neg")) / F.col("n"), 6),
        "mean_polarity": F.round(F.col("sp").cast("double") / F.col("n"), 6),
        "mean_subjectivity": F.round(F.col("ss").cast("double") / F.col("n"), 6),
    }
    rows = F.array(
        *[
            F.struct(
                F.lit(m).alias("metric"),
                vals[m].alias("value"),
                F.lit(t).alias("target"),
                (F.abs(vals[m] - F.lit(t)) <= F.lit(tol)).alias("ok"),
            )
            for m, t, tol in _LAB4_TARGETS
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.metric", "r.value", "r.target", "r.ok")
        .orderBy("metric")
    )


def _sql_gopher_quality() -> str:
    r = tx.gopher_rules_sql("text")
    rules = ["word_count_ok", "mean_word_len_ok", "alpha_share_ok", "symbol_ratio_ok", "common_words_ok"]
    sums = ",\n       ".join(
        f"sum(CASE WHEN {r[k]} THEN 1 ELSE 0 END)::BIGINT AS n_{k}" for k in rules
    )
    pass_all = " AND ".join(r[k] for k in rules)
    return f"""
SELECT source, count(*)::BIGINT AS n_docs,
       {sums},
       round(avg(CASE WHEN {pass_all} THEN 1.0 ELSE 0.0 END), 6) AS pass_rate
FROM documents GROUP BY source ORDER BY source
"""


@query(_sql_gopher_quality())
def q_gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-curation quality gate — Gopher/MassiveText filtering rules
    (Rae et al. 2021 §A.1.1) per document, censused per source: pass
    counts per rule + overall pass rate. Pure column expressions; the
    oracle recomputes every rule independently."""
    docs = _t(spark, sf_dir, "documents")
    g = tx.gopher_rules("text")
    rules = ["word_count_ok", "mean_word_len_ok", "alpha_share_ok", "symbol_ratio_ok", "common_words_ok"]
    scored = docs.select("source", g.alias("g"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.sum(F.col("g")[r].cast("bigint")).alias(f"n_{r}") for r in rules],
            F.round(F.avg(F.col("g")["pass_all"].cast("double")), 6).alias("pass_rate"),
        )
        .orderBy("source")
    )


_SQL_DUP_NGRAM = f"""
WITH docs AS (SELECT doc_id, source, {_CLEAN_SQL} AS ct FROM documents),
sh AS (
  SELECT doc_id, source, unnest(
    CASE WHEN len(toks) >= 5 THEN
      list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, greatest(len(toks)-4, 1)+1)])
    ELSE [array_to_string(toks, ' ')] END
  ) AS sh
  FROM (SELECT doc_id, source, string_split(ct, ' ') AS toks FROM docs)
),
idx AS (SELECT sh, count(DISTINCT doc_id) AS df FROM sh GROUP BY sh),
per_doc AS (
  SELECT s.doc_id, s.source,
         count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN i.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
  FROM sh s JOIN idx i USING (sh)
  GROUP BY s.doc_id, s.source
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg(n_dup::DOUBLE / n_shingles), 6) AS avg_dup_share,
       round(max(n_dup::DOUBLE / n_shingles), 6) AS max_dup_share,
       sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_with_dup
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_DUP_NGRAM)
def q_dup_ngram_share_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-curation duplication diagnostic — per-document share of
    distinct word 5-grams that also occur in ANOTHER document
    (cross-doc duplicate n-gram rate, the streaming-friendly stand-in
    for exact substring dedup à la Lee et al. 2022), summarized per
    source. Plan shape: explode distinct shingles → inverted index
    (groupBy shingle, distinct-doc count) → join back — equi-joins on
    the shingle key throughout, no pairwise comparisons anywhere."""
    docs = _t(spark, sf_dir, "documents")
    # r9: the interpreted-HOF shingle chain (zip_with×4 + filter per
    # row — CodegenFallback) was the dominant cost here. The dedup
    # family's window-lag builder (`shingle_hash_rows`) constructs the
    # same shingle set fully whole-stage-codegen'd (posexplode + lag +
    # multi-arg xxhash64; tuple↔string bijection per its contract), and
    # the query only consumes COUNTS — per-doc distinct shingles and
    # cross-doc document frequency — which are identical on the hashed
    # tuple space. One (doc_id, shingle) distinct replaces the per-row
    # array_distinct; the hashed int rows materialize once for the
    # index build and the join-back, as before. The oracle still works
    # on the raw strings, so a hash collision surfaces as a mismatch,
    # not silently.
    sh = (
        dd.shingle_hash_rows(docs.select("doc_id", "text"), "text", "doc_id", n=5)
        .distinct()
        .withColumnRenamed("shingle", "sh")
        .localCheckpoint(eager=False)
    )
    idx = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(idx, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= 2).cast("bigint")).alias("n_dup"),
        )
        .withColumn("dup_share", F.col("n_dup") / F.col("n_shingles"))
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dup_share"), 6).alias("avg_dup_share"),
            F.round(F.max("dup_share"), 6).alias("max_dup_share"),
            F.sum((F.col("dup_share") > 0).cast("bigint")).alias("n_docs_with_dup"),
        )
        .orderBy("source")
    )


def _sql_lab4_linregress() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array({_CLEAN_TEXT_SQL}, '\\s+')) AS w
  FROM documents
),
pol AS (
  SELECT t.doc_id, avg(p.valence) AS pol
  FROM toks t JOIN {sn.lexicon_sql_values(0, 'p')} ON t.w = p.word GROUP BY 1
),
q AS (
  SELECT doc_id,
         least(length(text) / 200.0, 1.0) AS len_score,
         1.0 - least(((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                      / greatest(length(text), 1)) * 4, 1.0) AS punct_score,
         (len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                          x -> list_contains({_STOPWORDS_SQL}, x)))::DOUBLE
          / greatest(len(regexp_split_to_array(lower(text), '\\s+')), 1)) AS sw
  FROM documents
),
scored AS (
  SELECT d.doc_id, round(coalesce(pol.pol, 0.0), 6) AS pol,
         round((q.len_score + q.punct_score
                + CASE WHEN q.sw > 0.05 AND q.sw < 0.6 THEN 1.0 ELSE 0.5 END) / 3.0, 6) AS quality
  FROM documents d LEFT JOIN pol USING (doc_id) JOIN q USING (doc_id)
)
SELECT round(regr_slope(quality, pol), 6) AS slope,
       round(regr_intercept(quality, pol), 6) AS intercept,
       round(corr(pol, quality), 6) AS r,
       round(corr(pol, quality) ^ 2, 6) AS r2
FROM scored
"""


@query(_sql_lab4_linregress(), bench=False)
def q_lab4_sentiment_linregress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed Lab-4 correlation stage (SURVEY §3.3, A12+M11): per-doc
    lexicon polarity vs quality score → closed-form linear regression
    (slope/intercept/r/R², the scipy.linregress surface the reference
    reports as 'stars↔sentiment r=0.744')."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.round(sn.polarity("text"), 6).alias("pol"),
        F.round(tx.quality_score("text"), 6).alias("quality"),
    )
    out = scored.agg(*st.linregress_aggs("pol", "quality"))
    return out.select(*[F.round(F.col(c), 6).alias(c) for c in out.columns])


def _sql_sentiment_ranks() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, source, unnest(regexp_split_to_array({_CLEAN_TEXT_SQL}, '\\s+')) AS w
  FROM documents
),
pol AS (
  SELECT t.doc_id, avg(p.valence) AS pol
  FROM toks t JOIN {sn.lexicon_sql_values(0, 'p')} ON t.w = p.word GROUP BY 1
),
scored AS (
  SELECT d.source, round(coalesce(pol.pol, 0.0), 6) AS pol
  FROM documents d LEFT JOIN pol USING (doc_id)
),
stats AS (
  SELECT source, round(avg(pol), 6) AS avg_polarity,
         round(stddev_samp(pol), 6) AS std_polarity,
         count(*)::BIGINT AS n,
         round(avg(CASE WHEN pol > 0.1 THEN 1.0 ELSE 0.0 END), 6) AS positive_rate
  FROM scored GROUP BY source
)
SELECT *, rank() OVER (ORDER BY avg_polarity DESC, source ASC)::BIGINT AS sentiment_rank
FROM stats
"""


@query(_sql_sentiment_ranks())
def q_sentiment_source_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + W3 — per-source sentiment aggregation (mean/std/count/
    positive-rate in one hash agg) ranked by avg polarity desc (the
    per-restaurant shape of lab4 cell 13)."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("source", F.round(sn.polarity("text"), 6).alias("polarity"))
    stats = sn.group_sentiment_stats(scored, ["source"])
    w = Window.orderBy(F.col("avg_polarity").desc(), F.col("source").asc())
    return stats.select(
        "source",
        F.round("avg_polarity", 6).alias("avg_polarity"),
        F.round("std_polarity", 6).alias("std_polarity"),
        "n",
        F.round("positive_rate", 6).alias("positive_rate"),
    ).withColumn("sentiment_rank", F.rank().over(w))


# --------------------------------------------------------------------------
# Spatial statistics (SURVEY §2.9 M12)
# --------------------------------------------------------------------------

def _lisa_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _derived_points(_t(spark, sf_dir, "events")).filter(F.col("event_id") < 1000)
    return pts.select(
        F.col("event_id").alias("id"),
        F.col("lon").alias("x"),
        F.col("lat").alias("y"),
        "value",
    )


_SQL_LISA = f"""
WITH d AS ({_DERIVED_POINTS_SQL}),
p AS (SELECT event_id AS id, lon AS x, lat AS y, value AS v FROM d WHERE event_id < 1000),
s AS (SELECT avg(v) AS mu, sum(v * v) / count(*) - avg(v) * avg(v) AS m2 FROM p),
z AS (SELECT id, x, y, v - mu AS z FROM p, s),
pairs AS (
  SELECT q.id AS query_id, b.id AS neighbor_id, b.z AS zj,
         sqrt((q.x - b.x) * (q.x - b.x) + (q.y - b.y) * (q.y - b.y)) AS dist
  FROM z q, z b WHERE q.id <> b.id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rk
  FROM pairs
), lag AS (
  SELECT query_id AS id, avg(zj) AS lag FROM ranked WHERE rk <= 5 GROUP BY 1
)
SELECT z.id AS event_id, round(z.z, 6) AS z, round(lag.lag, 6) AS lag,
       round((z.z / s.m2) * lag.lag, 6) AS i_stat,
       CASE WHEN z.z > 0 AND lag.lag > 0 THEN 'HH'
            WHEN z.z <= 0 AND lag.lag <= 0 THEN 'LL'
            WHEN z.z <= 0 AND lag.lag > 0 THEN 'LH'
            ELSE 'HL' END AS quadrant
FROM z JOIN lag USING (id), s
"""


@query(_SQL_LISA)
def q_lisa_moran_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 — analytic local Moran's I (KNN k=5, row-standardized 1/k
    weights, esda formulation) over 1,000 derived event points; per-point
    z, spatial lag, I_i and HH/LL/LH/HL quadrant."""
    lisa = lm.local_morans_i(_lisa_points(spark, sf_dir), "value", k=5)
    return lisa.select(
        F.col("id").alias("event_id"),
        F.round("z", 6).alias("z"),
        F.round("lag", 6).alias("lag"),
        F.round("i_stat", 6).alias("i_stat"),
        "quadrant",
    )


# --------------------------------------------------------------------------
# Graph / clustering / composed pipelines
# --------------------------------------------------------------------------

_SQL_DEGREE = """
WITH e AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
ends AS (SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e)
SELECT node_id::BIGINT AS node_id, count(*)::BIGINT AS degree FROM ends GROUP BY node_id
"""


@query(_SQL_DEGREE, bench=False)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — node degree over the part–supplier bipartite graph derived
    from lineitem (part nodes = 2·partkey, supplier nodes = 2·suppkey+1)."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    return ga.degrees(edges).withColumnRenamed("id", "node_id")


_SQL_PEAK_HOUR = """
WITH h AS (
  SELECT event_type, hour(ts) AS hour, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, max_by(hour, n * 100 + (23 - hour)) AS peak_hour,
       max(n) AS peak_count
FROM h GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_PEAK_HOUR, bench=False)
def q_peak_hour_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — argmax per group via ``max_by`` (idxmax peak hour,
    test.py:255-256): for each event_type, the hour with the most
    events and that count. Ties broken toward the earlier hour by
    max_by on a (count, -hour) pair encoded as count*100 + (23-hour)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        hourly.groupBy("event_type")
        .agg(
            F.expr("max_by(hour, n * 100 + (23 - hour))").alias("peak_hour"),
            F.max("n").alias("peak_count"),
        )
        .orderBy("event_type")
    )


_SQL_DEGREE_BANDS = """
WITH e AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
ends AS (SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e),
deg AS (SELECT node_id, count(*)::BIGINT AS degree FROM ends GROUP BY node_id),
banded AS (
  SELECT degree, CASE WHEN degree = 1 THEN 'endpoint' WHEN degree = 2 THEN 'mid'
                      ELSE 'intersection' END AS band
  FROM deg
)
SELECT band, count(*)::BIGINT AS n_nodes,
       round(count(*) / (SELECT count(*)::DOUBLE FROM deg), 6) AS share,
       round(avg(degree), 6) AS avg_degree
FROM banded GROUP BY band ORDER BY band
"""


@query(_SQL_DEGREE_BANDS, bench=False)
def q_node_degree_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — degree class bands over the graph nodes (lab3a nb cell 20:
    endpoint deg=1 / mid-segment deg=2 / intersection deg≥3) with counts
    and share-of-nodes, the BASELINE.md 'intersections 97.2%' shape."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    deg = ga.degrees(edges)
    banded = deg.withColumn(
        "band",
        F.when(F.col("degree") == 1, "endpoint")
        .when(F.col("degree") == 2, "mid")
        .otherwise("intersection"),
    )
    total = banded.count()
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.round(F.count(F.lit(1)) / F.lit(float(total)), 6).alias("share"),
            F.round(F.avg("degree"), 6).alias("avg_degree"),
        )
        .orderBy("band")
    )


_SQL_DISTRIBUTION = """
SELECT event_type,
       round(quantile_cont(value, 0.1), 6) AS q10,
       round(quantile_cont(value, 0.25), 6) AS q25,
       round(quantile_cont(value, 0.5), 6) AS q50,
       round(quantile_cont(value, 0.75), 6) AS q75,
       round(quantile_cont(value, 0.9), 6) AS q90,
       round((avg(value*value*value) - 3*avg(value)*avg(value*value) + 2*pow(avg(value), 3))
             / pow(avg(value*value) - avg(value)*avg(value), 1.5), 6) AS skew_pop,
       round((avg(value*value*value*value) - 4*avg(value)*avg(value*value*value)
              + 6*pow(avg(value), 2)*avg(value*value) - 3*pow(avg(value), 4))
             / pow(avg(value*value) - avg(value)*avg(value), 2) - 3, 6) AS kurt_pop
FROM events GROUP BY event_type
"""


@query(_SQL_DISTRIBUTION)
def q_value_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — per-group quantile spread (0.1/0.25/0.5/0.75/0.9) plus
    population skewness and excess kurtosis (lab3c nb cell 7:
    quantile(q)/.skew()/.kurtosis(), numpy bias=True semantics). The
    moments are closed-form raw-moment aggregates
    (functions.stats.skewness_pop/kurtosis_pop) — the oracle replays
    the identical arithmetic, DuckDB's builtins (sample-corrected) are
    deliberately NOT used. Exact percentile here; approx_percentile is
    the 100 TB swap."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(f"q{int(q * 100)}")
            for q in (0.1, 0.25, 0.5, 0.75, 0.9)
        ],
        F.round(st.skewness_pop("value"), 6).alias("skew_pop"),
        F.round(st.kurtosis_pop("value"), 6).alias("kurt_pop"),
    )


_SQL_SUMMARY = """
SELECT 'l_quantity' AS "column", count(l_quantity)::BIGINT AS n,
       round(avg(l_quantity), 6) AS mean, round(stddev_pop(l_quantity), 6) AS std,
       round(min(l_quantity), 6) AS min, round(quantile_cont(l_quantity, 0.5), 6) AS median,
       round(max(l_quantity), 6) AS max FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(l_extendedprice)::BIGINT,
       round(avg(l_extendedprice), 6), round(stddev_pop(l_extendedprice), 6),
       round(min(l_extendedprice), 6), round(quantile_cont(l_extendedprice, 0.5), 6),
       round(max(l_extendedprice), 6) FROM lineitem
UNION ALL
SELECT 'l_discount', count(l_discount)::BIGINT,
       round(avg(l_discount), 6), round(stddev_pop(l_discount), 6),
       round(min(l_discount), 6), round(quantile_cont(l_discount, 0.5), 6),
       round(max(l_discount), 6) FROM lineitem
ORDER BY "column"
"""


@query(_SQL_SUMMARY, bench=False)
def q_summary_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — describe()-style per-column summary (count/mean/std/min/
    max/median) as explicit aggregates (exact percentile so the oracle
    matches bit-for-bit; at 100 TB swap median for approx_percentile)."""
    li = _t(spark, sf_dir, "lineitem")
    rows = []
    for c in ["l_quantity", "l_extendedprice", "l_discount"]:
        rows.append(
            li.agg(
                F.lit(c).alias("column"),
                F.count(c).alias("n"),
                F.round(F.avg(c), 6).alias("mean"),
                F.round(F.stddev_pop(c), 6).alias("std"),
                F.round(F.min(c), 6).alias("min"),
                F.round(F.expr(f"percentile({c}, 0.5)"), 6).alias("median"),
                F.round(F.max(c), 6).alias("max"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("column")


_SQL_KNN_GRID = f"""
WITH p AS (SELECT event_id AS id,
                  -74.3 + (event_id % 1000) / 1000.0 * 0.6 AS x,
                  40.5 + ((event_id * 7) % 1000) / 1000.0 * 0.5 AS y
           FROM events),
pairs AS (
  SELECT q.id AS query_id, b.id AS neighbor_id,
         sqrt((q.x - b.x) * (q.x - b.x) + (q.y - b.y) * (q.y - b.y)) AS dist
  FROM p q, p b WHERE q.id < 200 AND b.id <> q.id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS knn_rank
  FROM pairs
)
SELECT query_id, neighbor_id, round(dist, 9) AS dist, knn_rank::BIGINT AS knn_rank
FROM ranked WHERE knn_rank <= 5
"""


@query(_SQL_KNN_GRID, bench=False)
def q_knn_grid_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — grid-bucketed KNN join on derived 2-D points, exact vs the
    oracle's brute-force ranking (ties broken by neighbor id)."""
    pts = _derived_points(_t(spark, sf_dir, "events")).select(
        F.col("event_id").alias("id"), F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    q = pts.filter(F.col("id") < 200)
    out = knn.knn_join_grid(q, pts, k=5, cell=0.05)
    return out.select(
        "query_id", "neighbor_id", F.round("dist", 9).alias("dist"), "knn_rank"
    )


def _sql_dbscan() -> str:
    return f"""
WITH RECURSIVE p AS ({_DERIVED_POINTS_SQL}),
pts AS (SELECT event_id AS id, {_UTM_X_SQL} AS x, {_UTM_Y_SQL} AS y FROM p),
locs AS (SELECT x, y, min(id) AS id, count(*)::BIGINT AS cnt FROM pts GROUP BY x, y),
pairs AS (
  SELECT a.id AS a_id, b.id AS b_id, b.cnt AS b_cnt
  FROM locs a, locs b
  WHERE power(a.x - b.x, 2) + power(a.y - b.y, 2) <= 250000.0
),
core AS (SELECT a_id AS id FROM pairs GROUP BY a_id HAVING sum(b_cnt) >= 5),
core_edges AS (
  SELECT pr.a_id AS a, pr.b_id AS b FROM pairs pr
  JOIN core ca ON ca.id = pr.a_id JOIN core cb ON cb.id = pr.b_id
  WHERE pr.a_id <> pr.b_id
),
reach(id, root) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.b, r.root FROM reach r JOIN core_edges e ON e.a = r.id
),
comp AS (SELECT id, min(root) AS cluster FROM reach GROUP BY id),
border AS (
  SELECT pr.a_id AS id, min(c.cluster) AS cluster
  FROM pairs pr JOIN comp c ON c.id = pr.b_id
  WHERE pr.a_id NOT IN (SELECT id FROM core)
  GROUP BY pr.a_id
),
labels AS (SELECT id, cluster FROM comp UNION ALL SELECT id, cluster FROM border),
loc_lab AS (
  SELECT l.cnt, coalesce(lb.cluster, -1) AS cluster
  FROM locs l LEFT JOIN labels lb ON lb.id = l.id
)
SELECT cluster, sum(cnt)::BIGINT AS n_points
FROM loc_lab GROUP BY cluster
ORDER BY n_points DESC, cluster ASC
"""


@query(_sql_dbscan())
def q_dbscan_event_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — distributed DBSCAN over derived event points in local meters
    (eps=500 m, min_samples=5). The engine's labeling is fully
    deterministic (cluster = min core-location id of the core
    component; border → min adjacent cluster; exact-duplicate
    coordinates contracted), so the oracle replays the complete
    algorithm in SQL — location contraction, weighted degree, core
    flagging, connected components as a recursive CTE, border
    assignment — and the per-cluster census must match label-for-label.
    The partition contract is additionally pytest-verified against a
    pure-python reference (tests/test_dbscan.py)."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    x, y = geo.utm_xy_m("lat", "lon", zone=18)  # exact EPSG:32618, test.py:81
    pts = pts.select(F.col("event_id").alias("id"), x.alias("x"), y.alias("y"))
    labels = dbscan.dbscan(pts, eps=500.0, min_samples=5)
    return (
        labels.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy(F.col("n_points").desc(), F.col("cluster").asc())
    )


_SQL_UTM_PROJECT = f"""
WITH d AS ({_DERIVED_POINTS_SQL})
SELECT event_id,
       round({_UTM_X_SQL}, 2) AS easting_m,
       round({_UTM_Y_SQL}, 2) AS northing_m
FROM d WHERE event_id < 1000
"""


@query(_SQL_UTM_PROJECT)
def q_utm_project_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.8 geo scalars — exact UTM zone-18N (EPSG:32618) projection of
    1,000 derived event points (reference: test.py:81,161 pyproj
    Transformer to 32618). Karney/Krüger order-n⁶ series as pure column
    expressions; the oracle replays the identical series in DuckDB SQL
    (exp/ln-spelled hyperbolics). Rounded to cm — cross-libm trig
    disagreement is ~1e-9 m, six orders below the rounding step."""
    pts = _derived_points(_t(spark, sf_dir, "events")).filter(F.col("event_id") < 1000)
    x, y = geo.utm_xy_m("lat", "lon", zone=18)
    return pts.select(
        "event_id",
        F.round(x, 2).alias("easting_m"),
        F.round(y, 2).alias("northing_m"),
    )


def _sql_web_mercator_tiles() -> str:
    tx, ty = geo.slippy_tile_sql("lat", "lon", zoom=12)
    pi_r = math.pi * geo.WGS84_A
    return f"""
WITH d AS ({_DERIVED_POINTS_SQL}),
p AS (
  SELECT {tx} AS tile_x, {ty} AS tile_y,
         CAST(round(lat * 1000000) AS BIGINT) AS latu,
         CAST(round(lon * 1000000) AS BIGINT) AS lonu
  FROM d
),
g AS (
  SELECT tile_x, tile_y, count(*) AS n,
         round(sum(latu) / (1000000.0 * count(*)), 6) AS avg_lat,
         round(sum(lonu) / (1000000.0 * count(*)), 6) AS avg_lon
  FROM p GROUP BY tile_x, tile_y
)
SELECT tile_x, tile_y, n, avg_lat, avg_lon,
       round({pi_r!r} * (2.0 * (tile_x + 0.5) / 4096.0 - 1.0), 2) AS center_x_m,
       round({pi_r!r} * (1.0 - 2.0 * (tile_y + 0.5) / 4096.0), 2) AS center_y_m
FROM g ORDER BY tile_x, tile_y
"""


@query(_sql_web_mercator_tiles())
def q_web_mercator_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.8 geo — EPSG:3857 web-mercator projection + OSM slippy-tile
    binning of the derived event points (reference lab2 nb cell 20,
    json 600: ``to_crs(epsg=3857)`` for basemap alignment). Per z=12
    tile: point count and mean projected x/y. Projected meters are
    quantized to integer centimeters BEFORE summation (exact bigint
    adds, immune to float reassociation across partitionings); one
    division at the end. Shape: two codegen expressions + one hash
    aggregate — no shuffle beyond the groupBy."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    tx, ty = geo.slippy_tile("lat", "lon", zoom=12)
    n_tiles = F.lit(float(1 << 12))
    pi_r = F.lit(math.pi * geo.WGS84_A)
    # tile centers in EPSG:3857 meters are LINEAR in the tile indices
    # (mercator y is the tiling axis), so the compared floats carry no
    # transcendentals — the asinh lives only inside floor() above,
    # where a last-ulp libm disagreement can't flip a bin in practice
    center_x = pi_r * (F.lit(2.0) * (F.col("tile_x") + F.lit(0.5)) / n_tiles - F.lit(1.0))
    center_y = pi_r * (F.lit(1.0) - F.lit(2.0) * (F.col("tile_y") + F.lit(0.5)) / n_tiles)
    return (
        pts.select(
            tx.alias("tile_x"),
            ty.alias("tile_y"),
            F.round(F.col("lat") * 1000000).cast("bigint").alias("latu"),
            F.round(F.col("lon") * 1000000).cast("bigint").alias("lonu"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("latu") / (F.lit(1e6) * F.count(F.lit(1))), 6).alias("avg_lat"),
            F.round(F.sum("lonu") / (F.lit(1e6) * F.count(F.lit(1))), 6).alias("avg_lon"),
        )
        .select(
            "tile_x", "tile_y", "n", "avg_lat", "avg_lon",
            F.round(center_x, 2).alias("center_x_m"),
            F.round(center_y, 2).alias("center_y_m"),
        )
        .orderBy("tile_x", "tile_y")
    )


#: gazetteer synthesis constants — shared verbatim by the Spark plan
#: and the DuckDB oracle so both engines geocode the same world
_GEO_SYL1 = ["new", "port", "san", "east", "west", "lake", "fort", "mont"]
_GEO_SYL2 = ["ville", "burg", "ton", "field", "haven", "wood", "ford", "dale"]
_GEO_PLACES_PER_NATION = 40


def _geocode_norm(col) -> F.Column:
    """Geocoder name normalization: ASCII lowercase (translate-based —
    NOT Spark 4's ICU lower) + strip everything but [a-z0-9 ]."""
    return F.regexp_replace(tx.ascii_lower(col), "[^a-z0-9 ]", "")


def _gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic offline gazetteer: 40 synthetic places per nation
    (syllable-pool names + hashed lat/lon), the fixture stand-in for
    the reference's external geocoding service (lab3a nb cell 8, json
    302 ``ox.geocode``). At scale this is a real country-bucketed
    places dim table — always broadcast-sized relative to probes."""
    nation = _t(spark, sf_dir, "nation")
    s1 = F.array(*[F.lit(s) for s in _GEO_SYL1])
    s2 = F.array(*[F.lit(s) for s in _GEO_SYL2])
    pid = F.col("n_nationkey").cast("bigint") * 64 + F.col("j")
    return (
        nation.select(
            "n_nationkey",
            "n_name",
            F.explode(
                F.sequence(F.lit(0), F.lit(_GEO_PLACES_PER_NATION - 1))
            ).alias("j"),
        )
        .select(
            pid.alias("place_id"),
            F.col("n_nationkey").cast("bigint").alias("nat"),
            F.concat(
                F.element_at(s1, ((pid * 3) % 8).cast("int") + 1),
                F.element_at(s2, ((pid * 5) % 8).cast("int") + 1),
                F.lit(" "),
                F.col("j").cast("string"),
                F.lit(" "),
                F.col("n_name"),
            ).alias("place_name"),
            (F.lit(-60.0) + ((pid * 37) % 1200) / F.lit(10.0)).alias("lat"),
            (F.lit(-180.0) + ((pid * 73) % 3600) / F.lit(10.0)).alias("lon"),
        )
    )


def _sql_geocode_places() -> str:
    s1 = "[" + ", ".join(f"'{s}'" for s in _GEO_SYL1) + "]"
    s2 = "[" + ", ".join(f"'{s}'" for s in _GEO_SYL2) + "]"
    norm = "regexp_replace(lower({x}), '[^a-z0-9 ]', '', 'g')"
    return f"""
WITH gaz AS (
  SELECT CAST(n_nationkey AS BIGINT) * 64 + j AS place_id,
         CAST(n_nationkey AS BIGINT) AS nat,
         list_extract({s1}, CAST((CAST(n_nationkey AS BIGINT) * 64 + j) * 3 % 8 AS INT) + 1)
           || list_extract({s2}, CAST((CAST(n_nationkey AS BIGINT) * 64 + j) * 5 % 8 AS INT) + 1)
           || ' ' || j || ' ' || n_name AS place_name,
         -60.0 + ((CAST(n_nationkey AS BIGINT) * 64 + j) * 37 % 1200) / 10.0 AS lat,
         -180.0 + ((CAST(n_nationkey AS BIGINT) * 64 + j) * 73 % 3600) / 10.0 AS lon
  FROM nation, range({_GEO_PLACES_PER_NATION}) AS t(j)
),
gnorm AS (
  SELECT *, {norm.format(x='place_name')} AS gname_norm FROM gaz
),
probes AS (
  SELECT c.c_custkey AS probe_id,
         CAST(c.c_nationkey AS BIGINT) AS nat,
         {norm.format(x="CASE c.c_custkey % 3 WHEN 0 THEN g.place_name WHEN 1 THEN substr(g.place_name, 1, 2) || substr(g.place_name, 4) ELSE g.place_name || '!' END")} AS q_norm
  FROM customer c
  JOIN gaz g ON g.place_id = CAST(c.c_nationkey AS BIGINT) * 64 + c.c_custkey * 13 % {_GEO_PLACES_PER_NATION}
  WHERE c.c_custkey % 7 = 0
),
exact AS (
  SELECT p.probe_id, g.place_id, 'exact' AS method, 1.0 AS score, g.lat, g.lon
  FROM probes p JOIN gnorm g ON p.nat = g.nat AND p.q_norm = g.gname_norm
),
fuzzy_cand AS (
  SELECT p.probe_id, g.place_id,
         jaro_winkler_similarity(p.q_norm, g.gname_norm) AS jw,
         g.lat, g.lon
  FROM probes p JOIN gnorm g ON p.nat = g.nat
  WHERE p.probe_id NOT IN (SELECT probe_id FROM exact)
),
fuzzy AS (
  SELECT probe_id, place_id, 'fuzzy' AS method, round(jw, 6) AS score, lat, lon
  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY round(jw, 6) DESC, place_id ASC) AS rk FROM fuzzy_cand)
  WHERE rk = 1
)
SELECT * FROM exact UNION ALL SELECT * FROM fuzzy ORDER BY probe_id
"""


@query(_sql_geocode_places())
def q_geocode_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/S14 — offline gazetteer geocoder (closes the last two
    inventory rows; reference lab3a nb cell 8, json 302 ``ox.geocode``
    resolved place names to lat/lon via a web service — here the same
    contract runs against a persisted gazetteer dim table). Probe
    names are customer-derived queries in three deterministic shapes:
    exact, one-char-deleted (typo), and punctuation-noised. Resolution:
    normalize → country-blocked exact equi-join on the broadcast
    gazetteer; misses fall back to Jaro-Winkler best-match within the
    SAME country block (≤40 candidates per probe — blocked, never
    all-pairs), ranked (round(jw,6) DESC, place_id ASC) for
    cross-engine determinism (the `jw_entity_resolution` convention;
    oracle uses DuckDB's independent C++ jaro_winkler_similarity).
    Scale: probes stream map-side against the broadcast gazetteer;
    the only shuffle is the per-distinct-query argmax window over ≤40
    rows (distinct queries are bounded by the gazetteer universe)."""
    gaz = _gazetteer(spark, sf_dir).withColumn(
        "gname_norm", _geocode_norm(F.col("place_name"))
    )
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    probe_base = cust.select(
        F.col("c_custkey").alias("probe_id"),
        F.col("c_nationkey").cast("bigint").alias("nat"),
        (
            F.col("c_nationkey").cast("bigint") * 64
            + (F.col("c_custkey") * 13) % _GEO_PLACES_PER_NATION
        ).alias("target_pid"),
        (F.col("c_custkey") % 3).alias("m"),
    )
    named = probe_base.join(
        F.broadcast(gaz.select(F.col("place_id").alias("target_pid"), "place_name")),
        "target_pid",
    )
    raw = F.col("place_name")
    query = (
        F.when(F.col("m") == 0, raw)
        .when(F.col("m") == 1, F.concat(F.substring(raw, 1, 2), F.expr("substring(place_name, 4)")))
        .otherwise(F.concat(raw, F.lit("!")))
    )
    probes = named.select(
        "probe_id", "nat", _geocode_norm(query).alias("q_norm")
    )
    gsel = gaz.select("nat", "gname_norm", "place_id", "lat", "lon")
    exact = probes.join(
        F.broadcast(gsel),
        (probes["nat"] == gsel["nat"]) & (probes["q_norm"] == gsel["gname_norm"]),
    ).select(
        "probe_id",
        "place_id",
        F.lit("exact").alias("method"),
        F.lit(1.0).alias("score"),
        "lat",
        "lon",
    )
    missed = probes.join(exact.select("probe_id"), "probe_id", "left_anti")
    # Fuzzy resolution is a pure function of (nat, q_norm): evaluate
    # each DISTINCT missed query once against its ≤40-candidate country
    # block (bounded by the gazetteer universe, so JW work stops
    # growing with probe volume), then equi-join the resolved match
    # back onto every probe (VERDICT r6 "What's wrong" #2). JW itself
    # crosses to an Arrow-batched pandas scalar (~5 µs/pair vs ~0.4 ms
    # for the codegen fold) — the §2.12-warranted crossing: this is the
    # hot inner loop, distinct-queries × 40 candidates per batch.
    dq = missed.select("nat", "q_norm").distinct()
    fz = dq.join(F.broadcast(gsel), "nat").withColumn(
        "jw", strings.jaro_winkler_pandas("q_norm", "gname_norm")
    )
    w = Window.partitionBy("nat", "q_norm").orderBy(
        F.desc(F.round("jw", 6)), F.asc("place_id")
    )
    best = (
        fz.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "nat",
            "q_norm",
            "place_id",
            F.round("jw", 6).alias("score"),
            "lat",
            "lon",
        )
    )
    fuzzy = missed.join(best, ["nat", "q_norm"]).select(
        "probe_id",
        "place_id",
        F.lit("fuzzy").alias("method"),
        "score",
        "lat",
        "lon",
    )
    return exact.unionByName(fuzzy).orderBy("probe_id")


_SNAP_CELL = 0.02  # degrees — snap radius AND candidate-grid cell size


def _sql_snap_to_road() -> str:
    c = _SNAP_CELL
    return f"""
WITH segs AS (
  SELECT * FROM ({_ROAD_SEGMENTS_SQL})
  WHERE abs(x2 - x1) <= 0.05 AND abs(y2 - y1) <= 0.05
),
seg_cells AS (
  SELECT s.*, cx.cx, cy.cy
  FROM segs s,
       LATERAL (SELECT unnest(generate_series(
           CAST(floor(least(x1, x2) / {c!r}) AS BIGINT) - 1,
           CAST(floor(greatest(x1, x2) / {c!r}) AS BIGINT) + 1)) AS cx) cx,
       LATERAL (SELECT unnest(generate_series(
           CAST(floor(least(y1, y2) / {c!r}) AS BIGINT) - 1,
           CAST(floor(greatest(y1, y2) / {c!r}) AS BIGINT) + 1)) AS cy) cy
),
d AS ({_DERIVED_POINTS_SQL}),
pts AS (
  SELECT event_id, event_type, lon, lat,
         CAST(floor(lon / {c!r}) AS BIGINT) AS cx,
         CAST(floor(lat / {c!r}) AS BIGINT) AS cy
  FROM d
),
cand AS (
  SELECT p.event_id, p.event_type, s.seg_id,
         sqrt((p.lon - (s.x1 + greatest(0.0, least(1.0,
             ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
             / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)))) * (s.x2 - s.x1)))
              * (p.lon - (s.x1 + greatest(0.0, least(1.0,
             ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
             / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)))) * (s.x2 - s.x1)))
              + (p.lat - (s.y1 + greatest(0.0, least(1.0,
             ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
             / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)))) * (s.y2 - s.y1)))
              * (p.lat - (s.y1 + greatest(0.0, least(1.0,
             ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
             / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)))) * (s.y2 - s.y1)))
         ) AS snap_dist
  FROM pts p JOIN seg_cells s ON s.cx = p.cx AND s.cy = p.cy
  WHERE (s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1) > 0
    AND sqrt((p.lon - (s.x1 + greatest(0.0, least(1.0,
             ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
             / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)))) * (s.x2 - s.x1)))
              * (p.lon - (s.x1 + greatest(0.0, least(1.0,
             ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
             / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)))) * (s.x2 - s.x1)))
              + (p.lat - (s.y1 + greatest(0.0, least(1.0,
             ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
             / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)))) * (s.y2 - s.y1)))
              * (p.lat - (s.y1 + greatest(0.0, least(1.0,
             ((p.lon - s.x1) * (s.x2 - s.x1) + (p.lat - s.y1) * (s.y2 - s.y1))
             / ((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1)))) * (s.y2 - s.y1)))
        ) <= {c!r}
),
best AS (
  SELECT event_id, min(snap_dist) AS snap_dist FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY snap_dist ASC, seg_id ASC) AS rk
    FROM cand
  ) WHERE rk = 1 GROUP BY event_id
)
SELECT p.event_type, count(*)::BIGINT AS n,
       sum(CASE WHEN b.snap_dist IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_snapped,
       coalesce(round(avg(b.snap_dist), 6), -1.0) AS avg_snap_dist
FROM pts p LEFT JOIN best b USING (event_id)
GROUP BY p.event_type ORDER BY p.event_type
"""


@query(_sql_snap_to_road())
def q_snap_to_road(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching-lite (G3 extended): snap each event point to the
    nearest road segment within 0.02° — exact point-to-segment
    projection (clamped parametric t), candidates via a grid equi-join:
    each street segment registers the cells of its bbox expanded by one
    ring, each point probes its own cell, so every segment within the
    snap radius is provably a candidate (no cross product). Long
    connector segments (bbox diagonal > 0.05°) are generator artifacts
    of the derived chain, excluded as non-streets. Output: per-type
    snap census + mean snap distance. The oracle replays cell
    registration, projection, and the min-distance tie-break."""
    segs = _road_segments(spark, sf_dir).filter(
        (F.abs(F.col("x2") - F.col("x1")) <= 0.05)
        & (F.abs(F.col("y2") - F.col("y1")) <= 0.05)
    )
    c = _SNAP_CELL
    seg_cells = segs.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.least("x1", "x2") / c).cast("bigint") - 1,
                F.floor(F.greatest("x1", "x2") / c).cast("bigint") + 1,
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.least("y1", "y2") / c).cast("bigint") - 1,
                F.floor(F.greatest("y1", "y2") / c).cast("bigint") + 1,
            )
        ).alias("cy"),
    )
    pts = _derived_points(_t(spark, sf_dir, "events")).select(
        "event_id", "event_type", "lon", "lat",
        F.floor(F.col("lon") / c).cast("bigint").alias("cx"),
        F.floor(F.col("lat") / c).cast("bigint").alias("cy"),
    )
    j = pts.join(seg_cells, ["cx", "cy"])
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    t_raw = ((F.col("lon") - F.col("x1")) * dx + (F.col("lat") - F.col("y1")) * dy) / len2
    t = F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw))
    px = F.col("x1") + t * dx
    py = F.col("y1") + t * dy
    dist = F.sqrt((F.col("lon") - px) * (F.col("lon") - px) + (F.col("lat") - py) * (F.col("lat") - py))
    j = j.filter(len2 > 0).withColumn("snap_dist", dist).filter(F.col("snap_dist") <= c)
    w = Window.partitionBy("event_id").orderBy(F.col("snap_dist").asc(), F.col("seg_id").asc())
    best = (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_id", "event_type", "seg_id", "snap_dist")
    )
    return (
        pts.select("event_id", "event_type")
        .join(best.select("event_id", "snap_dist"), "event_id", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("snap_dist").isNotNull().cast("bigint")).alias("n_snapped"),
            F.coalesce(F.round(F.avg("snap_dist"), 6), F.lit(-1.0)).alias("avg_snap_dist"),
        )
        .orderBy("event_type")
    )


def _sql_hex_density() -> str:
    qs, rs = geo.hex_cell_sql(_UTM_X_SQL, _UTM_Y_SQL, 1000.0)
    return f"""
WITH d AS ({_DERIVED_POINTS_SQL}),
h AS (SELECT {qs} AS hex_q, {rs} AS hex_r FROM d)
SELECT hex_q, hex_r, count(*)::BIGINT AS n
FROM h GROUP BY hex_q, hex_r HAVING count(*) >= 5
ORDER BY n DESC, hex_q, hex_r
"""


@query(_sql_hex_density())
def q_hex_density_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/2.8-geo — hexagonal density binning (H3-style axial cells,
    1 km circumradius) over UTM-projected event points: the hex twin of
    `geo_grid_density`. Cube-rounding is exact column math; the oracle
    recomputes projection + hex assignment + census independently.
    Hexes with n ≥ 5 reported (boundary-stable: a cell's census moves
    only if a point's cell flips, and both engines run identical
    arithmetic)."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    x, y = geo.utm_xy_m("lat", "lon", zone=18)
    # MATERIALIZE the two Karney projections behind a repartition
    # barrier before hex assignment: hex_cell references each input
    # ~8x, and Catalyst's projection collapse re-inlines a plain
    # two-step select, so without the barrier every reference
    # re-evaluates the full n^6 series (measured 5.1 s -> 1.4 s at
    # sf0.1). The extra exchange moves 16 bytes/row — far cheaper than
    # 8x the series — and the map-side partial agg after it still
    # bounds the groupBy shuffle to one row per hex per task.
    proj = pts.select(x.alias("_x"), y.alias("_y")).repartition(32)
    q, r = geo.hex_cell(F.col("_x"), F.col("_y"), 1000.0)
    return (
        proj.select(q.alias("hex_q"), r.alias("hex_r"))
        .groupBy("hex_q", "hex_r")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy(F.col("n").desc(), "hex_q", "hex_r")
    )


_SQL_SSSP_GRID = """
WITH RECURSIVE ids AS (SELECT range::BIGINT AS id FROM range(400)),
base AS (
  SELECT id AS src, id + 1 AS dst FROM ids WHERE id % 20 < 19
  UNION ALL
  SELECT id AS src, id + 20 AS dst FROM ids WHERE id < 380
),
edges AS (
  SELECT src, dst, (1 + (src * dst) % 7)::DOUBLE AS w FROM base
  UNION ALL
  SELECT dst AS src, src AS dst, (1 + (src * dst) % 7)::DOUBLE AS w FROM base
),
walk(id, dist) AS (
  SELECT 0::BIGINT AS id, 0.0::DOUBLE AS dist
  UNION
  SELECT e.dst, w.dist + e.w FROM walk w JOIN edges e ON e.src = w.id
  WHERE w.dist + e.w <= 266.0
)
SELECT id, min(dist) AS dist FROM walk GROUP BY id ORDER BY id
"""


@query(_SQL_SSSP_GRID, bench=False)
def q_sssp_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — weighted SSSP from node 0 over a deterministic 20×20 grid
    graph (edge weight = 1 + (src·dst mod 7)). The oracle replays the
    full shortest-path computation as a recursive CTE: enumerate
    (node, path-distance) states, dedup via UNION, prune at the
    provable distance bound (a monotone staircase path has ≤38 edges of
    weight ≤7 → every true shortest distance ≤266, so pruning partial
    sums >266 never cuts a shortest-path prefix), then min per node.
    Dijkstra-parity is additionally pytest-verified
    (tests/test_graph.py)."""
    n = 20
    _, grid = _grid_graph(spark, n)
    edges = grid.withColumn(
        "weight", (F.lit(1) + (F.col("src") * F.col("dst")) % 7).cast("double")
    )
    return ga.sssp(edges, 0, directed=False).orderBy("id")


_SQL_ROUTE_GRID = """
WITH RECURSIVE ids AS (SELECT range::BIGINT AS id FROM range(400)),
base AS (
  SELECT id AS src, id + 1 AS dst FROM ids WHERE id % 20 < 19
  UNION ALL
  SELECT id AS src, id + 20 AS dst FROM ids WHERE id < 380
),
edges AS (
  SELECT src, dst, (1 + (src * dst) % 7)::DOUBLE AS w FROM base
  UNION ALL
  SELECT dst AS src, src AS dst, (1 + (src * dst) % 7)::DOUBLE AS w FROM base
),
walk(id, dist) AS (
  SELECT 0::BIGINT AS id, 0.0::DOUBLE AS dist
  UNION
  SELECT e.dst, w.dist + e.w FROM walk w JOIN edges e ON e.src = w.id
  WHERE w.dist + e.w <= 266.0
),
d AS (SELECT id, min(dist) AS dist FROM walk GROUP BY id),
pred AS (
  SELECT e.dst AS v, min(e.src) AS pred
  FROM edges e
  JOIN d du ON du.id = e.src
  JOIN d dv ON dv.id = e.dst
  WHERE abs(du.dist + e.w - dv.dist) < 1e-9
    AND dv.dist <= (SELECT dist FROM d WHERE id = 399)
  GROUP BY e.dst
),
route(back_seq, node_id) AS (
  SELECT 0::BIGINT AS back_seq, 399::BIGINT AS node_id
  UNION ALL
  SELECT r.back_seq + 1, p.pred FROM route r JOIN pred p ON p.v = r.node_id
  WHERE r.node_id <> 0
),
n AS (SELECT max(back_seq) AS m FROM route)
SELECT (n.m - r.back_seq)::BIGINT AS seq, r.node_id::BIGINT AS node_id,
       d.dist AS dist_along
FROM route r CROSS JOIN n JOIN d ON d.id = r.node_id
ORDER BY seq
"""


@query(_SQL_ROUTE_GRID)
def q_shortest_path_route_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 route reconstruction — the actual shortest node sequence
    0→399 on the deterministic 20×20 grid graph (``nx.shortest_path``
    parity: the reference returns the 16-node ESB→Times-Sq route, lab3a
    nb cell 8, json 302, not just its length). Tree-edge predecessors
    (dist(u)+w = dist(v), min-id tie-break) are derived distributedly;
    the oracle replays distances via the bounded recursive CTE, the
    same predecessor rule, and a recursive backtrack."""
    n = 20
    _, grid = _grid_graph(spark, n)
    edges = grid.withColumn(
        "weight", (F.lit(1) + (F.col("src") * F.col("dst")) % 7).cast("double")
    )
    return ga.shortest_path_route(edges, 0, n * n - 1, directed=False).orderBy("seq")


_SQL_NETWORK_SUMMARY = """
WITH e AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
ends AS (SELECT src AS node_id FROM e UNION ALL SELECT dst FROM e),
deg AS (SELECT node_id, count(*)::BIGINT AS degree FROM ends GROUP BY node_id)
SELECT count(*)::BIGINT AS n_nodes,
       (sum(degree) / 2)::BIGINT AS n_edges,
       round(avg(degree), 6) AS avg_degree,
       round(avg((degree = 1)::INT::DOUBLE) * 100, 6) AS pct_endpoints,
       round(avg((degree >= 3)::INT::DOUBLE) * 100, 6) AS pct_intersections
FROM deg
"""


@query(_SQL_NETWORK_SUMMARY)
def q_network_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7/G8 composite — the lab-3 network scorecard (sta_html.py:33-36
    golden shape: node/edge counts, avg degree 4.29, endpoints deg=1,
    intersections deg≥3 = 97.2%) over the part–supplier bipartite graph.
    Single hash-agg over the degree table; map-side partial agg, one
    exchange."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    deg = ga.degrees(edges)
    return deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("degree") / 2).cast("bigint").alias("n_edges"),
        F.round(F.avg("degree"), 6).alias("avg_degree"),
        F.round(F.avg((F.col("degree") == 1).cast("double")) * 100, 6).alias(
            "pct_endpoints"
        ),
        F.round(F.avg((F.col("degree") >= 3).cast("double")) * 100, 6).alias(
            "pct_intersections"
        ),
    )


_SQL_BIAS_AUDIT = """
WITH counts AS (SELECT o_custkey, count(*)::BIGINT AS n FROM orders GROUP BY o_custkey),
tot AS (SELECT count(*)::BIGINT AS n_cust FROM customer),
act AS (SELECT count(*)::BIGINT AS n_active, sum(n)::BIGINT AS total_orders FROM counts),
ranked AS (SELECT n, row_number() OVER (ORDER BY n DESC, o_custkey ASC) AS rn FROM counts),
top20 AS (
  SELECT sum(r.n)::BIGINT AS top_n, max(a.k)::BIGINT AS top20_n
  FROM (SELECT ceil(0.2 * n_active)::BIGINT AS k FROM act) a
  JOIN ranked r ON r.rn <= a.k
),
mon AS (
  SELECT max(cnt)::BIGINT AS max_month FROM (
    SELECT date_trunc('month', o_orderdate) AS m, count(*) AS cnt
    FROM orders GROUP BY 1)
)
SELECT tot.n_cust AS n_customers,
       act.n_active AS n_active,
       round(act.n_active * 100.0 / tot.n_cust, 6) AS coverage_pct,
       top20.top20_n AS top20_n,
       round(top20.top_n * 100.0 / act.total_orders, 6) AS top20_share_pct,
       round(mon.max_month * 100.0 / act.total_orders, 6) AS max_month_share_pct,
       ((top20.top_n * 100.0 / act.total_orders > 50)::INT
        + (act.n_active * 100.0 / tot.n_cust < 99)::INT
        + (mon.max_month * 100.0 / act.total_orders > 20)::INT)::BIGINT AS bias_score
FROM tot, act, top20, mon
"""


@query(_SQL_BIAS_AUDIT)
def q_bias_audit_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lab-4 bias-audit composite (analyze_data_bias.py:49-517): the
    dataset scorecard the reference prints ("score 2/9, low") —
    coverage (customers with ≥1 order, J4/A9), concentration (top-20%
    most-active customers' share of orders, A15 Pareto via the
    range-partitioned two-phase row_number), temporal imbalance (max
    month share), and the flag-count bias score. Scalar stats collect
    to literals (two-phase, SURVEY §4.3); the ranked share never
    single-partitions."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    n_cust = cust.count()
    n_active, total_orders = counts.agg(
        F.count(F.lit(1)), F.sum("n")
    ).first()
    k = -(-n_active // 5)  # ceil(0.2 * n_active)
    ranked = tp.global_row_number(
        counts, [F.col("n").desc(), F.col("o_custkey").asc()], out="rn"
    )
    top_n = ranked.filter(F.col("rn") <= k).agg(F.sum("n")).first()[0]
    max_month, _tot = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.max("cnt"), F.sum("cnt"))
        .first()
    )
    coverage_pct = n_active * 100.0 / n_cust
    top20_share_pct = top_n * 100.0 / total_orders
    max_month_share_pct = max_month * 100.0 / total_orders
    score = int(top20_share_pct > 50) + int(coverage_pct < 99) + int(
        max_month_share_pct > 20
    )
    return tb.local_frame(
        spark,
        [
            (
                int(n_cust),
                int(n_active),
                round(coverage_pct, 6),
                int(k),
                round(top20_share_pct, 6),
                round(max_month_share_pct, 6),
                score,
            )
        ],
        "n_customers bigint, n_active bigint, coverage_pct double, "
        "top20_n bigint, top20_share_pct double, max_month_share_pct double, "
        "bias_score bigint",
    )


_SQL_LAB1 = """
WITH pts AS (
  SELECT *, -74.3 + (event_id % 1000) / 1000.0 * 0.6 AS lon,
         40.5 + ((event_id * 7) % 1000) / 1000.0 * 0.5 AS lat
  FROM events
), cleaned AS (
  SELECT * FROM pts
  WHERE event_type = 'error' AND lat BETWEEN 40.55 AND 40.95 AND lon BETWEEN -74.25 AND -73.75
), h AS (
  SELECT date_trunc('hour', ts) AS bucket_ts, count(*)::BIGINT AS n FROM cleaned GROUP BY 1
), s AS (SELECT avg(n) AS mu, coalesce(stddev_pop(n), 0.0) AS sigma FROM h),
dense AS (SELECT bucket_ts, n FROM h, s WHERE n > mu + 1.0 * sigma),
flags AS (
  SELECT bucket_ts, n,
         CASE WHEN lag(bucket_ts) OVER w IS NULL
                OR bucket_ts > lag(bucket_ts) OVER w + INTERVAL 120 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM dense WINDOW w AS (ORDER BY bucket_ts)
), sess AS (
  SELECT bucket_ts, n, sum(new_s) OVER (ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flags
)
SELECT session_id::BIGINT AS session_id, min(bucket_ts) AS start_time,
       max(bucket_ts) AS end_time, max(n)::BIGINT AS max_count, round(avg(n), 6) AS avg_count
FROM sess GROUP BY session_id
ORDER BY max_count DESC, start_time ASC
"""


@query(_SQL_LAB1)
def q_lab1_noise_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed Lab-1 pipeline (SURVEY §3.1) on the events table:
    type filter → bbox filter → hourly counts → μ+2σ anomaly → 2-hour-gap
    sessionization → per-session stats, ordered by peak size.
    One lazy DAG end-to-end."""
    ev = _derived_points(_t(spark, sf_dir, "events"))
    cleaned = ev.filter(
        (F.col("event_type") == "error")
        & geo.in_bbox("lat", "lon", 40.55, 40.95, -74.25, -73.75)
    )
    hourly = sz.hourly_counts(cleaned, "ts")
    dense = sz.anomaly_threshold_filter(hourly, sigmas=1.0)
    sessions = sz.sessionize(dense, "bucket_ts", gap_minutes=120.0)
    return (
        sessions.groupBy("session_id")
        .agg(
            F.min("bucket_ts").alias("start_time"),
            F.max("bucket_ts").alias("end_time"),
            F.max("n").alias("max_count"),
            F.round(F.avg("n"), 6).alias("avg_count"),
        )
        .orderBy(F.col("max_count").desc(), F.col("start_time").asc())
    )


_SQL_KDE = """
WITH pts AS (
  SELECT floor((-74.3 + (event_id % 1000) / 1000.0 * 0.6 - -74.3) / 0.05)::BIGINT AS gx,
         floor((40.5 + ((event_id * 7) % 1000) / 1000.0 * 0.5 - 40.5) / 0.05)::BIGINT AS gy
  FROM events
  WHERE (40.5 + ((event_id * 7) % 1000) / 1000.0 * 0.5) BETWEEN 40.55 AND 40.95
    AND (-74.3 + (event_id % 1000) / 1000.0 * 0.6) BETWEEN -74.25 AND -73.75
), grid AS (
  SELECT gx, gy, count(*)::DOUBLE AS n FROM pts GROUP BY gx, gy
), kernel(dx, dy, w) AS (
  VALUES (-1,-1,1),(-1,0,2),(-1,1,1),(0,-1,2),(0,0,4),(0,1,2),(1,-1,1),(1,0,2),(1,1,1)
), spread AS (
  SELECT gx + dx AS gx, gy + dy AS gy, n * w / 16.0 AS contrib FROM grid, kernel
), surface AS (
  SELECT gx, gy, sum(contrib) AS density FROM spread GROUP BY gx, gy
)
SELECT gx, count(*)::BIGINT AS n_cells, round(sum(density), 6) AS total_density,
       round(max(density), 6) AS peak_density
FROM surface GROUP BY gx ORDER BY gx
"""


@query(_SQL_KDE)
def q_kde_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — Gaussian-smoothed 2-D density surface: bin derived points
    to 0.05° cells, convolve with a 3×3 binomial stencil (neighbor-
    offset explode + re-aggregate; grid-sized, point-count-free second
    pass). Summarized per gx stripe to keep the result compact."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    pts = pts.filter(geo.in_bbox("lat", "lon", 40.55, 40.95, -74.25, -73.75))
    gx, gy = geo.grid_cell("lat", "lon", 40.5, -74.3, 0.05)
    pts = pts.withColumn("gx", gx).withColumn("gy", gy)
    surface = kde.kde_grid(pts, "gx", "gy")
    return (
        surface.groupBy("gx")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("density"), 6).alias("total_density"),
            F.round(F.max("density"), 6).alias("peak_density"),
        )
        .orderBy("gx")
    )


_SQL_LAB2 = """
WITH pts AS (
  SELECT *, -74.3 + (event_id % 1000) / 1000.0 * 0.6 AS lon,
         40.5 + ((event_id * 7) % 1000) / 1000.0 * 0.5 AS lat,
         -74.3 + ((event_id * 3) % 1000) / 1000.0 * 0.6 AS lon2,
         40.5 + ((event_id * 11) % 1000) / 1000.0 * 0.5 AS lat2
  FROM events
), s AS (SELECT avg(value) + 3 * stddev_pop(value) AS hi FROM pts WHERE value IS NOT NULL),
f AS (
  SELECT *,
         hour(ts) AS hour,
         (dayofweek(ts) + 6) % 7 AS dow,
         CASE WHEN (dayofweek(ts) + 6) % 7 >= 5 THEN 1 ELSE 0 END AS is_weekend,
         CASE WHEN (dayofweek(ts) + 6) % 7 < 5 AND hour(ts) BETWEEN 7 AND 9 THEN 'morning_peak'
              WHEN (dayofweek(ts) + 6) % 7 < 5 AND hour(ts) BETWEEN 17 AND 19 THEN 'evening_peak'
              WHEN hour(ts) BETWEEN 6 AND 22 THEN 'day'
              ELSE 'night' END AS ti,
         round(2.0 * 6371.0 * asin(sqrt(
            sin(radians(lat2 - lat) / 2) ^ 2
            + cos(radians(lat)) * cos(radians(lat2)) * sin(radians(lon2 - lon) / 2) ^ 2
         )), 3) AS hav_km,
         ln(1 + value) AS log_value
  FROM pts, s WHERE value >= 0 AND value <= hi
)
SELECT event_type, count(*)::BIGINT AS n,
       round(avg(hav_km), 6) AS avg_hav_km,
       round(avg(log_value), 6) AS avg_log_value,
       round(avg(is_weekend), 6) AS weekend_share,
       sum(CASE WHEN ti = 'morning_peak' THEN 1 ELSE 0 END)::BIGINT AS n_morning_peak,
       sum(CASE WHEN ti = 'evening_peak' THEN 1 ELSE 0 END)::BIGINT AS n_evening_peak,
       sum(CASE WHEN ti = 'day' THEN 1 ELSE 0 END)::BIGINT AS n_day,
       sum(CASE WHEN ti = 'night' THEN 1 ELSE 0 END)::BIGINT AS n_night
FROM f GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_LAB2)
def q_lab2_taxi_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed Lab-2 feature pipeline (SURVEY §3.2) on the events
    table: 3σ outlier filter (F11, two-phase) → time features (hour,
    Monday=0 dow, weekend flag, rule-based time-interval bucket) →
    trip geometry (haversine 3dp / bearing / manhattan between the
    derived pickup point and a second derived dropoff point) → log1p
    target → one-hot time_interval (M5) → per-event_type feature
    summary. One lazy DAG after the scalar-stat collect."""
    ev = _derived_points(_t(spark, sf_dir, "events"))
    ev = ev.withColumn(
        "lon2", F.lit(-74.3) + ((F.col("event_id") * 3) % 1000) / F.lit(1000.0) * F.lit(0.6)
    ).withColumn(
        "lat2", F.lit(40.5) + ((F.col("event_id") * 11) % 1000) / F.lit(1000.0) * F.lit(0.5)
    )
    _, hi = st.three_sigma_bounds(ev, "value")
    feats = (
        ev.filter((F.col("value") >= 0) & (F.col("value") <= F.lit(hi)))
        .withColumn("hour", F.hour("ts"))
        .withColumn("dow", temporal.dayofweek_monday0("ts"))
        .withColumn("is_weekend", temporal.is_weekend("ts"))
        .withColumn("ti", temporal.time_interval_bucket("ts"))
        .withColumn("hav_km", geo.haversine_km("lat", "lon", "lat2", "lon2", decimals=3))
        .withColumn("log_value", F.log1p("value"))
    )
    feats = mf.one_hot(feats, "ti", ["morning_peak", "evening_peak", "day", "night"])
    return (
        feats.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("hav_km"), 6).alias("avg_hav_km"),
            F.round(F.avg("log_value"), 6).alias("avg_log_value"),
            F.round(F.avg("is_weekend"), 6).alias("weekend_share"),
            F.sum("ti_morning_peak").alias("n_morning_peak"),
            F.sum("ti_evening_peak").alias("n_evening_peak"),
            F.sum("ti_day").alias("n_day"),
            F.sum("ti_night").alias("n_night"),
        )
        .orderBy("event_type")
    )


_LAB2_K, _LAB2_ITERS = 4, 4


def _lab2_pipeline_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SURVEY §3.2 Lab-2 chain as ONE lazy DAG (VERDICT r1 #7),
    deterministic end-to-end so the oracle can replay every stage:

    positional 70/30 split (F15: event_id mod 10) → 3σ duration filter
    FIT ON TRAIN (F11) → time features + log1p target (2.8) → weather
    broadcast join (J1: deterministic closed-form weather dim on
    distinct dates) → haversine (2.8) → exact-Lloyd KMeans zones fit on
    the cleaned TRAIN lattice (M3) → per-zone train avg-speed feature
    with global-mean fill, joined back to every row (J5/A6/J9) →
    synthetic-raster population sampling (J7, tiled JVM path).

    Train-only statistics (3σ bound, KMeans centers, zone speeds,
    fill mean) are fitted artifacts applied to both splits — the
    manual fit/transform distinction the reference implements (lab2 nb
    cells 16, 20)."""
    ev = _derived_points(_t(spark, sf_dir, "events"))
    pts = (
        ev.withColumn(
            "lon2", F.lit(-74.3) + ((F.col("event_id") * 3) % 1000) / F.lit(1000.0) * F.lit(0.6)
        )
        .withColumn(
            "lat2", F.lit(40.5) + ((F.col("event_id") * 11) % 1000) / F.lit(1000.0) * F.lit(0.5)
        )
        .withColumn("is_train", (F.col("event_id") % 10 < 7))
    )
    # F11 fit-on-train: 3σ upper bound from the train pool only
    hi = float(
        pts.filter(F.col("is_train") & F.col("value").isNotNull() & (F.col("value") >= 0))
        .agg((F.avg("value") + 3 * F.stddev_pop("value")).alias("hi"))
        .collect()[0]["hi"]
    )
    clean = pts.filter((F.col("value") >= 0) & (F.col("value") <= F.lit(hi)))
    feats = (
        clean.withColumn("hour", F.hour("ts"))
        .withColumn("dow", temporal.dayofweek_monday0("ts"))
        .withColumn("is_weekend", temporal.is_weekend("ts"))
        .withColumn("ti", temporal.time_interval_bucket("ts"))
        .withColumn("hav_km", geo.haversine_km("lat", "lon", "lat2", "lon2", decimals=3))
        .withColumn("log_value", F.log1p("value"))
        .withColumn("dt", F.to_date("ts"))
    )
    # J1: weather dim derived per distinct date (closed form → both
    # engines recompute it), broadcast into the fact side
    wdim = (
        feats.select("dt")
        .distinct()
        .withColumn("temp_c", ((F.dayofyear("dt") * 17) % 35 - 5).cast("double"))
        .withColumn("precip_mm", ((F.dayofyear("dt") * 13) % 50) / F.lit(10.0))
    )
    # Materialize the fitted-feature base ONCE (VERDICT r7 "What's
    # wrong" #3): four consumers read it — the Lloyd train lattice, the
    # zone-speed aggregate, the fill-mean collect, and the final
    # consumer's DAG (where the zone-speed subtree re-enters) — and
    # without the barrier each re-derived the events scan → 3σ filter →
    # feature chain → weather join. Values are unchanged (the chain is
    # deterministic); only the re-derivation count drops.
    feats = feats.join(F.broadcast(wdim), "dt").localCheckpoint(eager=False)
    # M3 fit-on-train: exact Lloyd on the integer lattice behind the
    # derived lon/lat (bijective affine), bit-replayable by the oracle
    train_lattice = feats.filter("is_train").select("event_id", *_event_lattice())
    _, centers = lloyd.lloyd_kmeans(
        train_lattice, "event_id", ["x", "y"], k=_LAB2_K, iters=_LAB2_ITERS
    )
    feats = feats.select("*", *_event_lattice())
    feats = feats.withColumn("zone", lloyd._argmin_cid(centers, ["x", "y"]))
    # A6/J9 fit-on-train: per-zone mean speed, global-mean fill
    feats = feats.withColumn(
        "speed_kmh", F.col("hav_km") / ((F.col("value") + 1) / F.lit(3600.0))
    )
    zs = (
        feats.filter("is_train")
        .groupBy("zone")
        .agg(F.avg("speed_kmh").alias("zone_speed_raw"))
    )
    fill = float(
        feats.filter("is_train").agg(F.avg("speed_kmh").alias("m")).collect()[0]["m"]
    )
    feats = feats.join(F.broadcast(zs), "zone", "left").withColumn(
        "zone_speed", F.coalesce(F.col("zone_speed_raw"), F.lit(fill))
    )
    # J7: population density at the pickup point (tiled JVM path)
    arr = raster.synthetic_raster()
    feats = raster.sample_raster_tiled(
        feats,
        raster.tiled_raster_df(spark),
        raster.RASTER_T,
        raster.RASTER_NODATA,
        fill=raster.raster_valid_mean(arr, raster.RASTER_NODATA),
        out="pop_density",
    )
    return feats


def _sql_lab2_pipeline() -> str:
    iters = _LAB2_ITERS
    return f"""
WITH d AS ({_DERIVED_POINTS_SQL}),
pts AS (
  SELECT *,
         -74.3 + ((event_id * 3) % 1000) / 1000.0 * 0.6 AS lon2,
         40.5 + ((event_id * 11) % 1000) / 1000.0 * 0.5 AS lat2,
         (event_id % 10 < 7) AS is_train
  FROM d
),
s AS (SELECT avg(value) + 3 * stddev_pop(value) AS hi
      FROM pts WHERE is_train AND value IS NOT NULL AND value >= 0),
feats AS (
  SELECT event_id, event_type, value, is_train,
         hour(ts) AS hour,
         (dayofweek(ts) + 6) % 7 AS dow,
         CASE WHEN (dayofweek(ts) + 6) % 7 >= 5 THEN 1 ELSE 0 END AS is_weekend,
         CASE WHEN (dayofweek(ts) + 6) % 7 < 5 AND hour(ts) BETWEEN 7 AND 9 THEN 'morning_peak'
              WHEN (dayofweek(ts) + 6) % 7 < 5 AND hour(ts) BETWEEN 17 AND 19 THEN 'evening_peak'
              WHEN hour(ts) BETWEEN 6 AND 22 THEN 'day'
              ELSE 'night' END AS ti,
         round(2.0 * 6371.0 * asin(sqrt(
            sin(radians(lat2 - lat) / 2) ^ 2
            + cos(radians(lat)) * cos(radians(lat2)) * sin(radians(lon2 - lon) / 2) ^ 2
         )), 3) AS hav_km,
         ln(1 + value) AS log_value,
         ((dayofyear(ts::DATE) * 17) % 35 - 5)::DOUBLE AS temp_c,
         {_SQL_EVENT_LATTICE},
         {raster.raster_value_sql('lon', 'lat')} AS pop
  FROM pts, s WHERE value >= 0 AND value <= hi
),
kpts AS (SELECT event_id AS id, x, y FROM feats WHERE is_train),
{_sql_lloyd_ctes("kpts", ["x", "y"], _LAB2_K, iters)},
sp AS (
  SELECT *, hav_km / ((value + 1) / 3600.0) AS speed_kmh FROM feats
),
zoned AS (
  SELECT sp.*, (
    SELECT c.cid FROM c{iters} c
    ORDER BY (sp.x::DOUBLE - c.x)*(sp.x::DOUBLE - c.x)
           + (sp.y::DOUBLE - c.y)*(sp.y::DOUBLE - c.y) ASC, c.cid ASC
    LIMIT 1
  ) AS zone
  FROM sp
),
zs AS (SELECT zone, avg(speed_kmh) AS zone_speed_raw FROM zoned WHERE is_train GROUP BY zone),
fill AS (SELECT avg(speed_kmh) AS m FROM zoned WHERE is_train),
fin AS (
  SELECT z.*, coalesce(zs.zone_speed_raw, fill.m) AS zone_speed
  FROM zoned z LEFT JOIN zs USING (zone), fill
)
SELECT event_type, count(*)::BIGINT AS n,
       sum(CASE WHEN is_train THEN 1 ELSE 0 END)::BIGINT AS n_train,
       round(avg(log_value), 6) AS avg_log_value,
       round(avg(hav_km), 6) AS avg_hav_km,
       round(avg(zone_speed), 6) AS avg_zone_speed,
       round(avg(pop), 6) AS avg_pop_density,
       round(avg(temp_c), 6) AS avg_temp_c,
       round(avg(is_weekend::DOUBLE), 6) AS weekend_share,
       sum(CASE WHEN ti = 'morning_peak' THEN 1 ELSE 0 END)::BIGINT AS n_morning_peak,
       sum(CASE WHEN ti = 'evening_peak' THEN 1 ELSE 0 END)::BIGINT AS n_evening_peak
FROM fin GROUP BY event_type ORDER BY event_type
"""


@query(_sql_lab2_pipeline())
def q_lab2_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lab-2 composite (SURVEY §3.2 end-to-end): the full
    fitted-feature matrix summarized per event_type — the oracle replays
    split, train-fitted 3σ bound, time/weather/haversine features, all
    KMeans iterations, zone speeds, and raster sampling in SQL."""
    feats = _lab2_pipeline_features(spark, sf_dir)
    return (
        feats.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_train").cast("bigint")).alias("n_train"),
            F.round(F.avg("log_value"), 6).alias("avg_log_value"),
            F.round(F.avg("hav_km"), 6).alias("avg_hav_km"),
            F.round(F.avg("zone_speed"), 6).alias("avg_zone_speed"),
            F.round(F.avg("pop_density"), 6).alias("avg_pop_density"),
            F.round(F.avg("temp_c"), 6).alias("avg_temp_c"),
            F.round(F.avg(F.col("is_weekend").cast("double")), 6).alias("weekend_share"),
            F.sum((F.col("ti") == "morning_peak").cast("bigint")).alias("n_morning_peak"),
            F.sum((F.col("ti") == "evening_peak").cast("bigint")).alias("n_evening_peak"),
        )
        .orderBy("event_type")
    )


def _lab2_pipeline_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lab-2 ML tail (M7/M8/M9 over the VERDICT-r1-#7 composite): GBT
    on the fully-fitted feature matrix (time + weather + zone-speed +
    population features), log1p target, trained on the positional train
    split, metrics on the held-out split. Stochastic learner →
    rows-only; an R² floor on this exact pipeline is pytest-enforced
    (tests/test_ml.py)."""
    feats = _lab2_pipeline_features(spark, sf_dir).withColumn(
        "is_weekend_d", F.col("is_weekend").cast("double")
    )
    # The fixture's `value` column is iid noise — unlearnable by
    # construction — so the regression target is the trip duration the
    # reference's physics implies: distance over a condition-dependent
    # speed (weekend/peak effects) plus bounded noise from `value`.
    # The model must recover the speed structure from the features.
    speed_kmh = (
        F.lit(14.0)
        + F.col("is_weekend_d") * 8.0
        + (F.col("ti") == "day").cast("double") * 3.0
        - (F.col("ti") == "morning_peak").cast("double") * 4.0
    )
    feats = feats.withColumn(
        "duration_s", F.col("hav_km") / speed_kmh * 3600.0 + F.col("value") % 30
    ).withColumn("log_duration", F.log1p("duration_s"))
    fcols = [
        "hour", "dow", "is_weekend_d", "hav_km", "temp_c", "precip_mm",
        "zone_speed", "pop_density", "lon", "lat",
    ]
    train = feats.filter("is_train")
    valid = feats.filter("NOT is_train")
    model = mlp.gbt_fit(train, fcols, "log_duration", max_iter=10, max_depth=4)
    pred = mlp.gbt_predict(model, valid, fcols)
    m = mlp.regression_metrics(pred, "log_duration", "prediction", log_space=True)
    return m.select(*[F.round(F.col(c), 4).alias(c) for c in m.columns])


# --------------------------------------------------------------------------
# Deterministic band oracles for the stochastic ML surface (VERDICT r1 #9)
# --------------------------------------------------------------------------
# The stochastic learners stay rows-only as raw-metric queries, but each
# gains a hash-checked banded twin: the Spark side emits named boolean
# band checks (wide enough to absorb fp jitter, tight enough to catch a
# broken pipeline) plus structural counts; the oracle recomputes the
# structural side independently from the tables and pins the band
# booleans — so a regression that breaks the learner (NaN metrics,
# empty split, collapsed clusters, sign-flipped R²) fails the hash.


_SQL_GBT_BAND = """
SELECT * FROM (VALUES ('mae_finite_positive', true), ('r2_above_half', true),
                      ('rmsle_below_half', true)) AS t(band, ok)
ORDER BY band
"""


@query(_SQL_GBT_BAND, bench=False)
def q_gbt_band_lab2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded twin of lab2_pipeline_model (M7/M9): the physics-derived
    duration target must be learned (R² > 0.5), log-space error bounded
    (RMSLE < 0.5), errors finite-positive."""
    m = _lab2_pipeline_model(spark, sf_dir).collect()[0]
    rows = [
        ("mae_finite_positive", bool(m["mae"] > 0)),
        ("r2_above_half", bool(m["r2"] > 0.5)),
        ("rmsle_below_half", bool(m["rmsle"] < 0.5)),
    ]
    return tb.local_frame(spark, rows, "band string, ok boolean").orderBy("band")


_SQL_PARAM_SEARCH_BAND = """
SELECT * FROM (VALUES ('all_rmse_positive', true), ('best_is_minimum', true),
                      ('grid_fully_explored', true)) AS t(band, ok)
ORDER BY band
"""


@query(_SQL_PARAM_SEARCH_BAND, bench=False)
def q_param_search_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded twin of param_search_gbt (M8): the grid is fully explored
    (candidate count = grid size), every candidate produced a finite
    positive validation RMSE, and the best flag marks the minimum."""
    res = _param_search_gbt(spark, sf_dir)
    agg = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.when(F.col("is_best"), F.col("val_rmse"))).alias("best_rmse"),
        F.min("val_rmse").alias("min_rmse"),
        F.sum((F.col("val_rmse") > 0).cast("bigint")).alias("n_pos"),
    ).collect()[0]
    rows = [
        ("all_rmse_positive", bool(agg["n_pos"] == agg["n"])),
        ("best_is_minimum", bool(abs(agg["best_rmse"] - agg["min_rmse"]) < 1e-12)),
        ("grid_fully_explored", bool(agg["n"] == 4)),
    ]
    return tb.local_frame(spark, rows, "band string, ok boolean").orderBy("band")


_SQL_IMPORTANCES_BAND = """
SELECT * FROM (VALUES ('all_nonnegative', true), ('one_per_feature', true),
                      ('sums_to_one', true), ('top_feature_is_distance', true)) AS t(band, ok)
ORDER BY band
"""


@query(_SQL_IMPORTANCES_BAND, bench=False)
def q_importances_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded twin of feature_importances (M10): importances are a
    probability vector (sum 1 ± 1e-6, all ≥ 0, one per feature) and the
    dominant distance feature carries the most signal for the
    physics-derived target."""
    feats = _lab2_pipeline_features(spark, sf_dir).withColumn(
        "is_weekend_d", F.col("is_weekend").cast("double")
    )
    speed_kmh = (
        F.lit(14.0)
        + F.col("is_weekend_d") * 8.0
        + (F.col("ti") == "day").cast("double") * 3.0
        - (F.col("ti") == "morning_peak").cast("double") * 4.0
    )
    feats = feats.withColumn(
        "log_duration", F.log1p(F.col("hav_km") / speed_kmh * 3600.0 + F.col("value") % 30)
    )
    fcols = ["hour", "dow", "is_weekend_d", "hav_km", "temp_c", "zone_speed", "pop_density"]
    model = mlp.gbt_fit(feats.filter("is_train"), fcols, "log_duration", max_iter=10, max_depth=4)
    imps = list(model.featureImportances.toArray())
    rows = [
        ("all_nonnegative", bool(all(v >= 0 for v in imps))),
        ("one_per_feature", bool(len(imps) == len(fcols))),
        ("sums_to_one", bool(abs(sum(imps) - 1.0) < 1e-6)),
        ("top_feature_is_distance", bool(fcols[max(range(len(imps)), key=imps.__getitem__)] == "hav_km")),
    ]
    return tb.local_frame(spark, rows, "band string, ok boolean").orderBy("band")


_SQL_LISA_PERM_BAND = f"""
WITH d AS ({_DERIVED_POINTS_SQL}), n AS (SELECT count(*)::BIGINT AS c FROM d WHERE event_id < 1000)
SELECT t.band, t.ok, n.c AS n_points
FROM (VALUES ('categories_legal', true), ('ns_majority', true),
             ('pvalues_in_unit', true)) AS t(band, ok), n
ORDER BY t.band
"""


@query(_SQL_LISA_PERM_BAND, bench=False)
def q_lisa_perm_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded twin of lisa_hotspot_summary (M12): the Monte-Carlo census
    partitions exactly the point set (n_points is INDEPENDENTLY
    recomputed by the oracle from the events table — a real cross-engine
    check), categories stay in the legal set, p-values land in (0, 1],
    and on the iid-noise fixture the non-significant share is the
    overwhelming majority (≥ 50% band — chance-level significance at
    α=0.05 is ~5% per tail)."""
    lisa = lm.local_morans_i(_lisa_points(spark, sf_dir), "value", k=5).localCheckpoint()
    pvals = lm.lisa_permutation_pvalues(lisa, k=5, permutations=999, seed=42)
    summ = lm.lisa_summary(pvals, lisa, alpha=0.05)
    agg = summ.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("category") == "ns", F.col("n")).otherwise(F.lit(0))).alias("n_ns"),
        F.sum(
            F.when(F.col("category").isin("HH", "LL", "LH", "HL", "ns"), F.lit(0)).otherwise(F.lit(1))
        ).alias("bad_cats"),
    ).collect()[0]
    p_ok = pvals.agg(
        F.sum(((F.col("p_sim") > 0) & (F.col("p_sim") <= 1)).cast("bigint")).alias("ok"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return tb.local_frame(
        spark,
        [
            ("categories_legal", bool(agg["bad_cats"] == 0), int(agg["total"])),
            ("ns_majority", bool(agg["n_ns"] >= agg["total"] * 0.5), int(agg["total"])),
            ("pvalues_in_unit", bool(p_ok["ok"] == p_ok["n"]), int(agg["total"])),
        ],
        "band string, ok boolean, n_points bigint",
    ).orderBy("band")


_SQL_LISA_PERM_BAND_DIST = f"""
WITH d AS ({_DERIVED_POINTS_SQL}), n AS (SELECT count(*)::BIGINT AS c FROM d WHERE event_id < 1000)
SELECT t.band, t.ok, n.c AS n_points
FROM (VALUES ('dist_covers_all_points', true), ('dist_pvalues_in_unit', true),
             ('mean_p_agrees', true), ('sig_share_agrees', true)) AS t(band, ok), n
ORDER BY t.band
"""


@query(_SQL_LISA_PERM_BAND_DIST)
def q_lisa_perm_band_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band oracle for the DISTRIBUTED exact-pool LISA permutation
    variant (`operators/lisa.lisa_permutation_pvalues_dist`, the
    n > Z_POOL_CAP size-dispatch path — VERDICT r4 "Next" #8), forced
    here on the small fixture so both regimes are graded on identical
    data: (a) its p-values live in (0, 1]; (b) it scores every point
    exactly once; (c) statistical agreement with the broadcast-pool
    path — mean p_sim within ±0.05 and non-significant share within
    ±0.10 (independent RNG streams; both bounds are ≳50× the
    Monte-Carlo standard error at n≈1000 × 999 permutations, so a
    pass means same-distribution, not luck). n_points is independently
    recomputed by the oracle from the events table."""
    lisa = lm.local_morans_i(_lisa_points(spark, sf_dir), "value", k=5).localCheckpoint()
    p_b = lm.lisa_permutation_pvalues(lisa, k=5, permutations=999, seed=42)
    p_d = lm.lisa_permutation_pvalues_dist(lisa, k=5, permutations=999, seed=42)

    # Both legs' summary stats in ONE action: tag + union lets Spark
    # schedule the broadcast-pool and distributed branches in the same
    # job instead of two serial collects.
    both = (
        p_b.withColumn("_leg", F.lit("b"))
        .unionByName(p_d.withColumn("_leg", F.lit("d")))
        .groupBy("_leg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("p_sim").alias("mean_p"),
            F.avg((F.col("p_sim") <= 0.05).cast("double")).alias("sig_share"),
            F.sum(((F.col("p_sim") > 0) & (F.col("p_sim") <= 1)).cast("bigint")).alias("ok"),
        )
        .collect()
    )
    legs = {r["_leg"]: r for r in both}
    sb, sd = legs["b"], legs["d"]
    return tb.local_frame(
        spark,
        [
            ("dist_covers_all_points", bool(sd["n"] == sb["n"]), int(sd["n"])),
            ("dist_pvalues_in_unit", bool(sd["ok"] == sd["n"]), int(sd["n"])),
            (
                "mean_p_agrees",
                bool(abs(float(sd["mean_p"]) - float(sb["mean_p"])) <= 0.05),
                int(sd["n"]),
            ),
            (
                "sig_share_agrees",
                bool(abs(float(sd["sig_share"]) - float(sb["sig_share"])) <= 0.10),
                int(sd["n"]),
            ),
        ],
        "band string, ok boolean, n_points bigint",
    ).orderBy("band")


_SQL_REMAP = """
SELECT CASE WHEN o_orderstatus = 'P' THEN 'O' ELSE o_orderstatus END AS o_orderstatus,
       o_orderpriority, count(*)::BIGINT AS n
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
GROUP BY 1, 2
"""


@query(_SQL_REMAP, bench=False)
def q_status_remap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+F10 — set-membership filter + value remap (passenger-count
    remap pattern, lab2 nb cell 5), on order status/priority."""
    orders = _t(spark, sf_dir, "orders")
    filtered = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM")
    )
    remapped = cleaning.replace_values(filtered, "o_orderstatus", {"P": "O"})
    return remapped.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


_SQL_NGRAM_CAPPED = f"""
WITH docs AS (SELECT doc_id, {_CLEAN_SQL} AS ct FROM documents),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM (SELECT doc_id, string_split(ct, ' ') AS toks FROM docs)
),
flat AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
rare AS (
  SELECT doc_id, s FROM flat
  QUALIFY count(*) OVER (PARTITION BY s) <= 8
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM scored WHERE jaccard >= 0.5
"""


@query(_SQL_NGRAM_CAPPED, bench=False)
def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF-capped inverted-index Jaccard (max_df=8): candidates only
    from shingles in ≤8 docs (kills the quadratic hot-shingle join
    rows), exact verify on full shingle sets. Oracle replays the cap in
    SQL: unnest shingles → df census → candidate pairs from rare
    shingles → exact list_intersect Jaccard on candidates."""
    docs = _t(spark, sf_dir, "documents")
    out = dd.ngram_jaccard_capped_df(
        docs, "text", "doc_id", threshold=0.5, max_df=8
    )
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


_SQL_SCD2 = """
WITH m AS (
  SELECT user_id, event_type, ts,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), p AS (SELECT user_id, event_type, ts FROM m WHERE chg = 1)
SELECT user_id, event_type, ts AS effective_from,
       coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                TIMESTAMP '2100-01-01 00:00:00') AS effective_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL)::INT AS is_current
FROM p
"""


@query(_SQL_SCD2, bench=False)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 collapse (gaps-and-islands): each user's event_type stream
    becomes versioned validity ranges — consecutive equal states merge,
    a version closes when the next different state begins. One hash
    exchange on user_id; closed-history merge path tested in pytest
    (`operators/scd.scd2_merge`). effective_to coalesces to a 2100
    sentinel (comparator nulls); is_current as int."""
    ev = _t(spark, sf_dir, "events")
    out = scd.scd2_collapse(ev, "user_id", "event_type", "ts")
    hi = F.lit("2100-01-01 00:00:00").cast("timestamp")
    return out.select(
        "user_id",
        "event_type",
        "effective_from",
        F.coalesce("effective_to", hi).alias("effective_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )


_SQL_TRAILING = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         round(sum(o_totalprice), 2) AS rev, count(*) AS n
  FROM orders GROUP BY 1
), t AS (
  SELECT day, rev,
         round(sum(rev) OVER w, 2) AS t_sum,
         sum(n) OVER w AS t_n
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
)
SELECT day, rev, t_sum,
       t_sum / t_n AS t_avg_per_order
FROM t ORDER BY day
"""


@query(_SQL_TRAILING, bench=False)
def q_trailing_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (the interval frame no other query uses):
    7-day trailing revenue sum/avg over daily order totals, frame keyed
    on days-since-epoch so RANGE -6..0 means calendar days, not rows
    (gaps in the date axis are handled correctly — a ROWS frame would
    be wrong on missing days). The window is unpartitioned but runs on
    the DAILY pre-aggregate — cardinality is time-span-bounded
    (~2.4k rows for 7 fixture years), the same documented exception
    class as lab-1's anomalous-hour ordering. The window sums the
    ALREADY-2dp-rounded daily values — identical on both engines — so
    sliding-frame reassociation can't shift a rounding boundary (it
    did, once, over raw doubles). The per-order avg ships UNROUNDED:
    its inputs are bit-identical on both engines, so the IEEE quotient
    is too — while rounding it would re-introduce exact-tie
    HALF_UP-vs-HALF_EVEN flips (cents/integer is rational and lands
    on .5 systematically, seen at 1998-02-22)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev"), F.count(F.lit(1)).alias("n")
    )
    daynum = (F.unix_timestamp("day") / F.lit(86400)).cast("long")
    w = (
        Window.orderBy(daynum.cast("long"))
        .rangeBetween(-6, 0)
    )
    return (
        daily.withColumn("t_sum", F.round(F.sum("rev").over(w), 2))
        .withColumn("t_n", F.sum("n").over(w))
        .select(
            "day",
            "rev",
            "t_sum",
            (F.col("t_sum") / F.col("t_n")).alias("t_avg_per_order"),
        )
        .orderBy("day")
    )


_SQL_UNPIVOT = """
WITH wide AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         round(sum(l_discount), 2) AS sum_disc
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, measure, value
FROM wide UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc))
ORDER BY l_returnflag, measure
"""


@query(_SQL_UNPIVOT, bench=False)
def q_unpivot_pricing_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of A2's pivot): per-returnflag totals
    of three measures rotate into (flag, measure, value) long form via
    ``stack`` — the Expand-based Spark unpivot, one scan. Long form is
    what metric stores and chart layers consume."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, "
        "'sum_disc', sum_disc) AS (measure, value)",
    ).orderBy("l_returnflag", "measure")


_SQL_SALTED = """
SELECT event_type, count(*)::BIGINT AS count
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_SALTED, bench=False)
def q_salted_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew fallback on the oracle surface: two-phase salted
    aggregation (partial agg on (key, salt) → final agg on key) over
    event_type — 5 distinct keys on a 32-way cluster is exactly the
    low-cardinality-hot-key shape AQE can't rebalance (one reducer per
    key at best). Semantics-preserving by construction; the oracle is
    the plain GROUP BY."""
    ev = _t(spark, sf_dir, "events")
    return sc.salted_agg_count(ev, "event_type", n_salts=16).orderBy("event_type")


_SQL_HYPERTABLE = """
SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS sum_value, max(value) AS max_value,
       round(round(sum(value), 2) / count(*), 6) AS avg_value
FROM events GROUP BY 1 ORDER BY day
"""


@query(_SQL_HYPERTABLE)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the DAILY answer
    is computed FROM the hourly pre-aggregate, not from raw events —
    the decomposable-aggregate algebra (count=Σcount, sum=Σsum,
    max=max(max), avg=Σsum/Σcount) that lets a 100 TB store answer
    coarse windows from materialized fine windows it already keeps.
    The oracle aggregates raw events straight to days — equality IS
    the correctness of the recombination. Sums round 2dp (fp
    reassociation differs between one-level and two-level grouping);
    avg derives from the rounded sum so its 6dp rounding can't sit on
    a reassociation-shifted boundary (bit it once at sf0.001)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sv"),
        F.max("value").alias("mx"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "h").alias("day"))
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
            F.max("mx").alias("max_value"),
            F.round(F.round(F.sum("sv"), 2) / F.sum("n"), 6).alias("avg_value"),
        )
        .orderBy("day")
    )


_SQL_LARGE_ORDERS = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, b.sum_qty
FROM orders o
JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) b
  ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 20
"""


@query(_SQL_LARGE_ORDERS)
def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shaped HAVING-threshold join (the group-filter relational
    shape: aggregate → threshold → join back to dims). Spark-first
    plan: lineitem pre-aggregates to per-order quantity FIRST — the
    fact table shrinks ~15× before any join — then the surviving
    orderkeys join orders (equi, AQE picks broadcast when the filtered
    side is small) and customer broadcasts. TakeOrdered global top-20
    with a deterministic o_orderkey tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty"
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


_SQL_SHIPPING_PRIORITY = """
SELECT l.l_orderkey, round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@query(_SQL_SHIPPING_PRIORITY)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped 3-way join + date-window filter + grouped revenue
    top-k. customer filters on segment then broadcasts; orders filters
    on date before the fact join (predicate placed ahead of the
    shuffle); revenue is the Q1 discount expression. Ordering ties
    break on l_orderkey so the global top-10 is deterministic; the sort
    key is the 2-dp-rounded revenue so fp reassociation can't reorder
    near-equal rows between engines."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    facts = li.filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .join(facts, ords.o_orderkey == facts.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_SQL_ROLLUP_REVENUE = """
SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
       count(*)::BIGINT AS n_orders, round(sum(o_totalprice), 2) AS revenue,
       GROUPING(r_name, n_name)::BIGINT AS lvl
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


@query(_SQL_ROLLUP_REVENUE, bench=False)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy agg (region → nation → total): Catalyst's
    Expand-based grouping sets — one scan produces all three grouping
    levels, vs three separate aggregations + union. Subtotal rows are
    labeled 'ALL' (dim names are non-null in the fixtures, so the
    coalesce is unambiguous); grouping level disambiguates on both
    sides."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.grouping_id().alias("lvl"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "n_orders",
            "revenue",
            "lvl",
        )
    )


_SQL_ASOF = """
SELECT c.event_id, c.user_id, c.ts,
       coalesce(p.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
       coalesce(p.value, -1.0) AS asof_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
"""


@query(_SQL_ASOF)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join (operators/asof): every click gets the same
    user's latest purchase at-or-before it. One hash exchange on
    user_id + partition-local sort — no range explode, no NLJ. DuckDB's
    native ASOF LEFT JOIN is the oracle; (user_id, ts) is unique among
    purchases so the match is deterministic."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof.asof_join_backward(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["value"],
    )
    # no-match rows keep NULLs from the operator; the value-compare
    # harness sorts nulls engine-specifically, so project sentinels
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("asof_ts", epoch).alias("asof_ts"),
        F.coalesce("asof_value", F.lit(-1.0)).alias("asof_value"),
    )


_SQL_CUSTDIST = """
SELECT c_count, count(*)::BIGINT AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query(_SQL_CUSTDIST)
def q_custdist_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-shaped order-count distribution: customer LEFT OUTER JOIN a
    filtered orders side, count per customer (including zero-order
    customers — the J4 anti-join semantics folded into one outer join),
    then the distribution of those counts. Two aggregation levels over
    one shuffle each; the second agg's key (c_count) is tiny.
    """
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_SQL_SMALL_QTY = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*)::BIGINT AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


@query(_SQL_SMALL_QTY)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped correlated scalar subquery, decorrelated: revenue from
    Brand#1 line items whose quantity is below 20% of that part's average
    quantity. The correlated ``(SELECT 0.2*avg(..) WHERE same part)`` is
    expressed as a per-part aggregate joined back — exactly Catalyst's
    own decorrelation. The brand key-set is small → broadcast semi-join
    prunes lineitem before the per-part agg (filter first, agg second:
    the agg only runs over the pruned 1/25th of rows).

    Float note: l_quantity is integral so per-part avg = exact-sum /
    count is bit-identical on both engines; the strict ``<`` threshold
    compare is therefore exact, no boundary tolerance needed.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    li_b = li.join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi"
    )
    thr = li_b.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thr")
    )
    return (
        li_b.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_SQL_EXISTS_PRIORITY = """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_returnflag = 'R'
    AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query(_SQL_EXISTS_PRIORITY)
def q_exists_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped EXISTS: count orders per priority having at least one
    returned line item shipped after the order date. The correlated
    EXISTS is a left-semi join with an equi key plus a non-equi residual
    (l_shipdate > o_orderdate) — hashed on the key, residual evaluated
    post-probe; semi-join short-circuits on first match so fan-out on
    multi-line orders never materializes.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_shipdate")
    matched = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SQL_LATEST_EVENT = """
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type AS last_event_type, value AS last_value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@query(_SQL_LATEST_EVENT)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key dedup (the mutable-table "current state" read,
    complementing SCD2's full history): one ``max_by`` over a struct
    ordering key (ts, event_id — unique, so ties are impossible).

    Scale: a single hash aggregate with map-side partial aggregation —
    strictly cheaper than the window row_number()+filter form, which
    must shuffle and sort EVERY row; the agg carries one struct per key
    per partition. The oracle uses the window form, proving equivalence.
    """
    ev = _t(spark, sf_dir, "events")
    last = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct("ts", "event_id", "event_type", "value"),
            F.struct("ts", "event_id"),
        ).alias("last")
    )
    return last.select(
        "user_id",
        F.col("last.ts").alias("last_ts"),
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.event_type").alias("last_event_type"),
        F.col("last.value").alias("last_value"),
    )


# Deterministic modular graph for triangle/PageRank queries: 300 nodes,
# three out-edges per node by fixed congruences (self-loops dropped).
# Unlike the 20×20 lattice (which is triangle-free and rank-uniform),
# this graph has triangles and a skewed in-degree distribution.
_MOD_N = 300

_SQL_MOD_GRAPH = """
ids AS (SELECT range::BIGINT AS i FROM range(300)),
raw AS (
  SELECT i AS src, (2*i+1) % 300 AS dst FROM ids
  UNION ALL SELECT i, (3*i+7) % 300 FROM ids
  UNION ALL SELECT i, (i*i+3) % 300 FROM ids
),
e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst)
"""


def _mod_graph_edges(spark: SparkSession) -> DataFrame:
    n = _MOD_N
    ids = spark.range(n).select(F.col("id").cast("bigint").alias("i"))
    rules = [
        ((F.lit(2) * F.col("i") + 1) % n),
        ((F.lit(3) * F.col("i") + 7) % n),
        ((F.col("i") * F.col("i") + 3) % n),
    ]
    raw = None
    for r in rules:
        part = ids.select(F.col("i").alias("src"), r.alias("dst"))
        raw = part if raw is None else raw.unionByName(part)
    return raw.filter(F.col("src") != F.col("dst")).distinct()


_SQL_TRIANGLES = f"""
WITH {_SQL_MOD_GRAPH},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT id, count(*)::BIGINT AS tri_count FROM corners GROUP BY id ORDER BY id
"""


@query(_SQL_TRIANGLES, bench=False)
def q_triangle_counts_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph triangle counting (extension beyond lab-3's degree/density
    analytics; `graph/algorithms.triangle_counts`): per-node triangle
    participation over the deterministic modular graph. The oracle
    replays edge canonicalization and the wedge-close 3-way join in SQL.
    """
    return ga.triangle_counts(_mod_graph_edges(spark)).orderBy("id")


def _sql_pagerank() -> str:
    prev = "r0"
    its = []
    for k in range(1, 7):
        its.append(
            f"""r{k} AS (
  SELECT n.id, (1.0 - 0.85)/300 + 0.85 * coalesce(s.x, 0.0) AS pr
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst, sum(r.pr / d.outdeg) AS x
    FROM e JOIN {prev} r ON r.id = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.dst = n.id
)"""
        )
        prev = f"r{k}"
    chain = ",\n".join(its)
    return f"""
WITH {_SQL_MOD_GRAPH},
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
r0 AS (SELECT id, 1.0/300 AS pr FROM nodes),
{chain}
SELECT id, round(pr, 8) AS pr FROM r6 ORDER BY id
"""


@query(_sql_pagerank())
def q_pagerank_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (6 rounds, d=0.85) over the modular
    graph — the iterative-DataFrame-program pattern shared with SSSP and
    Lloyd's KMeans (`graph/algorithms.pagerank`). Every node has an
    out-edge by construction (no dangling mass). The oracle unrolls all
    six power iterations as chained CTEs, so the rank values themselves
    are checked, not just the shape. Rounded to 8dp (sums of ≤~20 terms
    of ~3e-3: reassociation error ≪ 1e-8 unit).
    """
    # 6 rounds run as ONE lazy DAG (checkpoint_every > iterations):
    # measured 1.0-1.4 s vs 3.6 s with per-round localCheckpoints —
    # rank lineage is linear, so eager materialization only buys
    # plan-depth bounds, which 6 rounds don't need.
    ranks = ga.pagerank(
        _mod_graph_edges(spark), iterations=6, damping=0.85, checkpoint_every=10
    )
    return ranks.select("id", F.round("pr", 8).alias("pr")).orderBy("id")


_SQL_STRATIFIED = """
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       round(sum(CASE WHEN kept THEN 1 ELSE 0 END) / count(*), 6) AS kept_frac,
       coalesce(round(avg(CASE WHEN kept THEN n_chars END), 6), -1.0)
         AS kept_avg_chars
FROM (
  SELECT source, n_chars,
         ((doc_id * 2654435761) % 1000003) % 1000
           < (substr(source, 4)::INT * 50) % 900 + 50 AS kept
  FROM documents
)
GROUP BY source
ORDER BY source
"""


@query(_SQL_STRATIFIED)
def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling for corpus mixing (the
    training-data twin of F14's seeded `sample`): each source gets its
    own keep-rate (derived from the source id), membership decided by a
    Knuth multiplicative hash of doc_id — reproducible across engines,
    partitionings, and reruns, unlike RNG-based sampleBy. Audit output
    per source: total/kept counts, achieved fraction, kept-doc size.

    Scale: the sample predicate is a pure column expression evaluated
    in the scan stage (no shuffle, no RNG state); downstream sees only
    kept rows.
    """
    docs = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 8).cast("int")
    rate = (src_num * 50) % 900 + 50  # per-mille, deterministic per source
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000003)
    kept = (h % 1000) < rate
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.round(
                F.sum(kept.cast("bigint")) / F.count(F.lit(1)), 6
            ).alias("kept_frac"),
            F.coalesce(
                F.round(F.avg(F.when(kept, F.col("n_chars"))), 6), F.lit(-1.0)
            ).alias("kept_avg_chars"),
        )
        .orderBy("source")
    )


_SQL_PACK = """
WITH t AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (
    PARTITION BY source ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT source, ((cum - n_tokens) // 2048)::BIGINT AS bin,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS bin_tokens,
       min(doc_id)::BIGINT AS first_doc,
       max(doc_id)::BIGINT AS last_doc
FROM c
GROUP BY source, bin
ORDER BY source, bin
"""


@query(_SQL_PACK)
def q_pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per source, docs in
    doc_id order are packed into fixed token-budget bins (2048) by
    exclusive-prefix-sum division — the deterministic streaming
    approximation of greedy first-fit (a doc whose prefix starts in bin
    k belongs to bin k; bins may overflow by at most one doc rather than
    splitting documents). Output: per-(source, bin) doc count, token
    load, and the doc-id span (the contiguous pack manifest).

    Scale: one partitioned window (prefix sum within source) + one hash
    agg — no global ordering anywhere; sources pack independently and
    in parallel, which is exactly how a 100 TB corpus shards.
    """
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", tx.token_count("text")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin", F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(2048))
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "bin")
    )


_SQL_CUBE = """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       GROUPING(o_orderpriority, o_orderstatus)::BIGINT AS lvl
FROM orders
GROUP BY CUBE(o_orderpriority, o_orderstatus)
"""


@query(_SQL_CUBE)
def q_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders (priority × status): all four
    grouping levels — (both), (priority), (status), () — from ONE scan
    via Catalyst's Expand node, completing the grouping-sets family next
    to `rollup_revenue`'s hierarchy form. Subtotals labeled 'ALL';
    grouping_id disambiguates."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.grouping_id().alias("lvl"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            "n_orders",
            "revenue",
            "lvl",
        )
    )


_SQL_INCREMENTAL = """
SELECT date_trunc('hour', ts) AS bucket_ts,
       count(*)::BIGINT AS n,
       sum(round(value * 100)::BIGINT) / 100.0 AS sum_value,
       round(sum(round(value * 100)::BIGINT) / 100.0 / count(*), 6) AS avg_value,
       min(value) AS mn,
       max(value) AS mx
FROM events
GROUP BY 1
ORDER BY bucket_ts
"""


@query(_SQL_INCREMENTAL)
def q_incremental_hourly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a new micro-batch's partial
    hourly aggregates merge into the stored rollup state by
    decomposable-agg algebra (sum-of-sums, min-of-mins, count-of-counts;
    avg recomputed from merged sum/count) — the batch twin of the
    `hypertable_rollup` recombination and the foreachBatch upsert sink.
    Here the events table is split 80/20 by event_id into "state" and
    "delta" batches, each partially aggregated, then merged. The oracle
    aggregates the full table directly in one pass — proving
    merge(partial(A), partial(B)) ≡ full(A ∪ B), the property that lets
    a 100 TB rollup absorb an hourly ingest without rescanning history.
    Money sums ride exact integer cents (round(value·100) as bigint):
    float sums are association-SENSITIVE, so the merged two-stage sum
    could land an ulp away from the oracle's one-pass sum and flip a
    rounding boundary (it did, once, at sf0.1) — integer partials make
    merge ≡ full exact, which is also how a real rollup should store
    money.
    """
    ev = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    cents = F.round(F.col("value") * 100).cast("bigint")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(hour.alias("bucket_ts")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    state = partial(ev.filter(F.col("event_id") % 10 < 8))
    delta = partial(ev.filter(F.col("event_id") % 10 >= 8))
    return (
        state.unionByName(delta)
        .groupBy("bucket_ts")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .select(
            "bucket_ts",
            "n",
            (F.col("s") / F.lit(100.0)).alias("sum_value"),
            F.round(F.col("s") / F.lit(100.0) / F.col("n"), 6).alias("avg_value"),
            "mn",
            "mx",
        )
        .orderBy("bucket_ts")
    )


_SQL_INTERLEAVE = """
SELECT source, doc_id, vt
FROM (
  SELECT source, doc_id,
         round(row_number() OVER (PARTITION BY source ORDER BY doc_id)
               / ((substr(source, 4)::INT % 4 + 1)::DOUBLE), 6) AS vt
  FROM documents
)
ORDER BY vt, source, doc_id
LIMIT 100
"""


@query(_SQL_INTERLEAVE)
def q_interleave_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus interleave (training-data scheduling): each
    source gets a mixing weight (1–4×, derived from its id); docs are
    emitted in "virtual time" rank/weight order — a deterministic
    weighted round-robin, so a 3×-weight source appears 3× as often in
    any prefix of the schedule. Returns the first 100 schedule slots.

    Scale: per-source rank is a partitioned window (sources shard
    independently); the global cut is TakeOrdered(100) — top-k merge,
    never a full global sort.
    """
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    src_num = F.substring("source", 4, 8).cast("int")
    weight = (src_num % 4 + 1).cast("double")
    return (
        docs.withColumn("r", F.row_number().over(w))
        .withColumn("vt", F.round(F.col("r") / weight, 6))
        .select("source", "doc_id", "vt")
        .orderBy("vt", "source", "doc_id")
        .limit(100)
    )


_SQL_DECONTAMINATE = f"""
WITH docs AS (SELECT doc_id, {_CLEAN_SQL} AS ct FROM documents),
sh AS (
  SELECT doc_id, unnest(shingles) AS shingle
  FROM (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles
    FROM (SELECT doc_id, string_split(ct, ' ') AS toks FROM docs)
  )
),
ov AS (
  SELECT t.doc_id
  FROM (SELECT * FROM sh WHERE doc_id % 50 <> 0) t
  JOIN (SELECT * FROM sh WHERE doc_id % 50 = 0) b ON t.shingle = b.shingle
  GROUP BY t.doc_id, b.doc_id
  HAVING count(*) >= 3
),
flagged AS (SELECT DISTINCT doc_id FROM ov)
SELECT d.source,
       count(*)::BIGINT AS n_train,
       sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
       round(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6)
         AS flagged_frac
FROM (SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0) d
LEFT JOIN flagged f ON f.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


@query(_SQL_DECONTAMINATE)
def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-data pipeline op): flag
    training docs sharing ≥3 distinct 3-gram shingles with any held-out
    benchmark doc (stand-in eval set: doc_id % 50 == 0). The overlap
    test is the standard n-gram contamination check run before training.

    Scale: the benchmark side is small by construction → its shingle
    set broadcasts; the train side streams through an integer
    xxhash64-shingle hash join (same bijectivity argument as the
    n-gram Jaccard family — tokens can't contain the delimiter), then
    one (train, bench) group-count enforces the ≥3 threshold so a
    single shared phrase can't flag a doc. Per-source audit output.
    """
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id", "source")
    is_bench = F.col("doc_id") % 50 == 0
    sh = dd.shingle_hash_rows(docs, "text", "doc_id", n=3).distinct()
    bench_sh = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    train_sh = sh.filter(F.col("doc_id") % 50 != 0)
    flagged = (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
        .distinct()
        .withColumn("flag", F.lit(1))
    )
    return (
        ids.filter(~is_bench)
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.coalesce("flag", F.lit(0))).alias("n_flagged"),
            F.round(
                F.sum(F.coalesce("flag", F.lit(0))) / F.count(F.lit(1)), 6
            ).alias("flagged_frac"),
        )
        .orderBy("source")
    )


_SQL_SHUFFLED_EXPORT = """
SELECT shard,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT source)::BIGINT AS n_sources,
       sum(n_chars)::BIGINT AS total_chars,
       min(h)::BIGINT AS h_min,
       max(h)::BIGINT AS h_max
FROM (
  SELECT source, n_chars,
         (doc_id * 2654435761 + 40503) % 1000003 AS h,
         ((doc_id * 2654435761 + 40503) % 1000003) % 8 AS shard
  FROM documents
)
GROUP BY shard
ORDER BY shard
"""


@query(_SQL_SHUFFLED_EXPORT)
def q_shuffled_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training export: every doc gets
    a multiplicative-hash position, shard = hash % 8 — the
    hash-partitioned shuffle that breaks source ordering before
    training (reproducible across engines/reruns, unlike RNG shuffles).
    The per-shard manifest (doc count, distinct sources mixed in,
    payload bytes, hash range) is what an export job publishes next to
    the data. Every shard mixes all 20 sources — the mixedness the
    shuffle exists to produce.

    Scale: shard assignment is a scan-stage column expression; the
    manifest is one hash agg. The actual file write is
    ``df.repartition(n_shards, shard).write`` — same key, no extra
    shuffle beyond the one the export inherently needs.
    """
    docs = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761) + F.lit(40503)) % F.lit(1000003)
    return (
        docs.withColumn("h", h)
        .withColumn("shard", F.col("h") % 8)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
            F.min("h").alias("h_min"),
            F.max("h").alias("h_max"),
        )
        .orderBy("shard")
    )


_SQL_TOP_PER_NATION = """
SELECT n_name, rn, c_custkey, c_name, c_acctbal
FROM (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         row_number() OVER (
           PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
)
JOIN nation ON c_nationkey = n_nationkey
WHERE rn <= 3
ORDER BY n_name, rn
"""


@query(_SQL_TOP_PER_NATION)
def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (the canonical partitioned-window shape, distinct
    from `rank_suppliers`' GLOBAL ranking): top-3 customers by account
    balance within each nation, ties broken by key.

    Scale: Window.partitionBy shards by nation — no global sort, no
    single-partition window; Spark pushes a per-partition top-K
    (WindowGroupLimit) below the full sort when the rn filter is this
    shape, so only K rows per group survive the shuffle.
    """
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "rn", "c_custkey", "c_name", "c_acctbal")
        .orderBy("n_name", "rn")
    )


_SQL_VARIANT = """
SELECT (json_extract_string(props, '$.k')::BIGINT % 7) AS k_mod,
       count(*)::BIGINT AS n,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1 ORDER BY k_mod
"""


@query(_SQL_VARIANT)
def q_variant_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics via Spark 4's VARIANT type — the
    parse-once twin of `json_extract_events`' per-path string
    extraction: ``parse_json`` builds the binary variant a single time,
    then typed ``try_variant_get`` paths read it without re-parsing.
    At 100 TB the difference is real — N path extractions over string
    JSON re-tokenize the document N times; a variant column parses
    once (and lands in Parquet as a shredded binary at rest). Output
    joins a derived field against the event value so two typed gets
    feed one aggregate.
    """
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        ev.withColumn("v", v)
        .select(
            F.try_variant_get("v", "$.k", "bigint").alias("k"),
            "event_type",
            "value",
        )
        .groupBy((F.col("k") % 7).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("k_mod")
    )


_SQL_CHUNKS = """
WITH t AS (
  SELECT source,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n
  FROM documents
),
ch AS (
  SELECT source, n,
         unnest(range(0, greatest(CAST(ceil((n - 32) / 24.0) AS BIGINT), 0) + 1))
           AS start
  FROM t
)
SELECT source,
       count(*)::BIGINT AS n_chunks,
       sum(least(32, n - start * 24))::BIGINT AS chunk_token_load,
       round(avg(least(32, n - start * 24)), 6) AS avg_chunk_fill
FROM ch
GROUP BY source
ORDER BY source
"""


@query(_SQL_CHUNKS)
def q_chunk_docs_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for embedding pipelines (the RAG/similarity
    prep op): fixed 32-token windows with stride 24 (8-token overlap),
    final partial chunk kept. Chunk starts come from a ``sequence`` +
    ``explode`` — pure column expressions, no UDTF in the hot path
    (tests/test_udtf.py proves a Python UDTF computes the identical
    chunk set, demonstrating that surface without paying per-row Python
    here). Per-source manifest: chunk count, token load incl. overlap
    duplication, average chunk fill.

    Scale: explode fan-out is rows × chunks-per-doc; everything stays
    in whole-stage codegen and shuffles once for the final agg.
    """
    c, s = 32, 24
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n", tx.token_count("text").cast("bigint")
    )
    n_starts = F.greatest(
        F.ceil((F.col("n") - c) / F.lit(float(s))).cast("bigint"), F.lit(0)
    )
    chunks = docs.select(
        "source",
        "n",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_starts)).alias("start"),
    ).withColumn("chunk_tokens", F.least(F.lit(c), F.col("n") - F.col("start") * s))
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").alias("chunk_token_load"),
            F.round(F.avg("chunk_tokens"), 6).alias("avg_chunk_fill"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# TPC-H relational-breadth suite (adapted to the fixture schemas: no
# partsupp / l_shipmode / l_commitdate columns exist, so Q12/Q21 and the
# partsupp queries are re-expressed on the available columns while keeping
# the plan SHAPE that matters: join topology, predicate placement,
# scalar subqueries, disjunctive join filters).
# --------------------------------------------------------------------------


_SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
"""


@query(_SQL_LOCAL_SUPPLIER_VOLUME)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 6-table snowflake join (customer⋈orders⋈lineitem⋈
    supplier⋈nation⋈region) with the extra c_nationkey = s_nationkey
    equality that makes join ORDER matter. Region filter reduces nation
    to 1/5 before it reaches the fact side; supplier (100×SF rows) and
    the dim chain broadcast, so the only shuffle is orders⋈lineitem.
    At 100 TB that one shuffle is hash-partitioned on orderkey; all
    dimension lookups stay map-side."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    dim = (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region.filter(F.col("r_name") == "ASIA"),
              nation.n_regionkey == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"))
    )


_SQL_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::INT AS l_year,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


@query(_SQL_VOLUME_SHIPPING)
def q_volume_shipping_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bidirectional nation-pair trade volume by ship year.
    The nation dimension joins TWICE under different roles (supplier
    nation n1, customer nation n2) with a disjunctive pair predicate —
    the classic self-role join Catalyst must alias apart. Both nation
    sides broadcast; the orders⋈lineitem shuffle is shared with Q5's
    shape."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount")
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_SQL_MARKET_SHARE = """
SELECT year(o_orderdate)::INT AS o_year,
       round(sum(CASE WHEN n1.n_name = 'NATION_3'
                      THEN l_extendedprice * (1.0 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_volume
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
GROUP BY 1
ORDER BY 1
"""


@query(_SQL_MARKET_SHARE, bench=False)
def q_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: conditional share-of-total per group —
    sum(CASE WHEN nation THEN volume)/sum(volume) by order year, over a
    region- and part-type-restricted join. One aggregation computes
    both numerator and denominator (no second scan, no self-join)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    cust_region = (
        customer.join(
            F.broadcast(
                nation.join(
                    region.filter(F.col("r_name") == "AMERICA"),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey")
            ),
            customer.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.select("l_orderkey", "l_partkey", "l_suppkey",
                  "l_extendedprice", "l_discount")
        .join(F.broadcast(part.filter(F.col("p_type") == "PROMO")
                          .select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_region), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                      .otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(vol), 2).alias("total_volume"),
        )
        .orderBy("o_year")
    )


_SQL_PRODUCT_PROFIT = """
SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
       round(sum(l_extendedprice * (1.0 - l_discount)
                 - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


@query(_SQL_PRODUCT_PROFIT)
def q_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit by supplier nation × order year with a
    substring part-name filter. The fixture has no partsupp, so supply
    cost is modeled as 60% of p_retailprice — the join topology
    (part-name filter feeding the fact join, two broadcast dims, one
    orders shuffle) is what's exercised. `contains` on p_name reaches
    the parquet scan as a pushed StringContains filter."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                  "l_extendedprice", "l_discount")
        .join(F.broadcast(part.filter(F.col("p_name").contains("widget"))
                          .select("p_partkey", "p_retailprice")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(
            supplier.join(F.broadcast(nation.select("n_nationkey", "n_name")),
                          supplier.s_nationkey == F.col("n_nationkey"))
            .select("s_suppkey", "n_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_SQL_RETURNED_ITEMS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query(_SQL_RETURNED_ITEMS)
def q_returned_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: lost-revenue ranking of customers on returned items
    (l_returnflag='R') within one quarter-year order window. Group keys
    include the functionally-dependent customer attributes (name,
    acctbal, nation) — carried through the agg instead of re-joined
    after, same as TPC-H. Top-20 ties break on c_custkey."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-07-01").cast("timestamp")
    return (
        orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
        .join(li.filter(F.col("l_returnflag") == "R")
              .select("l_orderkey", "l_extendedprice", "l_discount"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_SQL_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@query(_SQL_TOP_SUPPLIER, bench=False)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: revenue view + scalar-subquery max — supplier(s)
    whose quarter revenue equals the global maximum. The max is NOT
    collected to the driver: the 1-row agg cross-joins back (broadcast
    nested loop on a single row), keeping the whole plan lazy. Revenue
    is rounded to 2 dp on both engines BEFORE the equality compare so
    fp reassociation can't make the max miss its own row."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    revenue = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(mx),
                     F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_SQL_DISJUNCTIVE = """
SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 5 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 10 AND 40)
"""


@query(_SQL_DISJUNCTIVE, bench=False)
def q_disjunctive_pred_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: join with OR-of-conjunction residual predicates
    (brand/size/quantity brackets). The equi-key (partkey) still drives
    a broadcast hash join; the disjunction evaluates as a post-join
    filter inside the same codegen stage. Single-row scalar output."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount").join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    brackets = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20)
           & F.col("l_quantity").between(5, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(10, 40))
    )
    return joined.filter(brackets).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_SQL_GLOBAL_SALES_OPP = """
WITH cust AS (
  SELECT *, substr(c_name, 16, 2) AS cntrycode FROM customer
  WHERE substr(c_name, 16, 2) IN ('00','01','02','03','04','05','06')
)
SELECT cntrycode, count(*)::BIGINT AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM cust
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM cust WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""


@query(_SQL_GLOBAL_SALES_OPP, bench=False)
def q_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers with above-average balance and NO orders,
    grouped by a derived code (digits 7-8 of the customer name — the
    fixture's stand-in for Q22's phone country code). Three classic
    pieces in one plan: a global scalar subquery (avg balance, cross-
    joined as a broadcast single row, never collected), an anti-join
    against orders, and a derived-key aggregation. Every fixture
    customer has SOME order, so the anti side is 'orders placed since
    2001' — the NOT EXISTS is against recent activity, keeping the
    result non-degenerate."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cust = customer.withColumn("cntrycode", F.substring("c_name", 16, 2))
    codes = ["00", "01", "02", "03", "04", "05", "06"]
    cust = cust.filter(F.col("cntrycode").isin(codes))
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
            ).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


_SQL_WINDOW_SUITE = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice, 2) AS price,
       round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
       round(first_value(o_totalprice) OVER w, 2) AS first_price,
       round(last_value(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
         AS last_price,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cum_dist
FROM orders
WHERE o_custkey % 37 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


@query(_SQL_WINDOW_SUITE)
def q_window_suite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth beyond the reference's lag/rank/cumsum:
    lead, first_value, last_value (full frame), ntile(4), percent_rank
    and cume_dist over per-customer order history. One Window spec =
    one shuffle on o_custkey; every function shares the same sort. The
    (o_orderdate, o_orderkey) ordering is a total order (orderkey
    unique), so ntile/lead are deterministic across engines."""
    orders = _t(spark, sf_dir, "orders")
    sub = orders.filter(F.col("o_custkey") % 37 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return sub.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.round(F.lead("o_totalprice", 1).over(w), 2).alias("next_price"),
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w_full), 2).alias("last_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    ).orderBy("o_custkey", "o_orderkey")


_SQL_KMV_SKETCH = """
WITH hashed AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM (SELECT DISTINCT event_type, user_id FROM events)
),
kmin AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
),
sk AS (
  SELECT event_type, max(h) AS h_k, count(*)::BIGINT AS m
  FROM kmin WHERE rn <= 64 GROUP BY event_type
),
exact AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT sk.event_type,
       CASE WHEN m < 64 THEN m::DOUBLE
            ELSE round((m - 1) * 1152921504606846976.0 / h_k, 2) END
         AS est_distinct,
       exact_distinct,
       round(abs(CASE WHEN m < 64 THEN m::DOUBLE
                      ELSE round((m - 1) * 1152921504606846976.0 / h_k, 2) END
                 - exact_distinct) / exact_distinct, 4) AS rel_err
FROM sk JOIN exact ON sk.event_type = exact.event_type
ORDER BY sk.event_type
"""


@query(_SQL_KMV_SKETCH)
def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=64, per event
    type — the mergeable-sketch pattern for COUNT(DISTINCT) at 100 TB:
    each partition keeps only its k smallest hashes (constant memory),
    merge = k-smallest of the union, estimate = (k-1)/h_k normalized.
    The md5-prefix hash is bit-identical in DuckDB so the oracle
    replays the sketch EXACTLY — estimate, not just the exact count.
    Exact countDistinct runs alongside to report the observed error.
    The k-min set is built the way the sketch is DEFINED — per-bucket
    partial k-min arrays merged per type (two bounded aggregates), not
    a sort-all-hashes window."""
    ev = _t(spark, sf_dir, "events")
    two60 = F.lit(float(1 << 60))
    hashed = (
        ev.select("event_type", "user_id").distinct()
        .select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                   16, 10).cast("bigint").alias("h"),
        )
        .distinct()
    )
    # two-level mergeable k-min — the point of KMV being a sketch:
    # level 1 keeps the 64 smallest hashes per (event_type, hash
    # bucket) — each agg buffer sees 1/64 of the type's distinct
    # hashes (bucket count scales with data at 100 TB); level 2 merges
    # #buckets sorted 64-arrays per type into the final k-min set.
    # Replaces the per-type sort-everything window (VERDICT r3 #2):
    # identical h_k / m because the hashes are distinct per type.
    part = hashed.groupBy(
        "event_type", F.pmod(F.col("h"), F.lit(64)).alias("b")
    ).agg(F.slice(F.array_sort(F.collect_list("h")), 1, 64).alias("mins"))
    sk = part.groupBy("event_type").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("mins"))), 1, 64).alias(
            "mins"
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        sk.select(
            "event_type",
            F.element_at("mins", -1).alias("h_k"),
            F.size("mins").cast("bigint").alias("m"),
        )
        .select(
            "event_type",
            F.when(F.col("m") < 64, F.col("m").cast("double"))
            .otherwise(F.round((F.col("m") - 1) * two60 / F.col("h_k"), 2))
            .alias("est_distinct"),
        )
        .join(F.broadcast(exact), "event_type")
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ),
        )
        .orderBy("event_type")
    )


_SQL_FORECAST = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta,
       count(*)::BIGINT AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.04 AND 0.08
  AND l_quantity < 24
"""


@query(_SQL_FORECAST)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure scan→filter→scalar-agg, zero joins. The entire
    predicate (shipdate year, discount band, quantity cap) pushes into
    the parquet scan (PushedFilters on l_shipdate min/max row-group
    stats); at 100 TB this is THE query partition pruning + predicate
    pushdown exist for — a date-partitioned layout reads 1/84th of the
    files. One map-side partial agg, one 1-row exchange."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_SQL_PRIORITY_RETURNFLAG = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('A', 'N')
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query(_SQL_PRIORITY_RETURNFLAG)
def q_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (l_returnflag stands in for the fixture's missing
    l_shipmode): fact⋈fact join on orderkey, then conditional counts
    via sum(CASE ...) — the two-bucket pivot evaluated inside one
    hash agg, no second pass. orders⋈lineitem is the one real shuffle;
    the lineitem side prunes to 3 columns + a pushed date filter."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            F.col("l_returnflag").isin("A", "N")
            & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
        .join(orders.select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


_SQL_MIN_COST_SUPPLIER = """
WITH offer AS (
  SELECT l_partkey, l_suppkey, p_name,
         round(avg(l_extendedprice / l_quantity), 6) AS unit_cost
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'LARGE' AND p_size BETWEEN 1 AND 15
  GROUP BY 1, 2, 3
)
SELECT o.l_partkey AS p_partkey, o.p_name, s_name, n_name,
       round(s_acctbal, 2) AS s_acctbal, o.unit_cost
FROM offer o
JOIN supplier ON s_suppkey = o.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE o.unit_cost = (SELECT min(o2.unit_cost) FROM offer o2
                     WHERE o2.l_partkey = o.l_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_name
LIMIT 100
"""


@query(_SQL_MIN_COST_SUPPLIER)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated min subquery — for each qualifying part,
    the supplier(s) offering the minimum unit price (avg
    extendedprice/quantity over their lineitems, the fixture's stand-in
    for ps_supplycost). Decorrelated as per-part min agg joined back on
    (partkey, rounded unit_cost); the part filter is applied BEFORE the
    min (equivalent — min is per-part) so the offer agg only shuffles
    qualifying parts. Rounding to 6dp on both engines before the
    equality compare keeps fp quotients from missing their own min.
    Dimension chain (part, supplier, nation) all broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    parts_f = part.filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(1, 15)
    ).select("p_partkey", "p_name")
    offer = (
        li.join(F.broadcast(parts_f), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey", "p_name")
        .agg(
            F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 6).alias(
                "unit_cost"
            )
        )
    )
    mins = (
        offer.groupBy("l_partkey")
        .agg(F.min("unit_cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "m_partkey")
    )
    return (
        offer.join(
            mins,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .drop("m_partkey")
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "unit_cost",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
        .limit(100)
    )


_SQL_IMPORTANT_PART_VALUE = """
WITH value AS (
  SELECT l_partkey,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_12', 'NATION_13', 'NATION_15', 'NATION_18')
  GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM value
WHERE part_value > (SELECT sum(part_value) * 0.001 FROM value)
ORDER BY part_value DESC, l_partkey
"""


@query(_SQL_IMPORTANT_PART_VALUE, bench=False)
def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part value restricted to a supplier-nation group,
    HAVING value > fraction × the global sum — a scalar subquery over
    the SAME aggregate. The per-part agg is computed once and reused
    for both sides (Spark caches nothing here — the 1-row global sum
    cross-joins back as a broadcast, so the agg subtree appears twice
    in the plan but both run from the same shuffled scan at sf; at
    100 TB, localCheckpoint the agg if the double-scan dominates).
    Values are pre-rounded so the global sum is reassociation-stable."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    group_nations = ["NATION_12", "NATION_13", "NATION_15", "NATION_18"]
    supp_f = (
        supplier.join(F.broadcast(nation.select("n_nationkey", "n_name")),
                      F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(group_nations))
        .select("s_suppkey")
    )
    value = (
        li.join(F.broadcast(supp_f), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("part_value")
        )
    )
    threshold = value.agg(
        (F.sum("part_value") * F.lit(0.001)).alias("threshold")
    )
    return (
        value.join(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


_SQL_SUPPLIER_CNT = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


@query(_SQL_SUPPLIER_CNT, bench=False)
def q_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per part attribute bucket,
    with a NOT IN exclusion subquery (negative-balance suppliers —
    the fixture's stand-in for Q16's complaint-comment suppliers).
    NOT IN over a non-null key compiles to a broadcast anti-join;
    count(DISTINCT) expands to a two-phase agg (distinct shuffle on
    (brand,size,suppkey), then count) — Catalyst does this rewrite
    automatically, no manual dedup pass."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    bad_supp = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts_f = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_size")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(parts_f), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


_SQL_EXCESS_STOCK = """
WITH sp AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
pt AS (SELECT l_partkey, avg(qty) AS avg_qty FROM sp GROUP BY 1)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (SELECT sp.l_suppkey FROM sp
                    JOIN pt ON pt.l_partkey = sp.l_partkey
                    WHERE sp.qty > 1.5 * pt.avg_qty)
ORDER BY s_suppkey
"""


@query(_SQL_EXCESS_STOCK, bench=False)
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested IN-subqueries — suppliers who shipped, for
    some name-prefixed part, more than 1.5× that part's average
    per-supplier quantity in the window. Decorrelation: per
    (supplier, part) quantity agg → per-part avg agg → join back →
    qualifying supplier keys → LEFT SEMI into the supplier dim.
    Quantities are integral doubles, so sums/avgs are exact and the
    1.5× compare has no fp-boundary risk. Both shuffles key on
    l_partkey; the semi-join probe side is tiny and broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    red_parts = part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    sp = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    pt = sp.groupBy("l_partkey").agg(F.avg("qty").alias("avg_qty"))
    qualifying = (
        sp.join(pt, "l_partkey")
        .filter(F.col("qty") > F.lit(1.5) * F.col("avg_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(F.broadcast(qualifying),
                      F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


_SQL_LATE_SHIPPERS = """
SELECT s_name, count(*)::BIGINT AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@query(_SQL_LATE_SHIPPERS)
def q_late_shipper_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: correlated EXISTS + NOT EXISTS with inequality
    correlation — suppliers who were the LAST to ship in finished
    multi-supplier orders (fixture stand-in for Q21's receipt/commit
    lateness). Decorrelation of the two subqueries:

      EXISTS(other supplier in order)         ⇔ n_supp ≥ 2
      NOT EXISTS(other supplier shipped later) ⇔ l_shipdate ≥ max
        shipdate over OTHER suppliers' rows

    The per-row "max over others" comes from per-order top-2 supplier
    maxima: per (order, supplier) max shipdate ms, then per order
    m1 = max(ms), m1_cnt = #suppliers tying m1, m2 = max(ms | ms < m1)
    — computed as frame-less window aggs over the (order, supplier)
    rollup (two Window nodes, ONE exchange on l_orderkey, no sort, no
    self-join, no duplicated agg lineage). For a row with supplier s:
    max_other = m2 only when s is the SOLE max supplier, else m1.
    The o_orderstatus='F' restriction applies BEFORE the rollup — the
    correlated subqueries only ever probe l1's own order, so the
    filter propagates to them. Every shuffle keys on l_orderkey;
    per-order state is O(1) — the scalable form of Q21's quadratic
    self-joins (classic Neumann/Kemper-style unnesting)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    l = li.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).drop("o_orderkey")
    ms = l.groupBy("l_orderkey", "l_suppkey").agg(F.max("l_shipdate").alias("ms"))
    w = Window.partitionBy("l_orderkey")
    stats = ms.select(
        "l_orderkey",
        "l_suppkey",
        "ms",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.max("ms").over(w).alias("m1"),
    ).select(
        "*",
        F.sum(F.when(F.col("ms") == F.col("m1"), 1).otherwise(0))
        .over(w)
        .alias("m1_cnt"),
        F.max(F.when(F.col("ms") < F.col("m1"), F.col("ms"))).over(w).alias("m2"),
    )
    per_sp = (
        stats.filter(F.col("n_supp") >= 2)
        .withColumn(
            "max_other",
            F.when(
                (F.col("m1_cnt") == 1) & (F.col("ms") == F.col("m1")), F.col("m2")
            ).otherwise(F.col("m1")),
        )
        .select("l_orderkey", "l_suppkey", "max_other")
    )
    keep = l.join(per_sp, ["l_orderkey", "l_suppkey"]).filter(
        F.col("l_shipdate") >= F.col("max_other")
    )
    return (
        keep.join(F.broadcast(supplier.select("s_suppkey", "s_name")),
                  F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_SQL_STREAM_SLIDING = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) - k.k * INTERVAL 1 HOUR AS win_start,
       event_type, count(*)::BIGINT AS n, round(sum(value), 4) AS val_sum
FROM events, (VALUES (0), (1)) k(k)
GROUP BY 1, 2
ORDER BY win_start, event_type
"""


@query(_SQL_STREAM_SLIDING, bench=False)
def q_streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — sliding event-time windows (2 h window, 1 h slide): the
    overlapping-window aggregation only tumbling windows can't express.
    availableNow drain ⇒ equals the batch explode-to-covering-windows
    SQL, which is exactly the expansion Spark's TimeWindow node applies
    per row before the windowed agg."""
    ev = win.stream_events(spark, sf_dir)
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(win.sliding_counts_stream(ev))
    return out.orderBy("win_start", "event_type")


_SQL_GROUPED_PCT = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*)::BIGINT AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_GROUPED_PCT)
def q_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 companion — EXACT interpolated percentiles per group
    (percentile_cont / R-7 semantics on both engines). At 100 TB the
    exact form needs a per-group sort of values; swap to
    approx_percentile (KLL-backed, mergeable) once rank error beats
    sort cost — the tolerance contract for that swap is pinned in
    tests/test_functions.py's approx-percentile test."""
    ev = _t(spark, sf_dir, "events")
    pcts = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("p50_raw"),
        F.percentile("value", F.lit(0.9)).alias("p90_raw"),
        F.percentile("value", F.lit(0.99)).alias("p99_raw"),
        F.count(F.lit(1)).alias("n"),
    )
    return pcts.select(
        "event_type",
        F.round("p50_raw", 6).alias("p50"),
        F.round("p90_raw", 6).alias("p90"),
        F.round("p99_raw", 6).alias("p99"),
        "n",
    ).orderBy("event_type")


_SQL_ROBUST_STATS = """
WITH base AS (
  SELECT event_type,
         quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - b.med), 0.5) AS mad_raw
  FROM events e JOIN base b ON e.event_type = b.event_type
  GROUP BY e.event_type
),
outl AS (
  SELECT e.event_type,
         sum(CASE WHEN e.value < b.q1 - 1.5 * (b.q3 - b.q1)
                    OR e.value > b.q3 + 1.5 * (b.q3 - b.q1)
                  THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
         count(*)::BIGINT AS n
  FROM events e JOIN base b ON e.event_type = b.event_type
  GROUP BY e.event_type
)
SELECT b.event_type, round(b.med, 6) AS median, round(m.mad_raw, 6) AS mad,
       round(b.q3 - b.q1, 6) AS iqr, o.n_outliers, o.n
FROM base b JOIN mad m ON b.event_type = m.event_type
JOIN outl o ON b.event_type = o.event_type
ORDER BY b.event_type
"""


@query(_SQL_ROBUST_STATS)
def q_robust_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group dispersion — median / MAD / IQR and the Tukey
    -fence outlier census (the heavy-tail-safe alternative to F11's
    3σ filter). Two aggregation passes over the same shuffle key
    (median first, then median absolute deviation needs it), stats
    join back as a broadcast. The oracle replays both passes as CTEs
    rather than trusting DuckDB's mad() to share interpolation
    semantics."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    base = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"),
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    mad = (
        ev.join(F.broadcast(base), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
                "mad_raw"
            )
        )
    )
    fences = base.withColumn("lo", F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))) \
                 .withColumn("hi", F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
    outl = (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
                .otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        base.join(mad, "event_type")
        .join(outl, "event_type")
        .select(
            "event_type",
            F.round("med", 6).alias("median"),
            F.round("mad_raw", 6).alias("mad"),
            F.round(F.col("q3") - F.col("q1"), 6).alias("iqr"),
            "n_outliers",
            "n",
        )
        .orderBy("event_type")
    )


_SQL_INTERSECT = """
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT o_custkey AS c_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
ORDER BY c_custkey
"""


@query(_SQL_INTERSECT, bench=False)
def q_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family completion — INTERSECT (distinct set semantics):
    high-balance customers ∩ customers ordering in 1998+. Catalyst
    plans INTERSECT as a left-semi join over distinct inputs — same
    shuffle shape as J3, but exposed through the set-operator API."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    rich = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    recent = (
        orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return rich.intersect(recent).orderBy("c_custkey")


_SQL_ORDER_ARRAYS = """
SELECT l_orderkey,
       array_to_string(list_sort(list(l_partkey)), ',') AS items_str,
       count(*)::INT AS n_items,
       max(l_partkey) AS max_part,
       sum(l_quantity)::BIGINT AS qty_sum
FROM lineitem
WHERE l_orderkey % 53 = 0
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


@query(_SQL_ORDER_ARRAYS)
def q_order_item_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/HOF surface — per-order item rollup into typed arrays:
    collect → array_sort → string-encode, plus an ``aggregate`` HOF
    fold over the quantity array. The array columns are compared via
    concat_ws string encodings (engine-neutral), and the HOF fold's
    result is proven equal to the plain SUM the oracle computes —
    folding collected arrays ≡ aggregating rows. Quantities are
    integral doubles so the fold is reassociation-exact."""
    li = _t(spark, sf_dir, "lineitem")
    sub = li.filter(F.col("l_orderkey") % 53 == 0)
    return (
        sub.groupBy("l_orderkey")
        .agg(
            F.array_sort(F.collect_list("l_partkey")).alias("parts"),
            F.collect_list("l_quantity").alias("qtys"),
        )
        .select(
            "l_orderkey",
            F.concat_ws(",", F.col("parts").cast("array<string>")).alias("items_str"),
            F.size("parts").alias("n_items"),
            F.element_at("parts", -1).alias("max_part"),
            F.aggregate(
                "qtys", F.lit(0.0), lambda acc, x: acc + x
            ).cast("long").alias("qty_sum"),
        )
        .orderBy("l_orderkey")
    )


_SQL_SKYLINE = """
SELECT p_partkey, p_size, round(p_retailprice, 2) AS p_retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p_partkey
"""


@query(_SQL_SKYLINE)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier (operators/skyline): parts not
    dominated on (minimize p_retailprice, maximize p_size). Two-phase
    distributed BNL-with-presort — per-partition local skylines via
    mapInPandas, then one reduce pass over the union of frontiers.
    The oracle is the NOT EXISTS dominance definition itself
    (quadratic — fine at oracle SF; the operator is the scale path)."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    sky = skyline.skyline(part, minimize=["p_retailprice"], maximize=["p_size"])
    return sky.select(
        "p_partkey", "p_size", F.round("p_retailprice", 2).alias("p_retailprice")
    ).orderBy("p_partkey")


_SQL_REPETITION = """
WITH t AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
d AS (
  SELECT source, len(toks) - 2 AS n_tri,
         list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tris
  FROM t WHERE len(toks) >= 3
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg(1.0 - len(list_distinct(tris)) / n_tri), 6) AS avg_rep,
       round(max(1.0 - len(list_distinct(tris)) / n_tri), 6) AS max_rep,
       sum(CASE WHEN 1.0 - len(list_distinct(tris)) / n_tri > 0.2
                THEN 1 ELSE 0 END)::BIGINT AS n_repetitive
FROM d GROUP BY source ORDER BY source
"""


@query(_SQL_REPETITION)
def q_repetition_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality extension — within-document repetition: the
    fraction of duplicate word trigrams (1 − distinct/total), the
    standard boilerplate/degenerate-text signal in training-corpus
    filtering. Trigrams materialize per row as a codegen'd
    transform(sequence(...)) over the token array — no explode, no
    shuffle until the per-source rollup; array_distinct runs inside
    the same projection."""
    docs = _t(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    d = (
        docs.withColumn("toks", toks)
        .withColumn("n_tri", F.greatest(F.size("toks") - 2, F.lit(0)))
        .filter(F.col("n_tri") > 0)
        .withColumn(
            "tris",
            F.transform(
                F.sequence(F.lit(0), F.col("n_tri") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                    F.element_at("toks", i + 3),
                ),
            ),
        )
        .withColumn("n_distinct", F.size(F.array_distinct("tris")))
        .withColumn(
            "rep_ratio",
            F.lit(1.0) - F.col("n_distinct") / F.col("n_tri"),
        )
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("rep_ratio"), 6).alias("avg_rep"),
            F.round(F.max("rep_ratio"), 6).alias("max_rep"),
            F.sum(F.when(F.col("rep_ratio") > 0.2, 1).otherwise(0)).alias(
                "n_repetitive"
            ),
        )
        .orderBy("source")
    )


_SQL_BLOOM_PRUNE = """
WITH dim AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
pos AS (
  SELECT (('0x' || substr(md5(c_custkey::VARCHAR || '#' || i.i), 1, 15))::BIGINT
          % 2048) AS pos
  FROM dim, (VALUES (0), (1), (2)) i(i)
),
bitmap AS (
  SELECT (pos // 32)::INT AS word_idx,
         bit_or((1::BIGINT << (pos % 32)::INT)) AS mask
  FROM pos GROUP BY 1
),
probe AS (
  SELECT o_custkey,
    (('0x' || substr(md5(o_custkey::VARCHAR || '#0'), 1, 15))::BIGINT % 2048) AS p0,
    (('0x' || substr(md5(o_custkey::VARCHAR || '#1'), 1, 15))::BIGINT % 2048) AS p1,
    (('0x' || substr(md5(o_custkey::VARCHAR || '#2'), 1, 15))::BIGINT % 2048) AS p2
  FROM orders
),
flag AS (
  SELECT p.o_custkey,
         ((coalesce(b0.mask, 0) >> (p.p0 % 32)::INT) % 2 = 1)
         AND ((coalesce(b1.mask, 0) >> (p.p1 % 32)::INT) % 2 = 1)
         AND ((coalesce(b2.mask, 0) >> (p.p2 % 32)::INT) % 2 = 1) AS bloom_pass,
         (d.c_custkey IS NOT NULL) AS is_true
  FROM probe p
  LEFT JOIN bitmap b0 ON b0.word_idx = (p.p0 // 32)::INT
  LEFT JOIN bitmap b1 ON b1.word_idx = (p.p1 // 32)::INT
  LEFT JOIN bitmap b2 ON b2.word_idx = (p.p2 // 32)::INT
  LEFT JOIN dim d ON d.c_custkey = p.o_custkey
)
SELECT count(*)::BIGINT AS n_total,
       sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_true,
       sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_candidates,
       sum(CASE WHEN is_true AND NOT bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_missed,
       round(sum(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END)
             / (count(*) - sum(CASE WHEN is_true THEN 1 ELSE 0 END)), 6) AS fpr
FROM flag
"""


@query(_SQL_BLOOM_PRUNE)
def q_bloom_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (`operators/scale.bloom_bitmap` /
    `bloom_flag`) — the explicit runtime-filter technique: build a
    2048-bit, 3-hash bitmap from a small dim key set (high-balance
    customers), ship it to the fact side (k broadcast equi-joins on
    the 64-row word table — all codegen, no UDF, no collect), and
    count what survives vs the exact semi-join. Output pins the Bloom
    contract itself: n_missed = 0 (NO false negatives) and the
    measured false-positive rate. The md5-prefix hash is bit-identical
    in DuckDB, so the oracle replays the bitmap build AND the probe —
    the whole filter, not just the counts. At 100 TB this prunes the
    fact shuffle before the join; Spark's own AQE runtime filters are
    the automatic form, this is the engine-level primitive."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    dim = customer.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    bitmap = sc.bloom_bitmap(dim, "c_custkey")
    flagged = sc.bloom_flag(orders.select("o_custkey"), "o_custkey", bitmap).join(
        F.broadcast(dim.withColumn("is_true", F.lit(1))),
        F.col("o_custkey") == F.col("c_custkey"),
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.coalesce(F.col("is_true"), F.lit(0))).alias("n_true"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_candidates"),
        F.sum(
            F.when(F.col("bloom_pass") & F.col("is_true").isNull(), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when(~F.col("bloom_pass") & F.col("is_true").isNotNull(), 1).otherwise(0)
        ).alias("n_missed"),
    ).select(
        "n_total",
        "n_true",
        "n_candidates",
        "n_missed",
        F.round(
            F.col("n_false_pos") / (F.col("n_total") - F.col("n_true")), 6
        ).alias("fpr"),
    )


_SQL_ROLLING_ANOMALY = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
),
r AS (
  SELECT day, revenue,
         avg(revenue) OVER w AS avg7,
         stddev_samp(revenue) OVER w AS sd7,
         count(*) OVER w AS cnt
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, revenue, round((revenue - avg7) / sd7, 4) AS z
FROM r
WHERE cnt = 7 AND abs((revenue - avg7) / sd7) > 2
ORDER BY day
"""


@query(_SQL_ROLLING_ANOMALY)
def q_rolling_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on daily revenue: each day
    scored against the trailing 7 days' mean/stddev (frame excludes
    the current row — no self-leakage), flagged at |z| > 2. The window
    runs over the daily pre-aggregate — time-span-bounded (~2.5k rows
    for 7 fixture years), the allowlisted global-window exception
    class. At 100 TB the pre-agg shrinks the input identically; for
    per-key anomaly streams, partition the window by the key."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_trunc("DAY", F.col("o_orderdate")).alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    scored = daily.select(
        "day",
        "revenue",
        F.avg("revenue").over(w).alias("avg7"),
        F.stddev_samp("revenue").over(w).alias("sd7"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    ).filter(F.col("cnt") == 7)
    z = (F.col("revenue") - F.col("avg7")) / F.col("sd7")
    return (
        scored.filter(F.abs(z) > 2)
        .select("day", "revenue", F.round(z, 4).alias("z"))
        .orderBy("day")
    )


_SQL_SOURCE_DIVERGENCE = """
WITH sl AS (
  SELECT source, lang, count(*)::BIGINT AS n_sl FROM documents GROUP BY 1, 2
),
s AS (SELECT source, sum(n_sl) AS n_s FROM sl GROUP BY 1),
lg AS (SELECT lang, sum(n_sl) AS n_l FROM sl GROUP BY 1),
tot AS (SELECT count(*)::DOUBLE AS n FROM documents)
SELECT sl.source, max(s.n_s)::BIGINT AS n_docs,
       round(-sum((n_sl / n_s) * ln(n_sl / n_s)), 6) AS entropy,
       round(sum((n_sl / n_s) * ln((n_sl / n_s) / (n_l / tot.n))), 6)
         AS kl_from_global
FROM sl
JOIN s ON sl.source = s.source
JOIN lg ON sl.lang = lg.lang
CROSS JOIN tot
GROUP BY sl.source
ORDER BY sl.source
"""


@query(_SQL_SOURCE_DIVERGENCE)
def q_source_lang_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix diagnostics: per-source language-distribution entropy
    and KL divergence from the corpus-wide language mix — the drift /
    imbalance signal a training-data pipeline watches per ingest
    source. Distributions come from exact integer counts; the log-sum
    runs over ≤|langs| terms per source (tiny — the heavy work is the
    two count aggregations, both single-shuffle with map-side
    partials; the global lang mix broadcasts back)."""
    docs = _t(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_sl"))
    s = sl.groupBy("source").agg(F.sum("n_sl").alias("n_s"))
    lg = sl.groupBy("lang").agg(F.sum("n_sl").alias("n_l"))
    total = docs.count()
    p = F.col("n_sl") / F.col("n_s")
    q = F.col("n_l") / F.lit(float(total))
    return (
        sl.join(F.broadcast(s), "source")
        .join(F.broadcast(lg), "lang")
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_from_global"),
        )
        .orderBy("source")
    )


_SQL_FUZZY_DUP = """
WITH d AS (
  SELECT doc_id, substr(text, 1, 8) AS blk, substr(text, 1, 32) AS head
  FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       levenshtein(a.head, b.head)::INT AS dist
FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 8
ORDER BY a_id, b_id
"""


@query(_SQL_FUZZY_DUP)
def q_fuzzy_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection — the dedup-family member the
    shingle methods can't express (they see token multisets; this sees
    character-level edits). Blocked self-join: candidates share an
    8-char prefix block (equi-join — the cross product never exists),
    then exact Levenshtein over 32-char heads refines at threshold ≤8.
    At 100 TB the block key generalizes to (prefix, length-band)
    multi-blocking; Levenshtein cost is bounded by the 32-char cap.
    Both engines implement classic unit-cost edit distance."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.substring("text", 1, 8).alias("blk"),
        F.substring("text", 1, 32).alias("head"),
    )
    a = d.select(
        F.col("doc_id").alias("a_id"), F.col("blk"), F.col("head").alias("a_head")
    )
    b = d.select(
        F.col("doc_id").alias("b_id"), F.col("blk"), F.col("head").alias("b_head")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("dist", F.levenshtein("a_head", "b_head"))
        .filter(F.col("dist") <= 8)
        .select("a_id", "b_id", "dist")
        .orderBy("a_id", "b_id")
    )


_SQL_STREAM_DEDUP_HOURLY = """
WITH d AS (SELECT DISTINCT user_id, event_type, ts FROM events)
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start, count(*)::BIGINT AS n
FROM d GROUP BY 1 ORDER BY hour_start
"""


@query(_SQL_STREAM_DEDUP_HOURLY, bench=False)
def q_streaming_dedup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — CHAINED stateful operators in one streaming query:
    watermarked dedup (dropDuplicatesWithinWatermark on
    (user_id, event_type, ts)) feeding a tumbling-hour windowed count.
    Two state stores in one pipeline — the shape real ingestion
    pipelines run (exactly-once cleanse → aggregate), and the reason
    state-partition scoping matters (state instances = partitions ×
    stateful ops). availableNow drain ⇒ oracle = batch DISTINCT then
    hourly GROUP BY."""
    ev = win.stream_events(spark, sf_dir)
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )
    agg = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour_start"), "n")
    )
    with win.scoped_shuffle_partitions(spark):
        out = win.run_to_memory(agg)
    return out.orderBy("hour_start")


_SQL_HEAVY_HITTERS = """
WITH branded AS (
  SELECT p_brand FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT p_brand, count(*)::BIGINT AS freq
FROM branded
GROUP BY p_brand
HAVING count(*) > 0.0408 * (SELECT count(*) FROM branded)
ORDER BY freq DESC, p_brand
"""


@query(_SQL_HEAVY_HITTERS)
def q_heavy_hitter_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (`operators/scale.frequent_items`): brands above
    4.08% of lineitem volume, found sketch-style — per-partition exact
    counts generate candidates (pigeonhole: a global heavy hitter MUST
    exceed the local threshold in some partition, on any partitioning),
    then a semi-join-pruned exact recount filters at support·n. The
    output is provably exactly the > support·n set, which is why a
    plain HAVING-clause oracle checks a partition-aware algorithm.
    At 100 TB the local counter swaps for a bounded-memory
    Misra-Gries/SpaceSaving sketch; the two-phase shape is unchanged.
    The brand key comes from a broadcast part join before the count."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    branded = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return (
        sc.frequent_items(branded.select("p_brand"), ["p_brand"], support=0.0408)
        .orderBy(F.desc("freq"), "p_brand")
    )


_SQL_COPURCHASE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS a_part, b.l_partkey AS b_part,
       count(*)::BIGINT AS support
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 3
ORDER BY support DESC, a_part, b_part
LIMIT 20
"""


@query(_SQL_COPURCHASE)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (A-priori level 2): parts co-occurring
    in the same order, support ≥ 3, top-20. The self-join keys on
    l_orderkey over the DISTINCT (order, part) projection — pair
    fan-out is Σ items_per_order², bounded by basket size, never
    |parts|². Canonical a<b orientation halves the join output and
    makes each pair unique. At scale, hot giant baskets are the skew
    axis — cap basket size or salt the orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    # r9 (guide §2.4 "share one exchange"): keying the distinct's
    # exchange on l_orderkey alone still clusters (l_orderkey,
    # l_partkey) — hash(ok) ⊂ the agg's clustering keys — and the
    # SAME partitioning satisfies the self-join, so the dedup agg and
    # the join run off ONE exchange (was: distinct exchange on both
    # cols + a join re-shuffle of each side). The lazy checkpoint
    # (partitioning-preserving) materializes the distinct once for
    # both join sides.
    op = (
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("a_part"))
    b = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("b_part"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a_part") < F.col("b_part"))
        .groupBy("a_part", "b_part")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
        .orderBy(F.desc("support"), "a_part", "b_part")
        .limit(20)
    )


_SQL_TRANSITIONS = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
trans AS (
  SELECT event_type AS from_type, next_type, count(*)::BIGINT AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, next_type, n,
       round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
FROM trans
ORDER BY from_type, next_type
"""


@query(_SQL_TRANSITIONS)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() over (user_id ordered by ts, event_id — a total
    order), then (from, to) counts row-normalized into transition
    probabilities. One user-keyed window shuffle + one tiny agg; the
    normalizing per-from totals come from a window over the 5×5
    transition-count table (bounded by |event_type|²)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return (
        trans.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(w_from), 6)
        )
        .orderBy("from_type", "next_type")
    )


_SQL_EMB_QUANT = """
WITH q AS (
  SELECT label,
         embedding::DOUBLE[] AS x,
         list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) / 127.0
           AS scale
  FROM embeddings
),
e AS (
  SELECT label,
         sqrt(
           list_sum(list_transform(range(1, len(x) + 1),
                    i -> pow(x[i] - round(x[i] / scale) * scale, 2)))
           / list_sum(list_transform(x, v -> v * v))
         ) AS rel_err
  FROM q
)
SELECT label, count(*)::BIGINT AS n,
       round(avg(rel_err), 6) AS avg_rel_err,
       round(max(rel_err), 6) AS max_rel_err
FROM e GROUP BY label ORDER BY label
"""


@query(_SQL_EMB_QUANT)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding compression for vector stores: per-vector symmetric
    int8 scalar quantization (scale = max|x|/127, q = round(x/scale))
    with exact reconstruction-error accounting — the 4×-compression
    step an ANN index applies before sharding at 100 TB. Everything is
    per-row HOF arithmetic (transform / zip_with / aggregate folds) in
    one codegen'd projection — zero shuffles before the per-label
    rollup. Arrays are cast float→double on BOTH engines so the
    round-trip arithmetic is bit-comparable."""
    emb = _t(spark, sf_dir, "embeddings")
    x = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(x, lambda v: F.abs(v))) / F.lit(127.0)
    rec = F.transform(x, lambda v: F.round(v / scale) * scale)
    sq = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, v: acc + v
    )
    err2 = sq(F.zip_with(x, rec, lambda a, b: (a - b) * (a - b)))
    norm2 = sq(F.transform(x, lambda v: v * v))
    rel = F.sqrt(err2 / norm2)
    return (
        emb.select("label", rel.alias("rel_err"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("rel_err"), 6).alias("avg_rel_err"),
            F.round(F.max("rel_err"), 6).alias("max_rel_err"),
        )
        .orderBy("label")
    )


_SQL_PROFILE = """
SELECT * FROM (
  SELECT 'l_orderkey' AS col_name,
         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
         count(DISTINCT l_orderkey)::BIGINT AS n_distinct,
         min(l_orderkey::VARCHAR) AS min_str, max(l_orderkey::VARCHAR) AS max_str
  FROM lineitem
  UNION ALL
  SELECT 'l_partkey', sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
         count(DISTINCT l_partkey)::BIGINT,
         min(l_partkey::VARCHAR), max(l_partkey::VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
         count(DISTINCT l_suppkey)::BIGINT,
         min(l_suppkey::VARCHAR), max(l_suppkey::VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_quantity', sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT,
         count(DISTINCT l_quantity)::BIGINT,
         min(l_quantity::VARCHAR), max(l_quantity::VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice',
         sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
         count(DISTINCT l_extendedprice)::BIGINT,
         min(l_extendedprice::VARCHAR), max(l_extendedprice::VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT,
         count(DISTINCT l_returnflag)::BIGINT,
         min(l_returnflag::VARCHAR), max(l_returnflag::VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_shipdate', sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
         count(DISTINCT l_shipdate)::BIGINT,
         min(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')),
         max(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')) FROM lineitem
)
ORDER BY col_name
"""


@query(_SQL_PROFILE)
def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (data-quality surface): one output row per
    column with null count, distinct count, and min/max rendered as
    strings — the schema-drift / ingest-health scan run before a table
    enters a pipeline. The plan is metadata-driven (the per-column agg
    is GENERATED from the schema) and runs as one COLUMN-PRUNED scan
    per column, unioned: N single-column scans read the same total
    bytes as one N-column scan, while the alternative — N exact
    count(DISTINCT)s in one aggregate — makes Catalyst Expand every
    row N× (measured 14 s vs 2 s at sf0.1 on 7 columns). Swap
    approx_count_distinct in when ±2%% is acceptable: HLL partials
    aggregate in a plain single pass with no Expand at all."""
    li = _t(spark, sf_dir, "lineitem")
    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    ]

    def prof(c: str) -> DataFrame:
        return li.select(c).agg(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(F.col(c).cast("string")).alias("min_str"),
            F.max(F.col(c).cast("string")).alias("max_str"),
        ).select(F.lit(c).alias("col_name"), "*")

    out = prof(cols[0])
    for c in cols[1:]:
        out = out.unionByName(prof(c))
    return out.orderBy("col_name")


_SQL_TWAP = """
WITH obs AS (
  SELECT event_type, value,
         epoch_us(lead(ts) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) - ts) AS dur_us
  FROM events
)
SELECT event_type,
       round(sum(value * dur_us) / sum(dur_us), 6) AS twap,
       round(avg(value), 6) AS plain_avg,
       count(*)::BIGINT AS n_intervals
FROM obs WHERE dur_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_TWAP)
def q_twap_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) over irregular samples: each
    observation holds until the next one of the same type, so its
    weight is that interval's duration (lead(ts) − ts; the final open
    interval drops). The irregular-sampling-correct mean — a plain avg
    over-weights burst periods. One window shuffle on event_type, one
    agg; integral microsecond durations keep the weighted sums exact
    until the final division."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ltz = F.col("ts").cast("timestamp")  # ntz fixtures: UTC identity cast
    dur = (
        F.unix_micros(F.lead(ltz).over(w)) - F.unix_micros(ltz)
    ).alias("dur_us")
    obs = ev.select("event_type", "ts", "event_id", "value").select(
        "event_type", "value", dur
    ).filter(F.col("dur_us").isNotNull())
    return (
        obs.groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6
            ).alias("twap"),
            F.round(F.avg("value"), 6).alias("plain_avg"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .orderBy("event_type")
    )


def _sql_trajectory() -> str:
    return """
WITH pts AS (
  SELECT user_id, ts, event_id,
         -74.3 + (event_id % 1000) / 1000.0 * 0.6 AS lon,
         40.5 + ((event_id * 7) % 1000) / 1000.0 * 0.5 AS lat
  FROM events
),
hops AS (
  SELECT user_id, ts, lon, lat,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
         lag(ts) OVER w AS pts_
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
d AS (
  SELECT user_id,
         2 * 6371.0 * asin(sqrt(
           pow(sin((radians(lat) - radians(plat)) / 2), 2)
           + cos(radians(plat)) * cos(radians(lat))
             * pow(sin((radians(lon) - radians(plon)) / 2), 2)
         )) AS hop_km,
         epoch_us(ts - pts_) / (3600.0 * 1e6) AS dt_h
  FROM hops WHERE plon IS NOT NULL
)
SELECT user_id, round(sum(hop_km), 3) AS path_km,
       round(max(hop_km), 3) AS max_hop_km,
       round(sum(hop_km) / sum(dt_h), 3) AS avg_kmh,
       count(*)::BIGINT AS n_hops
FROM d GROUP BY user_id ORDER BY user_id
"""


@query(_sql_trajectory())
def q_user_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory analytics over the derived point-per-event convention:
    per-user path length (haversine between consecutive pings), max
    single hop, and average speed (km/h over active time). Composes
    the per-user sequence window with the geo kernel — all codegen;
    one shuffle on user_id, then a per-user agg on the same key (no
    second exchange: the window's hash partitioning is reused)."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.lit(-74.3) + (F.col("event_id") % 1000) / 1000.0 * 0.6).alias("lon"),
        (F.lit(40.5) + ((F.col("event_id") * 7) % 1000) / 1000.0 * 0.5).alias("lat"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = pts.select(
        "user_id",
        "ts",
        "lon",
        "lat",
        F.lag("lon").over(w).alias("plon"),
        F.lag("lat").over(w).alias("plat"),
        F.lag("ts").over(w).alias("pts_"),
    ).filter(F.col("plon").isNotNull())
    hop_km = geo.haversine_km("plat", "plon", "lat", "lon")
    dt_h = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("pts_").cast("timestamp"))
    ) / F.lit(3600.0 * 1e6)
    return (
        hops.select("user_id", hop_km.alias("hop_km"), dt_h.alias("dt_h"))
        .groupBy("user_id")
        .agg(
            F.round(F.sum("hop_km"), 3).alias("path_km"),
            F.round(F.max("hop_km"), 3).alias("max_hop_km"),
            F.round(F.sum("hop_km") / F.sum("dt_h"), 3).alias("avg_kmh"),
            F.count(F.lit(1)).alias("n_hops"),
        )
        .orderBy("user_id")
    )


_SQL_KS = """
WITH two AS (
  SELECT round(value, 2) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events WHERE event_type IN ('purchase', 'click')
),
g AS (
  SELECT v, sum(is_p) AS n_p, sum(1 - is_p) AS n_c FROM two GROUP BY v
),
tot AS (SELECT sum(is_p) AS t_p, sum(1 - is_p) AS t_c FROM two),
cum AS (
  SELECT v,
         sum(n_p) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c_p,
         sum(n_c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c_c
  FROM g
)
SELECT round(max(abs(c_p / t_p - c_c / t_c)), 6) AS ks_d
FROM cum CROSS JOIN tot
"""


@query(_SQL_KS)
def q_ks_statistic_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the purchase and
    click value distributions — distribution-drift detection without
    sorting rows: group by (2dp) value first, cumulative counts run
    over VALUE GROUPS (domain-bounded, the same trick as the AUC
    metric), D = max |CDF₁ − CDF₂| over group boundaries. The only
    unpartitioned window is over ≤10⁵ distinct 2dp values regardless
    of row count."""
    ev = _t(spark, sf_dir, "events")
    two = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        F.round("value", 2).alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    g = two.groupBy("v").agg(
        F.sum("is_p").alias("n_p"),
        F.sum(F.lit(1) - F.col("is_p")).alias("n_c"),
    )
    tot = two.agg(
        F.sum("is_p").alias("t_p"), F.sum(F.lit(1) - F.col("is_p")).alias("t_c")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "v",
        F.sum("n_p").over(w).alias("c_p"),
        F.sum("n_c").over(w).alias("c_c"),
    )
    return (
        cum.join(F.broadcast(tot))
        .select(
            (F.abs(F.col("c_p") / F.col("t_p") - F.col("c_c") / F.col("t_c"))).alias(
                "gap"
            )
        )
        .agg(F.round(F.max("gap"), 6).alias("ks_d"))
    )


_SQL_EXCEPT_ALL = """
WITH a AS (
  SELECT o_custkey, o_orderpriority FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
),
b AS (
  SELECT o_custkey, o_orderpriority FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    AND o_orderdate < TIMESTAMP '1999-01-01'
),
surviving AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
SELECT o_orderpriority, count(*)::BIGINT AS n_surviving
FROM surviving GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query(_SQL_EXCEPT_ALL)
def q_except_all_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family multiset completion — EXCEPT ALL (count-respecting
    difference): order-priority rows of 1997 minus those of 1998, i.e.
    each (custkey, priority) keeps max(n₁₉₉₇ − n₁₉₉₈, 0) copies.
    Catalyst plans exceptAll as a counted anti-semantics generate —
    no row-id tricks needed; the output here aggregates the surviving
    multiset so the oracle compares a bounded table."""
    orders = _t(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey", "o_orderpriority")

    surviving = year(1997).exceptAll(year(1998))
    return (
        surviving.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_surviving"))
        .orderBy("o_orderpriority")
    )


_SQL_DECILES = """
WITH d AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, decile, count(*)::BIGINT AS n,
       round(min(value), 2) AS lo, round(max(value), 2) AS hi,
       round(avg(value), 6) AS mean_value
FROM d GROUP BY 1, 2 ORDER BY event_type, decile
"""


@query(_SQL_DECILES)
def q_value_deciles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram: ntile(10) deciles of value within each
    event type, with per-decile count / bounds / mean — the
    quantile-bucket profile (feature binning, monotonic calibration
    inputs). The decile window partitions by event_type (no global
    sort); (value, event_id) ordering makes bucket assignment a total
    order, so both engines cut ties identically."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", "event_id")
        .withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
        .orderBy("event_type", "decile")
    )


_SQL_VALUE_TREND = """
WITH b AS (
  SELECT event_type,
         epoch_us(ts - TIMESTAMP '2024-01-01') / (86400.0 * 1e6) AS xd,
         value AS y
  FROM events
),
s AS (
  SELECT event_type, count(*)::DOUBLE AS n, sum(xd) AS sx, sum(y) AS sy,
         sum(xd * xd) AS sxx, sum(y * y) AS syy, sum(xd * y) AS sxy
  FROM b GROUP BY event_type
)
SELECT event_type,
       round((sxy - sx*sy/n) / (sxx - sx*sx/n), 6) AS slope,
       round((sy - ((sxy - sx*sy/n) / (sxx - sx*sx/n)) * sx) / n, 6) AS intercept,
       round((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 6) AS r,
       round(pow((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 2), 6)
         AS r2
FROM s ORDER BY event_type
"""


@query(_SQL_VALUE_TREND)
def q_value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14's per-group generalization: closed-form linear trend of
    value over time (days since 2024-01-01) computed independently for
    every event type in ONE grouped aggregation — no per-group fitting
    loop, the moment sums (n, Σx, Σy, Σx², Σy², Σxy) decompose per
    group and the slope/intercept/r algebra runs on the 5-row result.
    Centering x near 0 (days since corpus start, not epoch) keeps the
    normal-equation arithmetic well-conditioned."""
    ev = _t(spark, sf_dir, "events")
    # 1704067200000000 µs = 2024-01-01; one bigint literal — an int32
    # literal times 1e6 overflows SILENTLY under ANSI-off
    xd = (
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.lit(1704067200000000).cast("bigint")
        )
        / F.lit(86400.0 * 1e6)
    ).alias("xd")
    base = ev.select("event_type", xd, "value")
    out = base.groupBy("event_type").agg(*st.linregress_aggs("xd", "value"))
    return out.select(
        "event_type",
        *[F.round(F.col(c), 6).alias(c) for c in ("slope", "intercept", "r", "r2")],
    ).orderBy("event_type")


_SQL_ROLLING_ACTIVE = """
WITH ud AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS dau FROM ud GROUP BY day),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
covered AS (
  SELECT user_id, day + (k.k * INTERVAL 1 DAY) AS report_day
  FROM ud, (VALUES (0),(1),(2),(3),(4),(5),(6)) k(k)
),
wau AS (
  SELECT report_day, count(DISTINCT user_id)::BIGINT AS wau
  FROM covered GROUP BY report_day
)
SELECT dau.day, dau.dau, wau.wau
FROM dau
JOIN wau ON wau.report_day = dau.day
CROSS JOIN span
WHERE dau.day >= span.d0 + INTERVAL 6 DAY AND dau.day <= span.d1
ORDER BY dau.day
"""


@query(_SQL_ROLLING_ACTIVE)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DAU/WAU: distinct users per day, and distinct users over
    the trailing 7 days — the metric a naive window SUM gets wrong
    (distinct counts don't add across days). Exact formulation: reduce
    to distinct (user, day) pairs once, then EXPLODE each pair to the
    7 report-days it covers and count distinct per report day — the
    covering-window expansion (same algebra as the sliding stream
    windows), shuffling |users|×|days|×7 small rows, never re-scanning
    facts per window. Report days clamp to the observed range so every
    WAU has a full 7-day history."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("DAY", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    span = ud.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    covered = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("report_day"),
    )
    wau = covered.groupBy("report_day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, dau.day == wau.report_day)
        .join(F.broadcast(span))
        .filter(
            (F.col("day") >= F.col("d0") + F.expr("INTERVAL 6 DAYS"))
            & (F.col("day") <= F.col("d1"))
        )
        .select("day", "dau", "wau")
        .orderBy("day")
    )


_SQL_CLUSTERING_COEF = f"""
WITH {_SQL_MOD_GRAPH},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e
),
deg AS (
  SELECT id, count(*)::BIGINT AS deg FROM (
    SELECT u AS id FROM und UNION ALL SELECT v FROM und
  ) GROUP BY id
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
tc AS (SELECT id, count(*)::BIGINT AS tri_count FROM corners GROUP BY id)
SELECT deg.id, deg.deg, coalesce(tc.tri_count, 0) AS tri_count,
       CASE WHEN deg.deg >= 2
            THEN round(2.0 * coalesce(tc.tri_count, 0)
                       / (deg.deg * (deg.deg - 1)), 6)
            ELSE 0.0 END AS coef
FROM deg LEFT JOIN tc ON deg.id = tc.id
ORDER BY deg.id
"""


@query(_SQL_CLUSTERING_COEF)
def q_clustering_coefficient_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient c(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    over the modular graph — composes the triangle-count operator with
    the distinct-neighbor degree (both already oracle-proven pieces;
    this query proves the composition). Nodes with deg < 2 report 0.
    Top-level shape: two integer-keyed aggs + one join, all on node id."""
    edges = _mod_graph_edges(spark)
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = ga.triangle_counts(edges)
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce("tri_count", F.lit(0)).alias("tri_count"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0
                    * F.coalesce("tri_count", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(0.0)
            .alias("coef"),
        )
        .orderBy("id")
    )


_KCORE_K = 4
_KCORE_ROUNDS = 5


def _sql_kcore() -> str:
    parts = [
        "adj0 AS (SELECT u AS a, v AS b FROM und"
        " UNION ALL SELECT v AS a, u AS b FROM und)"
    ]
    for r in range(_KCORE_ROUNDS):
        parts.append(
            f"deg{r} AS (SELECT a, count(*) AS d FROM adj{r} GROUP BY a)"
        )
        parts.append(f"keep{r} AS (SELECT a FROM deg{r} WHERE d >= {_KCORE_K})")
        parts.append(
            f"adj{r + 1} AS (SELECT adj{r}.a, adj{r}.b FROM adj{r} "
            f"JOIN keep{r} ka ON adj{r}.a = ka.a "
            f"JOIN keep{r} kb ON adj{r}.b = kb.a)"
        )
    chain = ",\n".join(parts)
    return f"""
WITH {_SQL_MOD_GRAPH},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e
),
{chain}
SELECT a AS id, count(*)::BIGINT AS core_degree
FROM adj{_KCORE_ROUNDS} GROUP BY a ORDER BY id
"""


@query(_sql_kcore())
def q_kcore_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the modular graph by fixed-round iterative peeling
    (`graph/algorithms.kcore`, 5 rounds ≥ the measured peel depth of 4,
    so the output IS the exact 4-core). The oracle unrolls every peel
    round as chained CTEs — degree, keep-set, edge filter — the same
    fixed-iteration replay contract as PageRank/Lloyd's."""
    return ga.kcore(
        _mod_graph_edges(spark), k=_KCORE_K, rounds=_KCORE_ROUNDS
    ).orderBy("id")


_SQL_WEIGHTED_SAMPLE = """
WITH keyed AS (
  SELECT doc_id, source,
         ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT)::DOUBLE
            / 4503599627370496.0)
         / sqrt(n_chars::DOUBLE) AS key
  FROM documents
),
sample AS (SELECT * FROM keyed ORDER BY key DESC, doc_id LIMIT 100)
SELECT source, count(*)::BIGINT AS n_sampled
FROM sample GROUP BY source ORDER BY source
"""


@query(_SQL_WEIGHTED_SAMPLE)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-Res): each doc draws key = ln(u)/w with u uniform in (0,1) and
    w its weight (longer docs weighted up, sqrt-damped); the global
    top-K keys ARE the weighted sample. u comes from the md5-prefix
    hash (deterministic, engine-neutral) instead of an RNG, so the
    "random" sample is reproducible across engines, partitionings and
    reruns — the property RNG-based sampleBy loses. Top-K by key is a
    TakeOrdered (per-partition heap + merge), never a full sort.
    Returns the sample's per-source composition, which shows the
    weighting at work (long-doc sources overrepresented vs uniform)."""
    docs = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(1 << 52))
    )
    w = F.sqrt(F.col("n_chars").cast("double"))
    keyed = docs.select(
        "doc_id", "source", (F.log(u) / w).alias("key")
    )
    k = 100
    sample = keyed.orderBy(F.desc("key"), "doc_id").limit(k)
    return (
        sample.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("source")
    )


_SQL_QUANTILE_NORM = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
normed AS (
  SELECT event_type, value, (rn - 0.5) / n AS u FROM ranked
)
SELECT event_type, floor(u * 10)::INT AS bucket, count(*)::BIGINT AS n,
       round(min(value), 2) AS lo, round(max(value), 2) AS hi
FROM normed GROUP BY 1, 2 ORDER BY event_type, bucket
"""


@query(_SQL_QUANTILE_NORM)
def q_quantile_normalize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank-to-uniform) normalization — the monotone feature
    transform that strips a column's distribution shape: per group,
    u = (rank − 0.5)/n over a total order. The output buckets the
    normalized values into deciles and reports per-bucket spans, whose
    equal counts prove uniformity while the (lo, hi) value spans show
    the original distribution's shape being absorbed. The rank window
    partitions by event_type (never global); at a single skewed key,
    swap in the two_phase rank."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select("event_type", "value", "event_id").select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    normed = ranked.select(
        "event_type",
        "value",
        ((F.col("rn") - 0.5) / F.col("n")).alias("u"),
    )
    return (
        normed.groupBy(
            "event_type", F.floor(F.col("u") * 10).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


_SQL_DISTANCE_BAND = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
a AS (SELECT event_id AS a_id, lon AS a_lon, lat AS a_lat FROM p
      WHERE event_type = 'purchase'),
b AS (SELECT event_id AS b_id, lon AS b_lon, lat AS b_lat FROM p
      WHERE event_type = 'signup'),
pairs AS (
  SELECT a_id,
         2 * 6371.0 * asin(sqrt(
           pow(sin((radians(b_lat) - radians(a_lat)) / 2), 2)
           + cos(radians(a_lat)) * cos(radians(b_lat))
             * pow(sin((radians(b_lon) - radians(a_lon)) / 2), 2)
         )) AS dist_km
  FROM a CROSS JOIN b
)
SELECT count(*)::BIGINT AS n_pairs,
       round(avg(dist_km), 4) AS avg_km,
       count(DISTINCT a_id)::BIGINT AS n_a_matched
FROM pairs WHERE dist_km <= 2.0
"""


@query(_SQL_DISTANCE_BAND)
def q_distance_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band (DWithin) spatial join: purchase–signup event
    pairs within 2 km, via the grid strategy — the probe side explodes
    to its 3×3 neighbor cells (cell edge 0.03° > the 2 km radius in
    both axes at this latitude, so the cover is complete), equi-join
    on cell, exact haversine refine. The oracle is the brute-force
    cross join with the same predicate — equality proves the grid
    cover drops nothing. Scale: the shuffle key is the integer cell;
    pair fan-out is bounded by points-per-disc, never |A|×|B|."""
    ev = _t(spark, sf_dir, "events")
    pts = _derived_points(ev).select("event_id", "event_type", "lon", "lat")
    cell = 0.03
    a = pts.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("a_id"), F.col("lon").alias("a_lon"),
        F.col("lat").alias("a_lat"),
    )
    b = pts.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("b_id"), F.col("lon").alias("b_lon"),
        F.col("lat").alias("b_lat"),
    )
    bgx, bgy = geo.grid_cell("b_lat", "b_lon", 40.5, -74.3, cell)
    b_cells = b.withColumn("gx", bgx).withColumn("gy", bgy)
    agx, agy = geo.grid_cell("a_lat", "a_lon", 40.5, -74.3, cell)
    a_cells = (
        a.withColumn("gx0", agx)
        .withColumn("gy0", agy)
        .select(
            "*",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
        )
        .select(
            "*",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
        )
        .select(
            "a_id", "a_lon", "a_lat",
            (F.col("gx0") + F.col("dx")).alias("gx"),
            (F.col("gy0") + F.col("dy")).alias("gy"),
        )
    )
    d = geo.haversine_km("a_lat", "a_lon", "b_lat", "b_lon")
    pairs = (
        a_cells.join(b_cells, ["gx", "gy"])
        .withColumn("dist_km", d)
        .filter(F.col("dist_km") <= 2.0)
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("dist_km"), 4).alias("avg_km"),
        F.countDistinct("a_id").alias("n_a_matched"),
    )


_SQL_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT o_orderkey,
         hash(o_orderstatus, round(o_totalprice, 2)::VARCHAR) AS h,
         o_orderdate
  FROM orders
),
v1 AS (
  SELECT o_orderkey, h AS h1 FROM base
  WHERE o_orderdate < TIMESTAMP '1998-01-01'
),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN h + 1 ELSE h END AS h2
  FROM base
  WHERE o_orderdate < TIMESTAMP '1998-07-01' AND o_orderkey % 101 <> 0
),
j AS (SELECT * FROM v1 FULL OUTER JOIN v2 USING (o_orderkey))
SELECT CASE WHEN h1 IS NULL THEN 'added'
            WHEN h2 IS NULL THEN 'removed'
            WHEN h1 = h2 THEN 'unchanged'
            ELSE 'changed' END AS change_type,
       count(*)::BIGINT AS n
FROM j GROUP BY 1 ORDER BY change_type
"""


@query(_SQL_SNAPSHOT_DIFF)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (data-diff): classify every key across
    two table versions as added / removed / changed / unchanged via one
    full outer join on the key with an xxhash64 payload fingerprint —
    the audit primitive behind CDC validation and backfill
    verification. Version 2 is derived deterministically from version 1
    (new 1998-H1 orders appear, every 101st key is dropped, every 97th
    gets a repriced payload), so both engines diff identical inputs.
    At 100 TB the payload hash means the join carries (key, 8 bytes)
    per side, not whole rows."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.xxhash64(
            F.col("o_orderstatus"), F.round("o_totalprice", 2).cast("string")
        ).alias("h"),
        "o_orderdate",
    )
    v1 = base.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", F.col("h").alias("h1"))
    v2_base = base.filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    ).filter(F.col("o_orderkey") % 101 != 0)
    repriced = F.when(
        F.col("o_orderkey") % 97 == 0, F.col("h") + F.lit(1)
    ).otherwise(F.col("h"))
    v2 = v2_base.select("o_orderkey", repriced.alias("h2"))
    joined = v1.join(v2, "o_orderkey", "full_outer")
    cls = (
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") == F.col("h2"), "unchanged")
        .otherwise("changed")
    )
    return (
        joined.select(cls.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_type")
    )


_SQL_ATTRIBUTION = """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS pus FROM events
  WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS cus FROM events WHERE event_type = 'click'
),
att AS (
  SELECT p.event_id, p.pus,
         (SELECT max(cus) FROM c
          WHERE c.user_id = p.user_id AND c.cus <= p.pus) AS last_cus,
         (SELECT min(cus) FROM c
          WHERE c.user_id = p.user_id
            AND c.cus >= p.pus - 86400000000) AS first_cus
  FROM p
)
SELECT count(*)::BIGINT AS n_purchases,
       sum(CASE WHEN last_cus IS NOT NULL AND pus - last_cus <= 86400000000
                THEN 1 ELSE 0 END)::BIGINT AS n_last_touch,
       sum(CASE WHEN first_cus IS NOT NULL AND first_cus <= pus
                THEN 1 ELSE 0 END)::BIGINT AS n_first_touch,
       round(avg(CASE WHEN last_cus IS NOT NULL AND pus - last_cus <= 86400000000
                      THEN (pus - last_cus) / 6e7 END), 4) AS avg_mins_last,
       round(avg(CASE WHEN first_cus IS NOT NULL AND first_cus <= pus
                      THEN (pus - first_cus) / 6e7 END), 4) AS avg_mins_first
FROM att
"""


@query(_SQL_ATTRIBUTION)
def q_attribution_touchpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over event streams: for every purchase,
    the LAST click at-or-before it (last-touch) and the FIRST click in
    the trailing 24 h window (first-touch). Both are as-of joins —
    last-touch directly (`operators/asof`), first-touch as a backward
    as-of over NEGATED timestamps (greatest −cts ≤ −t₀ ⇔ smallest
    cts ≥ t₀), so neither model pays a per-pair range join; each is
    one union-tag shuffle on user_id. The oracle states both as
    correlated min/max subqueries — the declarative spec the operator
    decorrelates."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    day_us = 24 * 3600 * 1000000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", us.alias("pus")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("cus")
    )
    last_t = asof.asof_join_backward(
        purchases, clicks, key="user_id", left_ts="pus", right_ts="cus",
        payload_cols=[], prefix="last_",
    )
    p_neg = purchases.withColumn("nt0", -(F.col("pus") - F.lit(day_us)))
    c_neg = clicks.select("user_id", (-F.col("cus")).alias("ncus"))
    first_t = asof.asof_join_backward(
        p_neg, c_neg, key="user_id", left_ts="nt0", right_ts="ncus",
        payload_cols=[], prefix="first_",
    ).select("event_id", (-F.col("first_ncus")).alias("first_cus"))
    both = last_t.join(first_t, "event_id")
    last_ok = F.col("last_cus").isNotNull() & (
        F.col("pus") - F.col("last_cus") <= day_us
    )
    first_ok = F.col("first_cus").isNotNull() & (
        F.col("first_cus") <= F.col("pus")
    )
    mins_last = (F.col("pus") - F.col("last_cus")) / F.lit(6e7)
    mins_first = (F.col("pus") - F.col("first_cus")) / F.lit(6e7)
    return both.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.when(last_ok, 1).otherwise(0)).alias("n_last_touch"),
        F.sum(F.when(first_ok, 1).otherwise(0)).alias("n_first_touch"),
        F.round(F.avg(F.when(last_ok, mins_last)), 4).alias("avg_mins_last"),
        F.round(F.avg(F.when(first_ok, mins_first)), 4).alias("avg_mins_first"),
    )


_SQL_USER_TYPE_MAP = """
WITH per AS (
  SELECT user_id, event_type, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       count(*)::INT AS n_types,
       coalesce(max(CASE WHEN event_type = 'purchase' THEN n END), 0)
         AS n_purchases,
       string_agg(event_type || ':' || n, ',' ORDER BY event_type)
         AS counts_str
FROM per
WHERE user_id % 7 = 0
GROUP BY user_id
ORDER BY user_id
"""


@query(_SQL_USER_TYPE_MAP)
def q_user_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type surface (completing the complex-type family: arrays ✓,
    structs ✓, map here): per-user event_type→count built as a real
    MapType column (map_from_entries over the grouped counts), then
    consumed with map functions — map_keys for breadth, element_at for
    a point lookup. Maps compare engine-neutrally via a sorted
    key:value string encoding. One shuffle on (user, type), one on
    user; the map stays columnar the whole way."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = (
        per.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("event_type", "n")))
            ).alias("type_counts")
        )
    )
    enc = F.concat_ws(
        ",",
        F.transform(
            F.map_keys(F.col("type_counts")),
            lambda k: F.concat(
                k, F.lit(":"),
                F.element_at(F.col("type_counts"), k).cast("string"),
            ),
        ),
    )
    return (
        mapped.filter(F.col("user_id") % 7 == 0)
        .select(
            "user_id",
            F.size("type_counts").alias("n_types"),
            F.coalesce(
                F.element_at(F.col("type_counts"), F.lit("purchase")), F.lit(0)
            ).alias("n_purchases"),
            enc.alias("counts_str"),
        )
        .orderBy("user_id")
    )


_SQL_CAPPED_SESSIONS = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT user_id, us, event_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS gsid
  FROM e
),
sub AS (
  SELECT user_id, gsid, us,
         floor((us - min(us) OVER (PARTITION BY user_id, gsid))
               / 7200000000) AS sub
  FROM g
),
per AS (
  SELECT user_id, gsid, sub, count(*)::BIGINT AS n_events,
         (max(us) - min(us)) / 6e7 AS dur_min
  FROM sub GROUP BY 1, 2, 3
)
SELECT user_id, count(*)::BIGINT AS n_sessions,
       sum(CASE WHEN sub > 0 THEN 1 ELSE 0 END)::BIGINT AS n_cap_splits,
       round(max(dur_min), 4) AS max_dur_min,
       sum(n_events)::BIGINT AS n_events
FROM per GROUP BY user_id ORDER BY user_id
"""


@query(_SQL_CAPPED_SESSIONS)
def q_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH rules real trackers use: a 30-min
    inactivity gap starts a session AND a 2-hour hard cap splits long
    ones. The cap can't ride the gap-cumsum alone (a capped split
    depends on the session's own start); two deterministic window
    passes decompose it — gap-sessions first, then each splits at
    floor(elapsed-from-session-start / cap). Sub-session boundaries
    are pure arithmetic, so the whole thing stays in two user-keyed
    window stages — no iteration, no UDF."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = us - F.lag(us).over(w)
    new_s = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1000000), 1).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = ev.select("user_id", "ts", "event_id", us.alias("us")).withColumn(
        "gsid", F.sum(new_s).over(wrun)
    )
    ws = Window.partitionBy("user_id", "gsid")
    cap_us = 2 * 3600 * 1000000
    sub = g.withColumn(
        "sub", F.floor((F.col("us") - F.min("us").over(ws)) / cap_us)
    )
    per = sub.groupBy("user_id", "gsid", "sub").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.max("us") - F.min("us")) / F.lit(6e7)).alias("dur_min"),
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("sub") > 0, 1).otherwise(0)).alias("n_cap_splits"),
        F.round(F.max("dur_min"), 4).alias("max_dur_min"),
        F.sum("n_events").alias("n_events"),
    ).orderBy("user_id")


_SQL_DEBOUNCE = """
WITH d AS (
  SELECT event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) > 60000000
              THEN 1 ELSE 0 END AS kept
  FROM events
)
SELECT event_type, count(*)::BIGINT AS n_raw, sum(kept)::BIGINT AS n_kept,
       round(1.0 - sum(kept) / count(*), 6) AS suppressed_frac
FROM d GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_DEBOUNCE)
def q_debounced_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce (near-duplicate-in-time suppression): drop an event if
    the same (user, type) fired within the previous 60 s — the
    sensor/click-spam cleanse distinct from F2's exact dedup (keys
    differ, payloads differ, only the cadence repeats). One lag window
    per (user, type); survivors re-aggregate per type with the
    suppression rate."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    d = ev.select("user_id", "event_type", "ts", "event_id").withColumn(
        "gap_us", us - F.lag(us).over(w)
    )
    flagged = d.withColumn(
        "kept",
        F.when(
            F.col("gap_us").isNull() | (F.col("gap_us") > 60 * 1000000), 1
        ).otherwise(0),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum("kept").alias("n_kept"),
            F.round(
                1.0 - F.sum("kept") / F.count(F.lit(1)), 6
            ).alias("suppressed_frac"),
        )
        .orderBy("event_type")
    )


_SQL_ROLLING_CORR = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         sum(round(o_totalprice * 100)::BIGINT) AS x,
         count(*)::BIGINT AS y
  FROM orders GROUP BY 1
),
g AS (
  -- exact FLOOR division for any sign (Spark side is Python's `//`):
  -- DuckDB's // truncates toward zero, so subtract the non-negative
  -- residue first — the numerator is then exactly divisible and
  -- truncation == floor. Today's x/y (revenue cents, row counts) are
  -- positive, but the mean must stay engine-identical for any sign.
  SELECT (sum(x) - ((sum(x) % count(*)) + count(*)) % count(*)) // count(*) AS x0,
         (sum(y) - ((sum(y) % count(*)) + count(*)) % count(*)) // count(*) AS y0
  FROM daily
),
c AS (
  SELECT day, (x - (SELECT x0 FROM g))::BIGINT AS cx,
         (y - (SELECT y0 FROM g))::BIGINT AS cy
  FROM daily
),
c2 AS (
  SELECT day, cx, cy,
         CAST(floor(cx / 8192.0) AS BIGINT) AS q
  FROM c
),
c3 AS (
  SELECT day, cx, cy, q, (cx - 8192 * q)::BIGINT AS r FROM c2
),
m AS (
  SELECT day,
         count(*) OVER w AS n,
         sum(cx) OVER w AS sx, sum(cy) OVER w AS sy,
         sum(q * q) OVER w AS s1, sum(q * r) OVER w AS s2,
         sum(r * r) OVER w AS s3,
         sum(cy * cy) OVER w AS syy,
         sum(q * cy) OVER w AS t1, sum(r * cy) OVER w AS t2
  FROM c3
  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
a AS (
  SELECT day, n::DOUBLE AS nd, sx::DOUBLE AS sx, sy::DOUBLE AS sy,
         67108864.0 * s1::DOUBLE + 16384.0 * s2::DOUBLE + s3::DOUBLE AS sxx,
         syy::DOUBLE AS syy,
         8192.0 * t1::DOUBLE + t2::DOUBLE AS sxy
  FROM m WHERE n = 14
)
SELECT day,
       round((sxy - sx * sy / nd)
             / sqrt((sxx - sx * sx / nd) * (syy - sy * sy / nd)), 6)
         AS corr14
FROM a ORDER BY day
"""


@query(_SQL_ROLLING_CORR)
def q_rolling_correlation_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 14-day rolling Pearson correlation between daily
    revenue and daily order count — the co-movement monitor. All five
    moment sums run as windowed aggregates over the SAME frame on the
    daily pre-aggregate (one window spec, one pass), and the
    correlation assembles from them arithmetically — no per-window
    re-aggregation. Time-span-bounded global window (allowlisted
    class); per-key variants partition the same spec."""
    orders = _t(spark, sf_dir, "orders")
    # exact integer cents (see incremental_hourly_merge): windowed sums
    # then reassociate identically on every engine, so the 6dp-rounded
    # correlation can't straddle a rounding boundary
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy(
        F.date_trunc("DAY", F.col("o_orderdate")).alias("day")
    ).agg(
        F.sum(cents).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    # x ≈ 1e10 cents/day at sf1 → x² ≈ 1e20 OVERFLOWS bigint (silent
    # wrap under ANSI-off → sqrt(negative) → NaN; DuckDB promotes sum
    # to int128 — the sf1 sweep caught exactly this). Pearson r is
    # shift-invariant, so TWO-PHASE CENTER both series on the exact
    # integer global mean (bigint div — identical on both engines).
    # Centered deviations are still up to 2.8e9 cents at sf1 (the
    # fixture has real trend — dev² · 14 ≈ 1.1e20 still overflows), so
    # the squared moments run on the EXACT split cx = 8192·q + r
    # (floor division — both engines via floor(cx/8192.0), because
    # DuckDB's // truncates): cx² = 8192²·q² + 2·8192·q·r + r², each
    # windowed sum in bigint with q²·14 < 2^63 headroom to ~sf800.
    # Reassembly happens in double — both engines evaluate the same
    # scalar expression on identical integers, so the 6dp round can't
    # diverge. (The r6 decimal(38,0) windows were exact too but 4.9x
    # slower — decimal window aggregation is the slow path.)
    tot = daily.agg(
        F.sum("x").alias("tx"), F.sum("y").alias("ty"), F.count(F.lit(1)).alias("nd")
    ).collect()[0]
    x0 = int(tot["tx"]) // int(tot["nd"])
    y0 = int(tot["ty"]) // int(tot["nd"])
    s = 8192
    cent = daily.select(
        "day",
        (F.col("x") - F.lit(x0)).alias("cx"),
        (F.col("y") - F.lit(y0)).alias("cy"),
    ).select(
        "day",
        "cx",
        "cy",
        F.floor(F.col("cx") / F.lit(float(s))).cast("bigint").alias("q"),
    ).select(
        "day", "cx", "cy", "q", (F.col("cx") - F.lit(s) * F.col("q")).alias("r")
    )
    m = cent.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cx").over(w).alias("sx"),
        F.sum("cy").over(w).alias("sy"),
        F.sum(F.col("q") * F.col("q")).over(w).alias("s1"),
        F.sum(F.col("q") * F.col("r")).over(w).alias("s2"),
        F.sum(F.col("r") * F.col("r")).over(w).alias("s3"),
        F.sum(F.col("cy") * F.col("cy")).over(w).alias("syy"),
        F.sum(F.col("q") * F.col("cy")).over(w).alias("t1"),
        F.sum(F.col("r") * F.col("cy")).over(w).alias("t2"),
    ).filter(F.col("n") == 14)
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sd = float(s)
    sxx = (
        F.lit(sd * sd) * F.col("s1").cast("double")
        + F.lit(2.0 * sd) * F.col("s2").cast("double")
        + F.col("s3").cast("double")
    )
    syy = F.col("syy").cast("double")
    sxy = F.lit(sd) * F.col("t1").cast("double") + F.col("t2").cast("double")
    corr = (sxy - sx * sy / nd) / F.sqrt(
        (sxx - sx * sx / nd) * (syy - sy * sy / nd)
    )
    out = m.select("day", F.round(corr, 6).alias("corr14"))
    return out.orderBy("day")


_SQL_BEARING_SECTORS = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
b AS (
  SELECT
    (degrees(atan2(
       sin(radians(lon) - radians(-73.9855)) * cos(radians(lat)),
       cos(radians(40.7580)) * sin(radians(lat))
       - sin(radians(40.7580)) * cos(radians(lat))
         * cos(radians(lon) - radians(-73.9855))
     )) + 360.0) % 360.0 AS bearing,
    2 * 6371.0 * asin(sqrt(
      pow(sin((radians(lat) - radians(40.7580)) / 2), 2)
      + cos(radians(40.7580)) * cos(radians(lat))
        * pow(sin((radians(lon) - radians(-73.9855)) / 2), 2)
    )) AS dist_km
  FROM p
)
SELECT floor(((bearing + 22.5) % 360) / 45)::INT AS sector,
       count(*)::BIGINT AS n, round(avg(dist_km), 4) AS avg_km
FROM b GROUP BY 1 ORDER BY sector
"""


@query(_SQL_BEARING_SECTORS)
def q_bearing_sector_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compass-sector spatial profile: every event's bearing from the
    Times Square reference point (functions/geo.bearing_deg — initial
    great-circle bearing via atan2) bucketed into eight 45° sectors,
    with per-sector counts and mean haversine distance. Pure per-row
    trig in codegen + one small agg; the oracle replays the exact
    atan2/pmod formula."""
    ev = _t(spark, sf_dir, "events")

    pts = _derived_points(ev)
    ref_lat, ref_lon = 40.7580, -73.9855
    b = geo.bearing_deg(F.lit(ref_lat), F.lit(ref_lon), F.col("lat"), F.col("lon"))
    d = geo.haversine_km(F.lit(ref_lat), F.lit(ref_lon), F.col("lat"), F.col("lon"))
    sector = F.floor(((F.col("bearing") + 22.5) % 360) / 45).cast("int")
    return (
        pts.withColumn("bearing", b)
        .withColumn("dist_km", d)
        .withColumn("sector", sector)
        .groupBy("sector")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("dist_km"), 4).alias("avg_km"),
        )
        .orderBy("sector")
    )


_SQL_FULFILLMENT_LAG = """
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship FROM lineitem GROUP BY 1
),
lagged AS (
  SELECT o_orderpriority,
         epoch_us(last_ship - o_orderdate) / (86400.0 * 1e6) AS lag_days
  FROM orders JOIN last_ship ON o_orderkey = l_orderkey
)
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       round(quantile_cont(lag_days, 0.5), 6) AS p50_days,
       round(quantile_cont(lag_days, 0.9), 6) AS p90_days,
       round(max(lag_days), 6) AS max_days
FROM lagged GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query(_SQL_FULFILLMENT_LAG)
def q_order_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle-lag analysis: days from order placement to its LAST
    line shipment, with exact p50/p90 per order priority — the SLA
    percentile report. Two aggs chained on different keys (orderkey
    rollup, then priority percentiles); the lag is integral days so
    the percentile interpolation is over exact values."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    lag_days = (
        (
            F.unix_micros(F.col("last_ship").cast("timestamp"))
            - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        )
        / F.lit(86400.0 * 1e6)
    ).alias("lag_days")
    lagged = orders.join(
        last_ship, F.col("o_orderkey") == F.col("l_orderkey")
    ).select("o_orderpriority", lag_days)
    return (
        lagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.percentile("lag_days", F.lit(0.5)), 6).alias("p50_days"),
            F.round(F.percentile("lag_days", F.lit(0.9)), 6).alias("p90_days"),
            F.round(F.max("lag_days"), 6).alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


_SQL_RFM = """
WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
rfm AS (
  SELECT o_custkey,
         min(epoch_us(mx.mx - o_orderdate)) / (86400.0 * 1e6) AS recency_days,
         count(*)::BIGINT AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders CROSS JOIN mx
  GROUP BY o_custkey
),
th AS (
  SELECT quantile_cont(recency_days, 0.25) AS recency_days_25,
         quantile_cont(recency_days, 0.5) AS recency_days_50,
         quantile_cont(recency_days, 0.75) AS recency_days_75,
         quantile_cont(frequency, 0.25) AS frequency_25,
         quantile_cont(frequency, 0.5) AS frequency_50,
         quantile_cont(frequency, 0.75) AS frequency_75,
         quantile_cont(monetary, 0.25) AS monetary_25,
         quantile_cont(monetary, 0.5) AS monetary_50,
         quantile_cont(monetary, 0.75) AS monetary_75
  FROM rfm
),
scored AS (
  SELECT
    5 - (1 + (recency_days > recency_days_25)::INT
           + (recency_days > recency_days_50)::INT
           + (recency_days > recency_days_75)::INT) AS r,
    1 + (frequency > frequency_25)::INT + (frequency > frequency_50)::INT
      + (frequency > frequency_75)::INT AS f,
    1 + (monetary > monetary_25)::INT + (monetary > monetary_50)::INT
      + (monetary > monetary_75)::INT AS m
  FROM rfm CROSS JOIN th
)
SELECT r, f, m, count(*)::BIGINT AS n_customers
FROM scored GROUP BY 1, 2, 3 ORDER BY r, f, m
"""


@query(_SQL_RFM)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation at scale: recency (days before the
    corpus max date), frequency (orders), monetary (total spend) per
    customer, each scored 1–4 against its global QUARTILE THRESHOLDS —
    a 1-row broadcast compare, NOT a global ntile (the rank window
    would single-partition |customers| rows; thresholds keep scoring
    embarrassingly parallel, trading exact equal-size bins for fixed
    cut points, the right trade at 100 TB). Output: per-segment census
    for the 'RFM cell' report."""
    orders = _t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        orders.join(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            (
                F.min(
                    F.unix_micros(F.col("mx").cast("timestamp"))
                    - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                )
                / F.lit(86400.0 * 1e6)
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    th = rfm.agg(
        *[
            F.percentile(c, F.lit(q)).alias(f"{c}_{int(q * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def score(c, reverse):
        s = (
            F.lit(1)
            + (F.col(c) > F.col(f"{c}_25")).cast("int")
            + (F.col(c) > F.col(f"{c}_50")).cast("int")
            + (F.col(c) > F.col(f"{c}_75")).cast("int")
        )
        return (F.lit(5) - s) if reverse else s

    scored = rfm.join(F.broadcast(th)).select(
        score("recency_days", reverse=True).alias("r"),
        score("frequency", reverse=False).alias("f"),
        score("monetary", reverse=False).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r", "f", "m")
    )


_SQL_MEAN_SHIFT = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         sum(round(o_totalprice * 100)::BIGINT) AS x
  FROM orders GROUP BY 1
),
tot AS (SELECT sum(x) AS sx_all, count(*)::BIGINT AS n_all FROM daily),
pre AS (
  SELECT day,
         sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sx_pre,
         count(*) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS n_pre
  FROM daily
)
SELECT day,
       round(sx_pre::DOUBLE / n_pre / 100.0, 4) AS mean_before,
       round((sx_all - sx_pre)::DOUBLE / (n_all - n_pre) / 100.0, 4)
         AS mean_after,
       round(abs((sx_all - sx_pre)::DOUBLE / (n_all - n_pre) / 100.0
                 - sx_pre::DOUBLE / n_pre / 100.0)
             * sqrt(n_pre * (n_all - n_pre) / n_all::DOUBLE), 4)
         AS shift_score
FROM pre CROSS JOIN tot
WHERE n_pre >= 14 AND n_all - n_pre >= 14
ORDER BY shift_score DESC, day
LIMIT 5
"""


@query(_SQL_MEAN_SHIFT)
def q_mean_shift_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection by exhaustive mean-shift scan: for every
    candidate split day t, the standardized gap between the mean daily
    revenue before and after t — all O(n) from ONE pass of prefix sums
    over the daily pre-aggregate (CUSUM's recursive state would need a
    sequential scan; the split-scan form is windowed prefix algebra).
    Returns the 5 most shifted split points. Integer-cents sums keep
    the prefix algebra association-exact (the incremental-merge
    lesson)."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy(
        F.date_trunc("DAY", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(cents).alias("x"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = daily.agg(
        F.sum("x").alias("sx_all"), F.count(F.lit(1)).alias("n_all")
    )
    pre = daily.select(
        "day",
        F.sum("x").over(w).alias("sx_pre"),
        F.count(F.lit(1)).over(w).alias("n_pre"),
    )
    j = pre.join(F.broadcast(tot)).filter(
        (F.col("n_pre") >= 14) & (F.col("n_all") - F.col("n_pre") >= 14)
    )
    mean_pre = F.col("sx_pre").cast("double") / F.col("n_pre") / 100.0
    mean_post = (
        (F.col("sx_all") - F.col("sx_pre")).cast("double")
        / (F.col("n_all") - F.col("n_pre"))
        / 100.0
    )
    # weight the gap by the harmonic sample balance (pooled-t shape)
    wgt = F.sqrt(
        F.col("n_pre")
        * (F.col("n_all") - F.col("n_pre"))
        / F.col("n_all").cast("double")
    )
    return (
        j.select(
            "day",
            F.round(mean_pre, 4).alias("mean_before"),
            F.round(mean_post, 4).alias("mean_after"),
            F.round(F.abs(mean_post - mean_pre) * wgt, 4).alias("shift_score"),
        )
        .orderBy(F.desc("shift_score"), "day")
        .limit(5)
    )


_SQL_BENFORD = """
WITH obs AS (
  SELECT floor(o_totalprice / pow(10.0, floor(log10(o_totalprice))))::INT AS d,
         count(*)::BIGINT AS n
  FROM orders WHERE o_totalprice > 0 GROUP BY 1
),
tot AS (SELECT sum(n) AS n_tot FROM obs)
SELECT d, n,
       round(n / n_tot::DOUBLE, 6) AS obs_share,
       round(log10(1.0 + 1.0 / d), 6) AS benford_share,
       round(pow(n - log10(1.0 + 1.0 / d) * n_tot, 2)
             / (log10(1.0 + 1.0 / d) * n_tot), 4) AS chi2_term
FROM obs CROSS JOIN tot
ORDER BY d
"""


@query(_SQL_BENFORD)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit on order totals: observed first-significant-
    digit shares vs log10(1 + 1/d), with the χ² contribution per digit
    — the classic fabricated-data screen, and a pure scan→agg plan
    (first digit extracted arithmetically: d = floor(x / 10^floor(log10 x)),
    no string casts in the hot path)."""
    orders = _t(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    obs = (
        orders.filter(x > 0)
        .select(digit.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("n_tot"))
    expected = F.log10(F.lit(1.0) + 1.0 / F.col("d"))
    return (
        obs.join(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.round(F.col("n") / F.col("n_tot"), 6).alias("obs_share"),
            F.round(expected, 6).alias("benford_share"),
            F.round(
                F.pow(F.col("n") - expected * F.col("n_tot"), 2)
                / (expected * F.col("n_tot")),
                4,
            ).alias("chi2_term"),
        )
        .orderBy("d")
    )


_SQL_MAX_OPEN = """
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS close_ts FROM lineitem GROUP BY 1
),
o AS (
  SELECT o_orderdate, close_ts FROM orders
  JOIN last_ship ON o_orderkey = l_orderkey
),
deltas AS (
  SELECT day, sum(delta) AS net FROM (
    SELECT date_trunc('day', o_orderdate) AS day, 1 AS delta FROM o
    UNION ALL
    SELECT date_trunc('day', close_ts) + INTERVAL 1 DAY, -1 FROM o
  ) GROUP BY day
),
running AS (
  SELECT day,
         sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS open_orders
  FROM deltas
)
SELECT date_trunc('month', day) AS month, max(open_orders)::BIGINT AS max_open
FROM running GROUP BY 1 ORDER BY month
"""


@query(_SQL_MAX_OPEN)
def q_max_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency sweep line: how many orders are 'open'
    (placed, not yet fully shipped) at once — +1 at placement, −1
    after the last line ships, running-sum the deltas. The sweep
    collapses to DAY granularity first (bounded calendar), so the
    running sum is a window over ~2.5 k rows regardless of order
    count; per-month maxima report capacity peaks."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    o = orders.join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
    opens = o.select(
        F.date_trunc("DAY", F.col("o_orderdate")).cast("timestamp").alias("day"),
        F.lit(1).alias("delta"),
    )
    closes = o.select(
        F.date_add(F.date_trunc("DAY", F.col("close_ts")), 1)
        .cast("timestamp")
        .alias("day"),
        F.lit(-1).alias("delta"),
    )
    deltas = opens.unionByName(closes).groupBy("day").agg(
        F.sum("delta").alias("net")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    running = deltas.select(
        "day", F.sum("net").over(w).alias("open_orders")
    )
    return (
        running.groupBy(F.date_trunc("MONTH", F.col("day")).alias("month"))
        .agg(F.max("open_orders").alias("max_open"))
        .orderBy("month")
    )


_SQL_SKEW_REPORT = """
WITH
r1 AS (SELECT 'l_orderkey' AS key_col, count(*)::BIGINT AS n_keys,
              sum(n)::BIGINT AS n_rows, max(n)::BIGINT AS max_per_key,
              round(max(n) / avg(n), 4) AS skew_ratio,
              round(max(n) / sum(n)::DOUBLE, 6) AS top_key_share
       FROM (SELECT count(*)::BIGINT AS n FROM lineitem GROUP BY l_orderkey)),
r2 AS (SELECT 'l_partkey', count(*)::BIGINT, sum(n)::BIGINT, max(n)::BIGINT,
              round(max(n) / avg(n), 4), round(max(n) / sum(n)::DOUBLE, 6)
       FROM (SELECT count(*)::BIGINT AS n FROM lineitem GROUP BY l_partkey)),
r3 AS (SELECT 'l_suppkey', count(*)::BIGINT, sum(n)::BIGINT, max(n)::BIGINT,
              round(max(n) / avg(n), 4), round(max(n) / sum(n)::DOUBLE, 6)
       FROM (SELECT count(*)::BIGINT AS n FROM lineitem GROUP BY l_suppkey)),
r4 AS (SELECT 'l_returnflag', count(*)::BIGINT, sum(n)::BIGINT, max(n)::BIGINT,
              round(max(n) / avg(n), 4), round(max(n) / sum(n)::DOUBLE, 6)
       FROM (SELECT count(*)::BIGINT AS n FROM lineitem GROUP BY l_returnflag))
SELECT * FROM r1 UNION ALL SELECT * FROM r2
UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
ORDER BY key_col
"""


@query(_SQL_SKEW_REPORT)
def q_skew_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the pre-flight report that decides
    broadcast vs salt vs AQE for each candidate shuffle key: per key
    column, distinct-key count, the hottest key's row share, and the
    max/mean rows-per-key ratio. Metadata-driven like the column
    profiler (one count-agg per key, unioned); at 100 TB this runs on
    a sample with the same plan shape."""
    li = _t(spark, sf_dir, "lineitem")

    def report(c: str) -> DataFrame:
        per = li.groupBy(c).agg(F.count(F.lit(1)).alias("n"))
        return per.agg(
            F.lit(c).alias("key_col"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_per_key"),
            F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
            F.round(F.max("n") / F.sum("n"), 6).alias("top_key_share"),
        )

    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"]
    out = report(cols[0])
    for c in cols[1:]:
        out = out.unionByName(report(c))
    return out.orderBy("key_col")


_SQL_WEIGHTED_MEDIAN = """
WITH base AS (
  SELECT l_returnflag, l_extendedprice / l_quantity AS unit_price,
         l_quantity, l_orderkey, l_linenumber
  FROM lineitem
),
c AS (
  SELECT l_returnflag, unit_price,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY unit_price, l_orderkey, l_linenumber
                               ROWS UNBOUNDED PRECEDING) AS cum_qty,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot_qty
  FROM base
)
SELECT l_returnflag,
       round(min(unit_price), 6) AS weighted_median_unit,
       max(tot_qty)::BIGINT AS total_qty
FROM c WHERE cum_qty >= tot_qty / 2
GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query(_SQL_WEIGHTED_MEDIAN)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag — the
    weighted-quantile family (a plain median over lineitems answers
    'median LINE'; shipping questions need 'median UNIT'). Classic
    cumulative-weight construction: sort each group by price, take the
    first row whose running quantity crosses half the group total.
    Both windows partition by the group key; integral quantities make
    the crossing test exact."""
    li = _t(spark, sf_dir, "lineitem")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    base = li.select("l_returnflag", unit, "l_quantity", "l_orderkey", "l_linenumber")
    w = Window.partitionBy("l_returnflag").orderBy(
        "unit_price", "l_orderkey", "l_linenumber"
    )
    wt = Window.partitionBy("l_returnflag")
    c = base.select(
        "l_returnflag",
        "unit_price",
        F.sum("l_quantity").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum_qty"),
        F.sum("l_quantity").over(wt).alias("tot_qty"),
    )
    crossed = c.filter(F.col("cum_qty") >= F.col("tot_qty") / 2)
    return (
        crossed.groupBy("l_returnflag")
        .agg(
            F.round(F.min("unit_price"), 6).alias("weighted_median_unit"),
            F.max("tot_qty").cast("bigint").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


_EWMA_ALPHA = 0.2
_EWMA_LAGS = 21


def _sql_ewma() -> str:
    num, den = [], []
    for k in range(_EWMA_LAGS):
        wk = f"{(1.0 - _EWMA_ALPHA) ** k!r}"
        lagk = "x" if k == 0 else f"lag(x, {k}) OVER w"
        num.append(f"coalesce({lagk}, 0.0) * {wk}")
        den.append(f"CASE WHEN {lagk} IS NOT NULL THEN {wk} ELSE 0.0 END")
    return f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS x
  FROM orders GROUP BY 1
)
SELECT day, round(x, 2) AS revenue,
       round(({' + '.join(num)}) / ({' + '.join(den)}), 4) AS ewma
FROM daily
WINDOW w AS (ORDER BY day)
ORDER BY day
"""


@query(_sql_ewma())
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue —
    defined TRUNCATED at 21 lags (weight 0.8²¹ < 1%), which turns the
    recursive EWMA (a sequential scan no window function expresses)
    into a closed windowed form: Σ wᵏ·x_{t−k} / Σ wᵏ over available
    lags — 21 lag() terms sharing one window spec (one shuffle + one
    sort; the partial-history head renormalizes over the lags that
    exist). Both engines evaluate the identical finite formula, so
    truncation is part of the operator's contract, not an
    approximation mismatch."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy(
        F.date_trunc("DAY", F.col("o_orderdate")).alias("day")
    ).agg((F.sum(cents) / 100.0).alias("x"))
    w = Window.orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(_EWMA_LAGS):
        wk = F.lit((1.0 - _EWMA_ALPHA) ** k)
        lagk = F.lag("x", k).over(w) if k else F.col("x")
        num = num + F.coalesce(lagk, F.lit(0.0)) * wk
        den = den + F.when(lagk.isNotNull(), wk).otherwise(F.lit(0.0))
    out = daily.select(
        "day",
        F.round("x", 2).alias("revenue"),
        F.round(num / den, 4).alias("ewma"),
    )
    return out.orderBy("day")


_SQL_SEASONAL_DOW = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS x
  FROM orders GROUP BY 1
),
d AS (SELECT *, (dayofweek(day) + 6) % 7 AS dow FROM daily),
o AS (SELECT avg(x) AS mu FROM d)
SELECT dow, count(*)::BIGINT AS n_days,
       round(avg(x), 2) AS mean_revenue,
       round(avg(x) / max(mu), 6) AS seasonal_index,
       round(stddev_samp(x / mu), 6) AS deseason_sd
FROM d CROSS JOIN o
GROUP BY dow ORDER BY dow
"""


@query(_SQL_SEASONAL_DOW)
def q_seasonal_index_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative weekly seasonality: index(dow) = mean daily
    revenue on that weekday / overall mean (Monday=0 via the
    reference's dayofweek shim), plus each weekday's deseasonalized
    dispersion — the decomposition step before any trend model.
    Daily pre-agg, two tiny aggregations, 1-row broadcast."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy(
        F.date_trunc("DAY", F.col("o_orderdate")).alias("day")
    ).agg((F.sum(cents) / 100.0).alias("x"))
    d = daily.withColumn("dow", temporal.dayofweek_monday0(F.col("day")))
    overall = d.agg(F.avg("x").alias("mu"))
    return (
        d.join(F.broadcast(overall))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("x"), 2).alias("mean_revenue"),
            F.round(F.avg("x") / F.max("mu"), 6).alias("seasonal_index"),
            F.round(F.stddev_samp(F.col("x") / F.col("mu")), 6).alias(
                "deseason_sd"
            ),
        )
        .orderBy("dow")
    )


def _sql_acf() -> str:
    parts = []
    for k in range(1, 8):
        parts.append(f"""
SELECT {k} AS lag,
       round((sum(a * b) - sum(a) * sum(b) / count(*))
             / sqrt((sum(a * a) - sum(a) * sum(a) / count(*))
                    * (sum(b * b) - sum(b) * sum(b) / count(*))), 6) AS acf,
       count(*)::BIGINT AS n_pairs
FROM (SELECT x::DOUBLE AS a, lag(x, {k}) OVER (ORDER BY day)::DOUBLE AS b
      FROM daily) WHERE b IS NOT NULL""")
    u = " UNION ALL ".join(parts)
    return f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         sum(round(o_totalprice * 100)::BIGINT) AS x
  FROM orders GROUP BY 1
)
SELECT * FROM ({u}) ORDER BY lag
"""


@query(_sql_acf())
def q_autocorrelation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1–7 (the
    weekly-cycle detector): each lag's Pearson correlation over the
    aligned pairs, computed from ONE pass of 7 lag() columns sharing a
    window spec, then 7 tiny moment aggregations (unioned). Exact
    integer-cents inputs; the lag-7 spike is the weekly cycle the
    seasonal index models."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy(
        F.date_trunc("DAY", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(cents).alias("x"))
    w = Window.orderBy("day")
    lagged = daily.select(
        "x", *[F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, 8)]
    )

    def acf(k: int) -> DataFrame:
        p = lagged.filter(F.col(f"x{k}").isNotNull()).select(
            F.col("x").cast("double").alias("a"),
            F.col(f"x{k}").cast("double").alias("b"),
        )
        n = F.count(F.lit(1)).cast("double")
        corr = (F.sum(F.col("a") * F.col("b")) - F.sum("a") * F.sum("b") / n) / (
            F.sqrt(
                (F.sum(F.col("a") * F.col("a")) - F.sum("a") * F.sum("a") / n)
                * (F.sum(F.col("b") * F.col("b")) - F.sum("b") * F.sum("b") / n)
            )
        )
        return p.agg(
            F.lit(k).alias("lag"),
            F.round(corr, 6).alias("acf"),
            F.count(F.lit(1)).alias("n_pairs"),
        )

    out = acf(1)
    for k in range(2, 8):
        out = out.unionByName(acf(k))
    return out.orderBy("lag")


_SQL_UNIGRAM_LP = """
WITH toks AS (
  SELECT doc_id, source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
t AS (SELECT * FROM toks WHERE tok <> ''),
vocab AS (SELECT tok, count(*)::BIGINT AS tf FROM t GROUP BY tok),
totals AS (SELECT sum(tf) AS n_tokens, count(*)::BIGINT AS v_size FROM vocab),
scored AS (
  SELECT doc_id, source,
         ln((tf + 1.0) / (n_tokens + v_size)::DOUBLE) AS lp
  FROM t JOIN vocab USING (tok) CROSS JOIN totals
),
per_doc AS (
  SELECT doc_id, source, avg(lp) AS mean_lp FROM scored GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg(mean_lp), 6) AS avg_logprob,
       round(min(mean_lp), 6) AS worst_logprob
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_UNIGRAM_LP)
def q_unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring: a unigram LM fit on the corpus
    itself (add-1 smoothed token probabilities), each doc scored by its
    mean token log-probability — the perplexity-proxy filter for
    training-corpus curation (garbage text scores far below fluent
    text under ANY LM, even this one). Two passes: vocab build (token
    explode → count), then score (explode → broadcast vocab join →
    per-doc mean). Per-source rollup reports the score distribution."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    totals = vocab.agg(
        F.sum("tf").alias("n_tokens"), F.count(F.lit(1)).alias("v_size")
    )
    scored_tok = (
        toks.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(totals))
        .select(
            "doc_id",
            "source",
            F.log(
                (F.col("tf") + 1.0)
                / (F.col("n_tokens") + F.col("v_size")).cast("double")
            ).alias("lp"),
        )
    )
    per_doc = scored_tok.groupBy("doc_id", "source").agg(
        F.avg("lp").alias("mean_lp")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("mean_lp"), 6).alias("avg_logprob"),
            F.round(F.min("mean_lp"), 6).alias("worst_logprob"),
        )
        .orderBy("source")
    )


_SQL_DSIR = """
WITH toks AS (
  SELECT doc_id, source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
t AS (SELECT * FROM toks WHERE tok <> ''),
tgt AS (SELECT min(source) AS s FROM documents),
vc AS (SELECT tok, count(*)::BIGINT AS tf_c FROM t GROUP BY tok),
vt AS (SELECT tok, count(*)::BIGINT AS tf_t FROM t, tgt WHERE t.source = tgt.s GROUP BY tok),
vocab AS (
  SELECT vc.tok, vc.tf_c, coalesce(vt.tf_t, 0) AS tf_t
  FROM vc LEFT JOIN vt USING (tok)
),
totals AS (SELECT sum(tf_c) AS n_c, sum(tf_t) AS n_t, count(*)::BIGINT AS v FROM vocab),
per_doc AS (
  SELECT doc_id, source,
         avg(ln((tf_t + 1.0) / (n_t + v)::DOUBLE) - ln((tf_c + 1.0) / (n_c + v)::DOUBLE)) AS w
  FROM t JOIN vocab USING (tok) CROSS JOIN totals
  GROUP BY doc_id, source
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY w DESC, doc_id ASC) AS rk FROM per_doc
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN rk <= 100 THEN 1 ELSE 0 END)::BIGINT AS n_selected,
       round(avg(CASE WHEN rk <= 100 THEN w END), 6) AS avg_sel_weight
FROM ranked
GROUP BY source HAVING sum(CASE WHEN rk <= 100 THEN 1 ELSE 0 END) > 0
ORDER BY source
"""


@query(_SQL_DSIR)
def q_dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection-by-importance-resampling (DSIR, Xie et al. 2023)
    re-expressed with hashed-unigram features: fit add-1-smoothed
    unigram LMs on a target domain (the lexicographically first source
    — the 'high-quality domain' stand-in) and on the full corpus, score
    every document by its mean per-token log importance ratio
    log p_target(t) − log p_corpus(t) over the shared corpus
    vocabulary, and deterministically select the top-100 (weight desc,
    doc_id asc). Output: per-source selection census. Everything is two
    vocab aggregates + broadcast joins — no per-row Python — and the
    oracle replays both LMs, every ratio, and the selection rank."""
    docs = _t(spark, sf_dir, "documents")
    target_src = docs.agg(F.min("source").alias("s")).collect()[0]["s"]
    toks = docs.select(
        "doc_id", "source", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "").localCheckpoint(eager=False)
    vocab_c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf_c"))
    vocab_t = (
        toks.filter(F.col("source") == target_src)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf_t"))
    )
    vocab = vocab_c.join(vocab_t, "tok", "left").withColumn(
        "tf_t", F.coalesce(F.col("tf_t"), F.lit(0))
    )
    totals = vocab.agg(
        F.sum("tf_c").alias("n_c"),
        F.sum("tf_t").alias("n_t"),
        F.count(F.lit(1)).alias("v"),
    )
    lr = F.log((F.col("tf_t") + 1.0) / (F.col("n_t") + F.col("v")).cast("double")) - F.log(
        (F.col("tf_c") + 1.0) / (F.col("n_c") + F.col("v")).cast("double")
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(totals))
        .groupBy("doc_id", "source")
        .agg(F.avg(lr).alias("w"))
        # consumed by BOTH the top-k job and the census — checkpoint so
        # the token-scoring aggregate is computed once, not per branch
        .localCheckpoint(eager=False)
    )
    # top-100 selection via orderBy().limit() — compiles to
    # TakeOrderedAndProject (per-partition heap + driver merge of 100
    # rows), NOT the single-partition global WindowExec the row_number
    # formulation costs at 100 TB (VERDICT r3 #1). The (w desc, doc_id)
    # order is total, so the selected set is identical; the 100-row
    # flag side broadcasts back onto the per-doc weights.
    top = (
        per_doc.orderBy(F.col("w").desc(), F.col("doc_id").asc())
        .limit(100)
        .select("doc_id", F.lit(True).alias("selected"))
    )
    flagged = per_doc.join(F.broadcast(top), "doc_id", "left").withColumn(
        "selected", F.coalesce(F.col("selected"), F.lit(False))
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("selected").cast("bigint")).alias("n_selected"),
            F.round(F.avg(F.when(F.col("selected"), F.col("w"))), 6).alias("avg_sel_weight"),
        )
        .filter(F.col("n_selected") > 0)
        .orderBy("source")
    )


_SQL_PIT_FEATURES = """
WITH feat AS (
  SELECT user_id, event_type, ts,
         count(*) OVER wp AS prior_n,
         avg(value) OVER wp AS prior_avg_value,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER wp
           AS prior_clicks,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1e6 AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT hour(ts) AS label_hour, count(*)::BIGINT AS n_rows,
       round(avg(prior_n), 4) AS avg_prior_n,
       round(avg(prior_avg_value), 4) AS avg_prior_value,
       round(avg(prior_clicks), 4) AS avg_prior_clicks,
       sum(CASE WHEN prior_n = 0 THEN 1 ELSE 0 END)::BIGINT AS n_cold_start,
       round(avg(gap_s), 2) AS avg_gap_s
FROM feat WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY label_hour
"""


@query(_SQL_PIT_FEATURES)
def q_pit_features_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-set assembly — the feature-store
    contract: every label row (a purchase) carries features computed
    ONLY from events strictly before it. Leakage-freedom is by
    construction, not audit: the feature frame is
    rowsBetween(unboundedPreceding, -1) over the per-user event
    sequence, so no future row can contribute. Features: prior event
    count, prior mean value, prior click count, and seconds since the
    previous event. Output aggregates the assembled set per label
    hour-of-day (row count, feature means, cold-start rate) — the
    shape a training-data QA report takes."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    feat = ev.select("user_id", "event_type", "value", "ts", "event_id").select(
        "user_id",
        "event_type",
        "ts",
        F.count(F.lit(1)).over(wp).alias("prior_n"),
        F.avg("value").over(wp).alias("prior_avg_value"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .over(wp)
        .alias("prior_clicks"),
        ((us - F.lag(us).over(w)) / F.lit(1e6)).alias("gap_s"),
    )
    labels = feat.filter(F.col("event_type") == "purchase")
    return (
        labels.groupBy(F.hour(F.col("ts")).alias("label_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("prior_n"), 4).alias("avg_prior_n"),
            F.round(F.avg("prior_avg_value"), 4).alias("avg_prior_value"),
            F.round(F.avg("prior_clicks"), 4).alias("avg_prior_clicks"),
            F.sum(F.when(F.col("prior_n") == 0, 1).otherwise(0)).alias(
                "n_cold_start"
            ),
            F.round(F.avg("gap_s"), 2).alias("avg_gap_s"),
        )
        .orderBy("label_hour")
    )


_SQL_TOPK_TIES = """
WITH rev AS (
  SELECT p_brand, p_partkey,
         round(sum(round(l_extendedprice * 100)::BIGINT
                   * (100 - round(l_discount * 100)::BIGINT)) / 10000.0,
               2) AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
)
SELECT p_brand, p_partkey, revenue,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY revenue DESC) AS rnk
FROM rev QUALIFY rnk <= 3
ORDER BY p_brand, rnk, p_partkey
"""


@query(_SQL_TOPK_TIES)
def q_topk_with_ties_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES (dense_rank ≤ 3): the 3 highest revenue VALUES
    per brand, keeping every part that achieves them — the semantics
    ANSI's FETCH FIRST k ROWS WITH TIES specifies and row_number-top-k
    silently violates. Revenue is 2dp-rounded BEFORE ranking on both
    engines so tie groups are identical."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # exact integer 1e-4-dollar units BEFORE aggregation: price and
    # discount are 2dp, so cents·(100 − disc_pct) is an exact bigint —
    # float-sum reassociation flipped a 2dp rounding boundary at sf1
    # (one part, one cent — the sf1 sweep caught it)
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        F.lit(100).cast("bigint") - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    rev = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(
            F.round(F.sum(rev_e4) / F.lit(10000.0), 2).alias("revenue")
        )
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"))
    return (
        rev.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rnk")
        .orderBy("p_brand", "rnk", "p_partkey")
    )


_SQL_FRONTEND = """
WITH nat_rev AS (
  SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
         count(*)::BIGINT AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, revenue, n_orders,
       round(revenue / sum(revenue) OVER (), 6) AS share
FROM nat_rev
ORDER BY revenue DESC, n_name
"""


@query(_SQL_FRONTEND)
def q_sql_frontend_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end as a first-class entry point: the engine's
    tables registered as temp views and a multi-CTE Spark SQL
    statement (aggregation + window share-of-total) run through
    spark.sql — proving a reference user can drive this engine with
    plain SQL, not just the DataFrame API. Catalyst compiles both
    surfaces to the same plans; the oracle restates it in DuckDB's
    dialect."""
    for t in ("orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        WITH nat_rev AS (
          SELECT n_name,
                 round(sum(o_totalprice), 2) AS revenue,
                 count(*) AS n_orders
          FROM v_orders
          JOIN v_customer ON o_custkey = c_custkey
          JOIN v_nation ON c_nationkey = n_nationkey
          GROUP BY n_name
        )
        SELECT n_name, revenue, n_orders,
               round(revenue / sum(revenue) OVER (), 6) AS share
        FROM nat_rev
        ORDER BY revenue DESC, n_name
        """
    )


_SQL_HULL_GEOMETRY = """
WITH RECURSIVE ids AS (SELECT range::BIGINT AS id FROM range(900)),
base AS (
  SELECT id AS src, id + 1 AS dst FROM ids WHERE id % 30 < 29
  UNION ALL
  SELECT id AS src, id + 30 AS dst FROM ids WHERE id < 870
),
edges AS (
  SELECT src, dst, 60.0 / (1 + (src * dst) % 5) AS w FROM base
  UNION ALL
  SELECT dst AS src, src AS dst, 60.0 / (1 + (src * dst) % 5) AS w FROM base
),
walk(id, dist) AS (
  SELECT 465::BIGINT AS id, 0.0::DOUBLE AS dist
  UNION
  SELECT e.dst, w.dist + e.w FROM walk w JOIN edges e ON e.src = w.id
  WHERE w.dist + e.w <= 300.0
),
rpts AS (SELECT DISTINCT 100 * (id % 30) AS x, 100 * (id // 30) AS y FROM walk),
bpts AS (
  SELECT x, y FROM (
    SELECT x, y, min(x) OVER (PARTITION BY y) AS mn,
           max(x) OVER (PARTITION BY y) AS mx
    FROM rpts
  ) WHERE x = mn OR x = mx
),
hedges AS (
  SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM bpts a, bpts b
  WHERE NOT (a.x = b.x AND a.y = b.y)
    AND NOT EXISTS (
      SELECT 1 FROM bpts r
      WHERE (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) < 0
    )
    AND NOT EXISTS (
      SELECT 1 FROM bpts r
      WHERE (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) = 0
        AND ((r.x - a.x) * (b.x - a.x) + (r.y - a.y) * (b.y - a.y) < 0
             OR (r.x - b.x) * (b.x - a.x) + (r.y - b.y) * (b.y - a.y) > 0)
    )
)
SELECT count(*)::INT AS n_vertices,
       sum(ax * by - bx * ay) / 2.0 AS area,
       round(sum((ax + bx) * (ax * by - bx * ay))
             / (3.0 * sum(ax * by - bx * ay)), 4) AS cx,
       round(sum((ay + by) * (ax * by - bx * ay))
             / (3.0 * sum(ax * by - bx * ay)), 4) AS cy
FROM hedges
"""


@query(_SQL_HULL_GEOMETRY)
def q_isochrone_hull_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon measurement on the isochrone hull: vertex count,
    shoelace area and centroid of the reachable region's convex hull —
    the geometry rollup lab-3-style reports print. Runs on the same
    integer lattice as `isochrone_poi_access`, so every cross product
    is exact bigint math and the oracle can replay the WHOLE chain:
    recursive-CTE bounded SSSP → boundary points → MAXIMAL hull edges
    (all points weakly left AND no collinear point outside the
    segment — the second condition is what de-duplicates collinear
    chains so shoelace sums each side exactly once) → closed-loop
    shoelace. Spark side: the hull (already collinear-free, CCW from
    monotone chain) folds to area/centroid on the driver — O(hull)
    artifacts only, per the engine's driver policy."""
    n = 30
    ids, grid = _grid_graph(spark, n)
    nodes = ids.select(
        "id",
        ((F.col("id") % n) * 100).alias("ix"),
        ((F.col("id") / n).cast("bigint") * 100).alias("iy"),
    )
    edges = grid.withColumn(
        "travel_time",
        F.lit(60.0) / (F.lit(1) + (F.col("src") * F.col("dst")) % 5),
    )
    center = n * n // 2 + n // 2
    reach = ga.isochrone_nodes(edges, nodes, center, radius=300.0, directed=False)
    hull = ga.convex_hull(reach, x="ix", y="iy")
    a2 = sum(
        ax * by - bx * ay
        for (ax, ay), (bx, by) in zip(hull, hull[1:] + hull[:1])
    )
    cx6 = sum(
        (ax + bx) * (ax * by - bx * ay)
        for (ax, ay), (bx, by) in zip(hull, hull[1:] + hull[:1])
    )
    cy6 = sum(
        (ay + by) * (ax * by - bx * ay)
        for (ax, ay), (bx, by) in zip(hull, hull[1:] + hull[:1])
    )
    return tb.local_frame(
        spark,
        [
            (
                len(hull),
                a2 / 2.0,
                round(cx6 / (3.0 * a2), 4),
                round(cy6 / (3.0 * a2), 4),
            )
        ],
        "n_vertices int, area double, cx double, cy double",
    )


_SQL_KMV_OVERLAP = """
WITH ha AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
),
hb AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
),
ska AS (SELECT h FROM ha ORDER BY h LIMIT 64),
skb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
sku AS (SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb)
        ORDER BY h LIMIT 64),
ea AS (SELECT CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                   ELSE round((count(*) - 1) * 1152921504606846976.0 / max(h), 2)
              END AS d_click FROM ska),
eb AS (SELECT CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                   ELSE round((count(*) - 1) * 1152921504606846976.0 / max(h), 2)
              END AS d_purchase FROM skb),
eu AS (SELECT CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                   ELSE round((count(*) - 1) * 1152921504606846976.0 / max(h), 2)
              END AS d_union FROM sku),
exact AS (
  SELECT count(*)::BIGINT AS exact_overlap FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  )
)
SELECT d_click, d_purchase, d_union,
       round(d_click + d_purchase - d_union, 2) AS est_overlap,
       exact_overlap
FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN exact
"""


@query(_SQL_KMV_OVERLAP)
def q_kmv_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation sketches — audience-overlap estimation from KMV
    sketches ALONE (the mergeable-sketch algebra): distinct clickers ∩
    distinct purchasers estimated as D̂_A + D̂_B − D̂_{A∪B}, where the
    union sketch is just the k smallest of the two sketches' union
    (KMV's closure property — no rescan of either side). The md5-prefix
    hash makes every sketch bit-identical in DuckDB, so the oracle
    replays the estimates exactly, alongside the exact intersection
    for the observed error. At 100 TB the two sketches are 64 numbers
    each; the exact path is a full distinct-join."""
    ev = _t(spark, sf_dir, "events")
    k = 64
    two60 = F.lit(float(1 << 60))

    def sketch(etype: str) -> DataFrame:
        hashed = (
            ev.filter(F.col("event_type") == etype)
            .select("user_id")
            .distinct()
            .select(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("bigint").alias("h")
            )
        )
        # k-min via orderBy().limit(k) = TakeOrderedAndProject: every
        # partition keeps a k-heap, the driver merges #partitions × k
        # rows — the mergeable-sketch shape, not the single-partition
        # global window (VERDICT r3 #2)
        return hashed.orderBy("h").limit(k)

    def estimate(sk: DataFrame, name: str) -> DataFrame:
        return sk.agg(
            F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
            .otherwise(F.round((F.count(F.lit(1)) - 1) * two60 / F.max("h"), 2))
            .alias(name)
        )

    a, b = sketch("click"), sketch("purchase")
    # union sketch = k smallest of the two sketches' union (KMV closure
    # property) — 2k rows in, TakeOrdered out, no global window
    union_sk = a.unionByName(b).distinct().orderBy("h").limit(k)
    exact = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .intersect(
            ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    da, db, du = (
        estimate(a, "d_click"),
        estimate(b, "d_purchase"),
        estimate(union_sk, "d_union"),
    )
    return (
        da.join(F.broadcast(db))
        .join(F.broadcast(du))
        .join(F.broadcast(exact))
        .select(
            "d_click",
            "d_purchase",
            "d_union",
            F.round(
                F.col("d_click") + F.col("d_purchase") - F.col("d_union"), 2
            ).alias("est_overlap"),
            "exact_overlap",
        )
    )


_SQL_INVERTED_INDEX = """
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
t AS (SELECT * FROM toks WHERE tok <> '')
SELECT tok, count(*)::BIGINT AS df,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
FROM t GROUP BY tok
ORDER BY df DESC, tok
LIMIT 20
"""


@query(_SQL_INVERTED_INDEX)
def q_inverted_index_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index construction: token → sorted postings list
    (doc_ids) + document frequency, for the 20 highest-df terms — the
    build step of every retrieval system, and the same
    explode→group→collect shape the n-gram similarity index uses
    (there it stays internal; here it's the EXPORT). Postings encode
    as comma-joined sorted ids (engine-neutral); at 100 TB postings
    shard by term hash and store as arrays, not strings."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tx.tokens(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",", F.array_sort(F.collect_list("doc_id")).cast("array<string>")
            ).alias("postings"),
        )
        .orderBy(F.desc("df"), "tok")
        .limit(20)
    )


_SQL_CHI2 = """
WITH d AS (
  SELECT event_type, (dayofweek(ts) + 6) % 7 AS dow FROM events
),
grid AS (
  SELECT event_type, dow, count(*)::BIGINT AS o FROM d GROUP BY 1, 2
),
rows_ AS (SELECT event_type, sum(o) AS r_tot FROM grid GROUP BY 1),
cols_ AS (SELECT dow, sum(o) AS c_tot FROM grid GROUP BY 1),
tot AS (SELECT sum(o) AS n FROM grid),
e AS (
  SELECT o, r_tot * c_tot / n::DOUBLE AS exp, n
  FROM grid
  JOIN rows_ USING (event_type)
  JOIN cols_ USING (dow)
  CROSS JOIN tot
)
SELECT round(sum(pow(o - exp, 2) / exp), 4) AS chi2,
       24 AS dof,
       round(sqrt(sum(pow(o - exp, 2) / exp) / (max(n) * 4.0)), 6) AS cramers_v,
       max(n)::BIGINT AS n
FROM e
"""


@query(_SQL_CHI2)
def q_chi2_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence test between event type and weekday (the
    categorical-association screen; completes the statistical-test
    family with KS and Benford): observed 5×7 contingency counts vs
    the independence expectation (row·col/total), summed into the χ²
    statistic with its degrees of freedom and Cramér's V effect size.
    Three tiny aggs off one count grid; margins broadcast back."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "event_type", temporal.dayofweek_monday0("ts").alias("dow")
    )
    grid = d.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    rows = grid.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    cols = grid.groupBy("dow").agg(F.sum("o").alias("c_tot"))
    tot = grid.agg(F.sum("o").alias("n"))
    e = (
        grid.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .join(F.broadcast(tot))
        .withColumn(
            "exp", F.col("r_tot") * F.col("c_tot") / F.col("n").cast("double")
        )
    )
    chi2 = F.sum(F.pow(F.col("o") - F.col("exp"), 2) / F.col("exp"))
    return e.agg(
        F.round(chi2, 4).alias("chi2"),
        F.lit((5 - 1) * (7 - 1)).alias("dof"),
        F.round(
            F.sqrt(chi2 / (F.max("n") * F.lit(4.0))), 6
        ).alias("cramers_v"),
        F.max("n").alias("n"),
    )


_SQL_FRAME_SAMPLE = """
WITH videos AS (
  SELECT doc_id AS item_id, (8 + doc_id % 120)::INT AS n_frames
  FROM documents WHERE doc_id % 3 = 2
),
sampled AS (
  SELECT item_id, n_frames,
         range(0, n_frames, 4) AS idxs
  FROM videos
)
SELECT (n_frames // 32) * 32 AS frame_band,
       count(*)::BIGINT AS n_videos,
       sum(len(idxs))::BIGINT AS total_sampled,
       max(n_frames) AS max_frames,
       max_by(array_to_string(idxs, ','), n_frames * 100000 + item_id)
         AS longest_idx_list
FROM sampled
GROUP BY 1 ORDER BY frame_band
"""


@query(_SQL_FRAME_SAMPLE)
def q_frame_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling MANIFEST — the planning half of video
    ingestion, fully oracle-checkable (the decode half stays a pytest-
    pinned stub since codecs aren't in this container): for every video
    row, the every-4th-frame sample indices as codegen'd
    sequence/transform arithmetic, rolled up per duration band with
    sampled-frame totals and the exact index list of the longest video.
    At 100 TB the manifest drives the decoder fan-out (one task per
    (video, frame-range)) — planning stays JVM-side, bytes never move
    for it."""
    docs = _t(spark, sf_dir, "documents")

    m = mm.synthesize_media(docs, "doc_id", "text")
    videos = m.filter(F.col("media.media_type") == "video").select(
        "item_id", F.col("media.n_frames").alias("n_frames")
    )
    k = 4
    sampled = videos.withColumn(
        "idxs",
        F.sequence(
            F.lit(0), F.col("n_frames") - 1, F.lit(k)
        ),
    ).withColumn("n_sampled", F.size("idxs"))
    band = (F.floor(F.col("n_frames") / 32) * 32).alias("frame_band")
    return (
        sampled.groupBy(band)
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.sum("n_sampled").alias("total_sampled"),
            F.max("n_frames").alias("max_frames"),
            F.max_by(
                F.concat_ws(",", F.col("idxs").cast("array<string>")),
                # scalar composite key (ids ≪ 1e5): engine-portable max_by
                F.col("n_frames") * 100000 + F.col("item_id"),
            ).alias("longest_idx_list"),
        )
        .orderBy("frame_band")
    )


_SQL_TOP_DECILE = """
WITH spend AS (
  SELECT n_name, o_custkey, round(sum(o_totalprice), 2) AS spend
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_custkey
),
th AS (SELECT n_name, quantile_cont(spend, 0.9) AS p90 FROM spend GROUP BY 1)
SELECT s.n_name, count(*)::BIGINT AS n_top,
       round(sum(s.spend), 2) AS top_spend, round(max(t.p90), 2) AS p90_bar
FROM spend s JOIN th t ON s.n_name = t.n_name
WHERE s.spend > t.p90
GROUP BY s.n_name
ORDER BY s.n_name
"""


@query(_SQL_TOP_DECILE)
def q_top_decile_spenders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP percentile threshold (F17's group-wise form): each
    nation's top-decile spenders — the p90 spend computed per nation
    (one small agg), broadcast-joined back, then the census of
    customers above their OWN nation's bar. Group-local thresholds are
    the pattern global percentile filters miss (a global p90 would be
    dominated by rich nations); the threshold table is |nations| rows
    however large the fact side."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "o_custkey", "spend")
    )
    th = spend.groupBy("n_name").agg(
        F.percentile("spend", F.lit(0.9)).alias("p90")
    )
    return (
        spend.join(F.broadcast(th), "n_name")
        .filter(F.col("spend") > F.col("p90"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.round(F.sum("spend"), 2).alias("top_spend"),
            F.round(F.max("p90"), 2).alias("p90_bar"),
        )
        .orderBy("n_name")
    )


_SQL_GINI = """
WITH spend AS (
  SELECT n_name, o_custkey,
         sum(round(o_totalprice * 100)::BIGINT) AS x
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_custkey
),
ranked AS (
  SELECT n_name, x,
         row_number() OVER (PARTITION BY n_name ORDER BY x, o_custkey) AS i
  FROM spend
)
SELECT n_name, count(*)::BIGINT AS n_customers,
       round(2.0 * sum(i * x) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked GROUP BY n_name ORDER BY n_name
"""


@query(_SQL_GINI)
def q_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality measurement: the Gini coefficient of customer spend
    within each nation, from the rank formulation
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending within-nation
    ranks — one PARTITIONED rank window (no global sort; the two-phase
    global-rank operator is the fallback for a single giant group).
    Integer-cents spend keeps Σ i·xᵢ exact (bounded by n²·max_cents ≪
    2⁶³ at any realistic nation size)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.sum(cents).alias("x"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "o_custkey", "x")
    )
    w = Window.partitionBy("n_name").orderBy("x", "o_custkey")
    ranked = spend.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                2.0 * F.sum(F.col("i") * F.col("x"))
                / (F.count(F.lit(1)) * F.sum("x"))
                - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
                6,
            ).alias("gini"),
        )
        .orderBy("n_name")
    )


_SQL_CONCENTRATION = """
WITH grid AS (
  SELECT p_type, p_brand,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
tot AS (SELECT p_type, sum(rev) AS t FROM grid GROUP BY 1),
shared AS (
  SELECT g.p_type, g.p_brand, g.rev, g.rev / t.t AS share
  FROM grid g JOIN tot t ON g.p_type = t.p_type
),
cr3 AS (
  SELECT p_type, round(sum(share), 6) AS cr3 FROM (
    SELECT p_type, share,
           row_number() OVER (PARTITION BY p_type
                              ORDER BY rev DESC, p_brand) AS rn
    FROM shared
  ) WHERE rn <= 3 GROUP BY p_type
),
base AS (
  SELECT p_type, count(*)::BIGINT AS n_brands,
         round(sum(share * share), 6) AS hhi,
         round(-sum(share * ln(share)), 6) AS entropy
  FROM shared GROUP BY p_type
)
SELECT base.p_type, n_brands, hhi, entropy, cr3.cr3
FROM base JOIN cr3 ON base.p_type = cr3.p_type
ORDER BY base.p_type
"""


@query(_SQL_CONCENTRATION)
def q_concentration_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration metrics per part type: Herfindahl–Hirschman
    index (Σ share²), Shannon entropy of the brand mix, and CR3 (top-3
    brand share) — the three standard concentration lenses from ONE
    per-(type, brand) revenue grid. CR3 rides a per-type top-k window;
    shares come from a broadcast join-back of the per-type totals."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    grid = (
        li.join(F.broadcast(part.select("p_partkey", "p_type", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("rev")
        )
    )
    tot = grid.groupBy("p_type").agg(F.sum("rev").alias("t"))
    shared = grid.join(F.broadcast(tot), "p_type").withColumn(
        "share", F.col("rev") / F.col("t")
    )
    w = Window.partitionBy("p_type").orderBy(F.desc("rev"), "p_brand")
    cr3 = (
        shared.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("p_type")
        .agg(F.round(F.sum("share"), 6).alias("cr3"))
    )
    base = shared.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_brands"),
        F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
        F.round(-F.sum(F.col("share") * F.log("share")), 6).alias("entropy"),
    )
    return base.join(cr3, "p_type").orderBy("p_type")


_SQL_TEMPORAL_LOOKUP = """
WITH m AS (
  SELECT user_id, event_type, ts,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
p AS (SELECT user_id, event_type, ts FROM m WHERE chg = 1),
hist AS (
  SELECT user_id, event_type, ts AS ef,
         coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                  TIMESTAMP '2100-01-01 00:00:00') AS et
  FROM p
),
probes AS (
  SELECT user_id,
         TIMESTAMP '2024-01-05 00:00:00'
           + (user_id % 14) * INTERVAL 1 HOUR AS t
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT h.event_type, count(*)::BIGINT AS n_users
FROM hist h JOIN probes pr
  ON h.user_id = pr.user_id AND h.ef <= pr.t AND pr.t < h.et
GROUP BY h.event_type ORDER BY h.event_type
"""


@query(_SQL_TEMPORAL_LOOKUP)
def q_temporal_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (validity-interval) point lookup against SCD2 history —
    'what was each user's state at time T?' for a deterministic probe
    set: the SCD2 collapse builds the versioned dimension, then probes
    join on user_id with the interval residual
    effective_from ≤ T < effective_to. The equi-key (user_id) drives
    the hash join — the interval test is a residual filter, never a
    range-scan join; per (user, T) exactly one version matches (SCD2
    intervals partition time). Probes land mid-corpus via per-user
    offsets so the answers exercise interior versions, not just
    endpoints. The census per looked-up state is the output."""
    ev = _t(spark, sf_dir, "events")
    hist = scd.scd2_collapse(ev, "user_id", "event_type", "ts")
    hi = F.lit("2100-01-01 00:00:00").cast("timestamp")
    hist = hist.select(
        "user_id",
        "event_type",
        F.col("effective_from").cast("timestamp").alias("ef"),
        F.coalesce(F.col("effective_to").cast("timestamp"), hi).alias("et"),
    )
    users = ev.select("user_id").distinct()
    probe_ts = (
        F.lit("2024-01-05 00:00:00").cast("timestamp")
        + F.make_dt_interval(F.lit(0), (F.col("user_id") % 14).cast("int"))
    )
    probes = users.select("user_id", probe_ts.alias("t"))
    hits = hist.join(probes, "user_id").filter(
        (F.col("ef") <= F.col("t")) & (F.col("t") < F.col("et"))
    )
    return (
        hits.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


_SQL_SHARE_OF_PARENT = """
WITH base AS (
  SELECT r_name, n_name, o_totalprice
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
leaves AS (
  SELECT r_name, n_name, round(sum(o_totalprice), 2) AS rev
  FROM base GROUP BY 1, 2
),
regions AS (
  SELECT r_name, round(sum(o_totalprice), 2) AS region_rev
  FROM base GROUP BY 1
),
grand AS (SELECT round(sum(o_totalprice), 2) AS grand_rev FROM base)
SELECT l.r_name, l.n_name, l.rev,
       round(l.rev / r.region_rev, 6) AS share_of_region,
       round(r.region_rev / g.grand_rev, 6) AS region_share_of_total
FROM leaves l
JOIN regions r ON l.r_name = r.r_name
CROSS JOIN grand g
ORDER BY l.r_name, l.n_name
"""


@query(_SQL_SHARE_OF_PARENT)
def q_share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent over one ROLLUP grid: each
    (region, nation) row's share of its REGION subtotal, and each
    region's share of the grand total — the drill-down ratio column
    every OLAP report carries. Both denominator levels come from the
    SAME Expand-based rollup (no second scan); the parent join keys on
    the region level. grouping_id disambiguates levels."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    base = (
        orders.join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
                    F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    grid = base.rollup("r_name", "n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
        F.grouping_id().alias("gid"),
    )
    leaves = grid.filter(F.col("gid") == 0).select("r_name", "n_name", "rev")
    regions = grid.filter(F.col("gid") == 1).select(
        F.col("r_name").alias("pr_name"), F.col("rev").alias("region_rev")
    )
    grand = grid.filter(F.col("gid") == 3).select(
        F.col("rev").alias("grand_rev")
    )
    return (
        leaves.join(F.broadcast(regions), leaves.r_name == regions.pr_name)
        .join(F.broadcast(grand))
        .select(
            "r_name",
            "n_name",
            "rev",
            F.round(F.col("rev") / F.col("region_rev"), 6).alias(
                "share_of_region"
            ),
            F.round(F.col("region_rev") / F.col("grand_rev"), 6).alias(
                "region_share_of_total"
            ),
        )
        .orderBy("r_name", "n_name")
    )


_SQL_QUARTILE_MIGRATION = """
WITH s97 AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
),
s98 AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    AND o_orderdate < TIMESTAMP '1999-01-01'
  GROUP BY 1
),
t97 AS (SELECT quantile_cont(spend, 0.25) AS q1, quantile_cont(spend, 0.5) AS q2,
               quantile_cont(spend, 0.75) AS q3 FROM s97),
t98 AS (SELECT quantile_cont(spend, 0.25) AS q1, quantile_cont(spend, 0.5) AS q2,
               quantile_cont(spend, 0.75) AS q3 FROM s98),
a AS (SELECT o_custkey,
             1 + (spend > q1)::INT + (spend > q2)::INT + (spend > q3)::INT AS q97
      FROM s97 CROSS JOIN t97),
b AS (SELECT o_custkey,
             1 + (spend > q1)::INT + (spend > q2)::INT + (spend > q3)::INT AS q98
      FROM s98 CROSS JOIN t98)
SELECT coalesce(q97, 0) AS q97, coalesce(q98, 0) AS q98,
       count(*)::BIGINT AS n_customers
FROM a FULL OUTER JOIN b USING (o_custkey)
GROUP BY 1, 2 ORDER BY q97, q98
"""


@query(_SQL_QUARTILE_MIGRATION)
def q_spend_quartile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-migration matrix: each customer's spend quartile in 1997
    vs 1998, counted as a 4×4 transition grid plus churn-in/out rows
    (active one year only) — the period-over-period segmentation drift
    report. Quartile bars are per-YEAR broadcast thresholds (same
    scale posture as RFM — no global ntile); the migration join keys
    on custkey."""
    orders = _t(spark, sf_dir, "orders")

    def year_spend(y: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        )

    def quartiled(df: DataFrame, out: str) -> DataFrame:
        th = df.agg(
            F.percentile("spend", F.lit(0.25)).alias("q1"),
            F.percentile("spend", F.lit(0.5)).alias("q2"),
            F.percentile("spend", F.lit(0.75)).alias("q3"),
        )
        return df.join(F.broadcast(th)).select(
            "o_custkey",
            (
                F.lit(1)
                + (F.col("spend") > F.col("q1")).cast("int")
                + (F.col("spend") > F.col("q2")).cast("int")
                + (F.col("spend") > F.col("q3")).cast("int")
            ).alias(out),
        )
    a = quartiled(year_spend(1997), "q97")
    b = quartiled(year_spend(1998), "q98")
    j = a.join(b, "o_custkey", "full_outer")
    return (
        j.groupBy(
            F.coalesce(F.col("q97"), F.lit(0)).alias("q97"),
            F.coalesce(F.col("q98"), F.lit(0)).alias("q98"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("q97", "q98")
    )


_SQL_SEASONAL_NAIVE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         sum(round(o_totalprice * 100)::BIGINT) AS x
  FROM orders GROUP BY 1
),
scored AS (
  SELECT day, x, lag(x, 7) OVER (ORDER BY day) AS yhat FROM daily
)
SELECT date_trunc('month', day) AS month, count(*)::BIGINT AS n_days,
       round(avg(abs(x - yhat)) / 100.0, 2) AS mae,
       round(avg(abs(x - yhat) / x::DOUBLE), 6) AS mape
FROM scored WHERE yhat IS NOT NULL
GROUP BY 1 ORDER BY month
"""


@query(_SQL_SEASONAL_NAIVE)
def q_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting: the seasonal-naive baseline (ŷ_t = y_{t−7},
    same weekday last week) evaluated walk-forward over daily revenue —
    per-month MAE and MAPE, the reference line every real forecaster
    must beat. One lag window over the daily pre-agg; errors aggregate
    per month. Integer-cents values keep the error sums exact until
    the final divisions."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy(
        F.date_trunc("DAY", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(cents).alias("x"))
    w = Window.orderBy("day")
    scored = daily.withColumn("yhat", F.lag("x", 7).over(w)).filter(
        F.col("yhat").isNotNull()
    )
    err = F.abs(F.col("x") - F.col("yhat"))
    return (
        scored.groupBy(F.date_trunc("MONTH", F.col("day")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg(err) / 100.0, 2).alias("mae"),
            F.round(F.avg(err / F.col("x")), 6).alias("mape"),
        )
        .orderBy("month")
    )


_SQL_PRORATED = """
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS close_ts FROM lineitem GROUP BY 1
),
o AS (
  SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents,
         o_orderdate::DATE AS d0, close_ts::DATE AS d1,
         date_diff('day', o_orderdate::DATE, close_ts::DATE) + 1 AS span_days
  FROM orders JOIN last_ship ON o_orderkey = l_orderkey
  WHERE close_ts::DATE >= o_orderdate::DATE
),
exploded AS (
  SELECT o_orderkey, cents, d0, d1, span_days,
         unnest(generate_series(date_trunc('month', d0),
                                date_trunc('month', d1),
                                INTERVAL 1 MONTH))::DATE AS month
  FROM o
),
credited AS (
  SELECT month,
         date_diff('day', greatest(month, d0),
                   least(last_day(month), d1)) + 1 AS ov_days,
         cents, span_days
  FROM exploded
)
SELECT strftime(month, '%Y-%m') AS month,
       round(sum(cents * ov_days / span_days::DOUBLE / 100.0), 2)
         AS recognized_revenue,
       count(*)::BIGINT AS n_order_slices
FROM credited GROUP BY 1 ORDER BY month
"""


@query(_SQL_PRORATED)
def q_prorated_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue recognition proration: each order's value spreads
    uniformly over its service interval [orderdate, last shipment],
    credited to calendar months by day overlap — the interval×calendar
    allocation every finance pipeline runs. The interval explodes only
    to its covering months (sequence of month starts — bounded by span
    months, not days); overlap days are exact date arithmetic; each
    order's credited shares provably sum to its total (conservation
    pytest-checked implicitly by the oracle grid). Integer cents ÷
    exact day counts keep shares deterministic."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_ts")
    )
    o = (
        orders.join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.to_date("o_orderdate").alias("d0"),
            F.to_date("close_ts").alias("d1"),
        )
        .filter(F.col("d1") >= F.col("d0"))
        .withColumn("span_days", F.datediff("d1", "d0") + 1)
    )
    exploded = o.select(
        "o_orderkey",
        "cents",
        "d0",
        "d1",
        "span_days",
        F.explode(
            F.sequence(
                F.trunc("d0", "MM"),
                F.trunc("d1", "MM"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month"),
    )
    m_end = F.last_day(F.col("month"))
    ov_start = F.greatest(F.col("month"), F.col("d0"))
    ov_end = F.least(m_end, F.col("d1"))
    credited = exploded.withColumn(
        "ov_days", F.datediff(ov_end, ov_start) + 1
    ).withColumn(
        "credit",
        F.col("cents") * F.col("ov_days") / F.col("span_days") / 100.0,
    )
    return (
        credited.groupBy(
            F.date_format("month", "yyyy-MM").alias("month")
        )
        .agg(
            F.round(F.sum("credit"), 2).alias("recognized_revenue"),
            F.count(F.lit(1)).alias("n_order_slices"),
        )
        .orderBy("month")
    )


_SQL_SURVIVAL = """
WITH spans AS (
  SELECT user_id, min(ts)::DATE AS first_d, max(ts)::DATE AS last_d
  FROM events GROUP BY 1
),
end_ AS (SELECT max(ts)::DATE AS end_d FROM events),
lt AS (
  SELECT user_id,
         date_diff('day', first_d, last_d) AS lifetime,
         date_diff('day', first_d, end_d) AS observable
  FROM spans CROSS JOIN end_
),
horizons AS (SELECT (range * 5)::INT AS k FROM range(7))
SELECT k, count(*)::BIGINT AS n_observable,
       sum(CASE WHEN lifetime >= k THEN 1 ELSE 0 END)::BIGINT AS n_surviving,
       round(sum(CASE WHEN lifetime >= k THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS survival
FROM lt CROSS JOIN horizons
WHERE observable >= k
GROUP BY k ORDER BY k
"""


@query(_SQL_SURVIVAL)
def q_user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Censoring-aware retention (Kaplan-Meier-style at fixed
    horizons): S(k) = share of users still active ≥ k days after first
    seen, computed ONLY over users observable for ≥ k days (first seen
    at least k days before corpus end) — ignoring censoring inflates
    churn for late joiners, the classic retention-curve mistake. One
    per-user lifetime agg + a tiny horizons cross join (7 rows)."""
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_d"),
        F.to_date(F.max("ts")).alias("last_d"),
    )
    end = ev.agg(F.to_date(F.max("ts")).alias("end_d"))
    lt = spans.join(F.broadcast(end)).select(
        "user_id",
        F.datediff("last_d", "first_d").alias("lifetime"),
        F.datediff("end_d", "first_d").alias("observable"),
    )
    horizons = spark.range(7).select((F.col("id") * 5).cast("int").alias("k"))
    return (
        lt.crossJoin(F.broadcast(horizons))
        .filter(F.col("observable") >= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_observable"),
            F.sum(
                F.when(F.col("lifetime") >= F.col("k"), 1).otherwise(0)
            ).alias("n_surviving"),
            F.round(
                F.sum(F.when(F.col("lifetime") >= F.col("k"), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("survival"),
        )
        .orderBy("k")
    )


_SQL_AB_TEST = """
WITH per_user AS (
  SELECT user_id,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, count(*)::BIGINT AS n, sum(converted)::BIGINT AS conv
  FROM per_user GROUP BY arm
),
a AS (SELECT n AS n_a, conv AS c_a FROM arms WHERE arm = 0),
b AS (SELECT n AS n_b, conv AS c_b FROM arms WHERE arm = 1)
SELECT n_a, n_b,
       round(c_a / n_a::DOUBLE, 6) AS rate_a,
       round(c_b / n_b::DOUBLE, 6) AS rate_b,
       round(c_a / n_a::DOUBLE - c_b / n_b::DOUBLE, 6) AS lift,
       round(CASE WHEN sqrt(((c_a + c_b) / (n_a + n_b)::DOUBLE)
                         * (1 - (c_a + c_b) / (n_a + n_b)::DOUBLE)
                         * (1.0 / n_a + 1.0 / n_b)) > 0
                  THEN (c_a / n_a::DOUBLE - c_b / n_b::DOUBLE)
                       / sqrt(((c_a + c_b) / (n_a + n_b)::DOUBLE)
                              * (1 - (c_a + c_b) / (n_a + n_b)::DOUBLE)
                              * (1.0 / n_a + 1.0 / n_b))
                  ELSE 0.0 END, 4) AS z_stat
FROM a CROSS JOIN b
"""


@query(_SQL_AB_TEST)
def q_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split by a deterministic hash
    bucket (the assignment every experimentation platform does),
    conversion = made ≥1 purchase; the two-proportion pooled z-test
    statistic plus absolute lift — the significance arithmetic as
    column algebra over two tiny per-bucket aggregates. Assignment
    hashes user_id (md5-prefix parity), NOT raw id parity, so
    correlated-id artifacts can't leak into arms."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).withColumn("arm", bucket)
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").alias("conv"),
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("c_a")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("c_b")
    )
    j = a.join(F.broadcast(b))
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    p_pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    # degenerate arms (p_pool 0 or 1) have zero pooled variance — the
    # z-stat is undefined; report 0.0 instead of dividing by zero
    # (ANSI mode turns the latter into a hard error)
    se = F.sqrt(p_pool * (1 - p_pool) * (1 / F.col("n_a") + 1 / F.col("n_b")))
    z = F.when(se > 0, (p_a - p_b) / se).otherwise(F.lit(0.0))
    return j.select(
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(p_a - p_b, 6).alias("lift"),
        F.round(z, 4).alias("z_stat"),
    )


_SQL_STAYPOINTS = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
cells AS (
  SELECT user_id, ts, event_id,
         floor((lon - (-74.3)) / 0.05) * 1000 + floor((lat - 40.5) / 0.05)
           AS cell
  FROM p
),
flagged AS (
  SELECT user_id, ts, event_id, cell,
         CASE WHEN lag(cell) OVER w IS NULL OR cell <> lag(cell) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM cells WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id, ts, cell,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
per_island AS (
  SELECT user_id, island, count(*)::BIGINT AS n_pings,
         (epoch_us(max(ts)) - epoch_us(min(ts))) / 6e7 AS dwell_min
  FROM islands GROUP BY 1, 2
),
stays AS (SELECT * FROM per_island WHERE dwell_min >= 30.0)
SELECT user_id, count(*)::BIGINT AS n_stays,
       round(avg(dwell_min), 4) AS avg_dwell_min,
       round(max(dwell_min), 4) AS max_dwell_min,
       sum(n_pings)::BIGINT AS n_stay_pings
FROM stays GROUP BY user_id ORDER BY user_id
"""


@query(_SQL_STAYPOINTS)
def q_staypoint_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory stay-point detection: maximal runs of consecutive
    pings in the SAME grid cell lasting ≥ 30 minutes — the dwell
    episodes mobility analysis mines (home/work/POI visits). The
    trajectory family's gaps-and-islands member: cell-change flags
    cumsum into island ids per user (the SCD2 collapse applied to a
    spatial state), then island duration filters. Cell size ties to
    the dwell radius exactly like DBSCAN's eps-grid. Output: per-user
    stay counts and dwell-time stats."""
    ev = _t(spark, sf_dir, "events")
    pts = _derived_points(ev).select("user_id", "ts", "event_id", "lon", "lat")
    gx, gy = geo.grid_cell("lat", "lon", 40.5, -74.3, 0.05)
    cells = pts.withColumn("cell", gx * 1000 + gy)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = cells.withColumn(
        "chg",
        F.when(
            F.lag("cell").over(w).isNull()
            | (F.col("cell") != F.lag("cell").over(w)),
            1,
        ).otherwise(0),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = flagged.withColumn("island", F.sum("chg").over(wrun))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_island = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("n_pings"),
        ((F.max(us) - F.min(us)) / F.lit(6e7)).alias("dwell_min"),
    )
    stays = per_island.filter(F.col("dwell_min") >= 30.0)
    return (
        stays.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_stays"),
            F.round(F.avg("dwell_min"), 4).alias("avg_dwell_min"),
            F.round(F.max("dwell_min"), 4).alias("max_dwell_min"),
            F.sum("n_pings").alias("n_stay_pings"),
        )
        .orderBy("user_id")
    )


_SQL_ASSORTATIVITY = f"""
WITH {_SQL_MOD_GRAPH},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e
),
deg AS (
  SELECT id, count(*)::BIGINT AS d FROM (
    SELECT u AS id FROM und UNION ALL SELECT v FROM und
  ) GROUP BY id
),
both_dirs AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
),
pairs AS (
  SELECT da.d::DOUBLE AS a, db.d::DOUBLE AS b
  FROM both_dirs
  JOIN deg da ON both_dirs.u = da.id
  JOIN deg db ON both_dirs.v = db.id
)
SELECT (count(*) / 2)::BIGINT AS n_edges,
       round((sum(a * b) - sum(a) * sum(b) / count(*))
             / sqrt((sum(a * a) - sum(a) * sum(a) / count(*))
                    * (sum(b * b) - sum(b) * sum(b) / count(*))), 6)
         AS assortativity
FROM pairs
"""


@query(_SQL_ASSORTATIVITY)
def q_degree_assortativity_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the modular graph — Pearson correlation
    of endpoint degrees over undirected edges (counted once per
    direction, the standard Newman formulation): do hubs attach to
    hubs? Composes the degree table with a two-sided broadcast join
    back onto the edge list; the correlation assembles from moment
    sums (the linregress algebra on integer degrees — exact sums)."""
    edges = _mod_graph_edges(spark)
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    both_dirs = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    pairs = (
        both_dirs.join(
            F.broadcast(deg.select(F.col("id").alias("u"), F.col("d").alias("da"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("id").alias("v"), F.col("d").alias("db"))),
            "v",
        )
        .select(F.col("da").cast("double").alias("a"), F.col("db").cast("double").alias("b"))
    )
    n = F.count(F.lit(1)).cast("double")
    corr = (F.sum(F.col("a") * F.col("b")) - F.sum("a") * F.sum("b") / n) / F.sqrt(
        (F.sum(F.col("a") * F.col("a")) - F.sum("a") * F.sum("a") / n)
        * (F.sum(F.col("b") * F.col("b")) - F.sum("b") * F.sum("b") / n)
    )
    return pairs.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        F.round(corr, 6).alias("assortativity"),
    )


def _sql_centroid_separation() -> str:
    cols = ", ".join(
        f"avg(embedding[{i + 1}]::DOUBLE) AS c{i}" for i in range(_EMB_DIM)
    )
    dot = " + ".join(f"a.c{i} * b.c{i}" for i in range(_EMB_DIM))
    na = " + ".join(f"a.c{i} * a.c{i}" for i in range(_EMB_DIM))
    nb = " + ".join(f"b.c{i} * b.c{i}" for i in range(_EMB_DIM))
    return f"""
WITH cents AS (
  SELECT label, {cols} FROM embeddings GROUP BY label
)
SELECT a.label AS la, b.label AS lb,
       round(({dot}) / (sqrt({na}) * sqrt({nb})), 6) AS cos_sim
FROM cents a JOIN cents b ON a.label < b.label
ORDER BY cos_sim DESC, la, lb
LIMIT 5
"""


_EMB_DIM = 64


@query(_sql_centroid_separation())
def q_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality geometry: pairwise cosine similarity between
    per-label embedding centroids — the separation matrix that grades
    a labeling/quantizer (well-separated labels → low off-diagonal
    similarity). Centroids come from ONE grouped element-wise mean
    (the KMeans-update shuffle shape); the 10×10 pair matrix is a
    broadcast self-join over 10 rows — the heavy work never exceeds
    the centroid agg. Output: top-5 most-confusable label pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    # wide expressions built as PARSED SQL strings, not per-element
    # Column arithmetic: the Column-API form costs ~400 py4j
    # round-trips (~1 s of pure driver time) for the 3×64-term
    # dot/norm chains — the operators/similarity expression-strategy
    # note, applied. Identical trees, same left-to-right fp order.
    cents = (
        emb.selectExpr(
            "label",
            *[f"CAST(embedding[{i}] AS DOUBLE) AS c{i}" for i in range(dim)],
        )
        .groupBy("label")
        .agg(*[F.expr(f"avg(c{i})").alias(f"c{i}") for i in range(dim)])
        .localCheckpoint()  # consumed twice (both sides of the self-join)
    )
    a = cents.selectExpr("label AS la", *[f"c{i} AS a{i}" for i in range(dim)])
    b = cents.selectExpr("label AS lb", *[f"c{i} AS b{i}" for i in range(dim)])
    dot = F.expr(" + ".join(f"a{i} * b{i}" for i in range(dim)))
    na = F.expr(f"sqrt({' + '.join(f'a{i} * a{i}' for i in range(dim))})")
    nb = F.expr(f"sqrt({' + '.join(f'b{i} * b{i}' for i in range(dim))})")
    return (
        a.join(F.broadcast(b), F.col("la") < F.col("lb"))
        .select(
            "la",
            "lb",
            F.round(dot / (na * nb), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "la", "lb")
        .limit(5)
    )


_HOLIDAYS = [
    f"{y}-{md}" for y in range(1995, 2002) for md in ("01-01", "07-04", "12-25")
]


def _sql_business_day_lag() -> str:
    hol = ", ".join(f"'{h}'::DATE" for h in _HOLIDAYS)
    return f"""
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS close_ts FROM lineitem GROUP BY 1
),
o AS (
  SELECT o_orderpriority, o_orderdate::DATE AS d0, close_ts::DATE AS d1
  FROM orders JOIN last_ship ON o_orderkey = l_orderkey
  WHERE close_ts::DATE > o_orderdate::DATE
),
b AS (
  SELECT o_orderpriority,
         len(list_filter(generate_series(d0 + 1, d1, INTERVAL 1 DAY),
             d -> (dayofweek(d::DATE) + 6) % 7 < 5
                  AND NOT list_contains([{hol}], d::DATE))) AS bdays
  FROM o
)
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       round(avg(bdays), 4) AS avg_bdays, max(bdays)::INT AS max_bdays
FROM b GROUP BY 1 ORDER BY o_orderpriority
"""


@query(_sql_business_day_lag())
def q_business_day_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holiday-aware business-day lag: working days (Mon–Fri, minus a
    fixed holiday calendar) between order placement and final shipment,
    averaged per priority — calendar math as pure HOFs: sequence of
    covered dates → filter(weekday ∧ ¬holiday) → size, all codegen, no
    UDF, no calendar dimension join (the broadcast-calendar form is
    the alternative when holiday rules get data-driven)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    hol = F.array(*[F.lit(h).cast("date") for h in _HOLIDAYS])
    o = (
        orders.join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderpriority",
            F.to_date("o_orderdate").alias("d0"),
            F.to_date("close_ts").alias("d1"),
        )
        .filter(F.col("d1") > F.col("d0"))
    )
    bdays = F.size(
        F.filter(
            F.sequence(F.date_add("d0", 1), F.col("d1")),
            lambda d: ((F.dayofweek(d) + 5) % 7 < 5)
            & ~F.array_contains(hol, d),
        )
    )
    return (
        o.withColumn("bdays", bdays)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("bdays"), 4).alias("avg_bdays"),
            F.max("bdays").alias("max_bdays"),
        )
        .orderBy("o_orderpriority")
    )


def _sql_silhouette() -> str:
    cols = ", ".join(f"avg(embedding[{i + 1}]::DOUBLE) AS c{i}" for i in range(_EMB_DIM))
    d2 = " + ".join(
        f"(e.embedding[{i + 1}]::DOUBLE - c.c{i})"
        f" * (e.embedding[{i + 1}]::DOUBLE - c.c{i})"
        for i in range(_EMB_DIM)
    )
    return f"""
WITH cents AS (SELECT label AS cl, {cols} FROM embeddings GROUP BY label),
pairs AS (
  SELECT e.vec_id, e.label, c.cl, {d2} AS d2
  FROM embeddings e CROSS JOIN cents c
),
per AS (
  SELECT vec_id, label,
         min(CASE WHEN label = cl THEN d2 END) AS a2,
         min(CASE WHEN label <> cl THEN d2 END) AS b2
  FROM pairs GROUP BY 1, 2
)
SELECT label, count(*)::BIGINT AS n,
       round(avg((sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))), 6)
         AS silhouette
FROM per GROUP BY label ORDER BY label
"""


@query(_sql_silhouette())
def q_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette score per label — cluster-quality at
    the POINT level (the separation matrix grades centroids; this
    grades every member): a(i) = distance to own centroid, b(i) = min
    distance to any other, s = (b−a)/max(a,b), averaged per label.
    Physical shape: points cross-join the 10-row centroid table
    (broadcast — a 10× row expansion, not |points|²), each pair's
    64-term squared distance in one codegen'd projection, then a
    per-point min-split agg. The full-pairwise silhouette is
    quadratic; the centroid form is the one that scales."""
    # plan-BUILD was the bottleneck (guide §7.3): the former Column-API
    # loops (64 getItem/alias + 64 avg + a 64-term sum chain) cost
    # ~3 s of py4j round-trips per invocation — parsed strings build
    # the identical trees in a handful of calls. spread: the 64-term
    # distance map runs in the 1-task fixture scan stage otherwise.
    emb = spr.spread(_t(spark, sf_dir, "embeddings"))
    xi = "CAST(embedding AS ARRAY<DOUBLE>)"
    cents = emb.selectExpr(
        "label", *[f"{xi}[{i}] AS c{i}" for i in range(_EMB_DIM)]
    ).groupBy("label").agg(
        *[F.expr(f"avg(c{i}) AS c{i}") for i in range(_EMB_DIM)]
    ).withColumnRenamed("label", "cl")
    pts = emb.selectExpr(
        "vec_id", "label", *[f"{xi}[{i}] AS e{i}" for i in range(_EMB_DIM)]
    )
    # leading 0 matches the former Python sum()'s 0-init (0 + x ≡ x
    # exactly for the non-negative squared terms)
    d2 = F.expr(
        "0 + "
        + " + ".join(f"(e{i} - c{i}) * (e{i} - c{i})" for i in range(_EMB_DIM))
    )
    pairs = pts.join(F.broadcast(cents)).select(
        "vec_id", "label", "cl", d2.alias("d2")
    )
    per = pairs.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("label") == F.col("cl"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("label") != F.col("cl"), F.col("d2"))).alias("b2"),
    )
    s = (F.sqrt("b2") - F.sqrt("a2")) / F.greatest(F.sqrt("a2"), F.sqrt("b2"))
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(s), 6).alias("silhouette"),
        )
        .orderBy("label")
    )


_SQL_CONTAINMENT = f"""
WITH docs AS (SELECT doc_id, {{clean}} AS ct FROM documents),
sh AS (
  SELECT doc_id, {{shingles}} AS shingles
  FROM (SELECT doc_id, string_split(ct, ' ') AS toks FROM docs)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shingles, b.shingles)) AS i,
         len(a.shingles) AS na, len(b.shingles) AS nb
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(i / least(na, nb)::DOUBLE, 6) AS containment,
       round(i / (na + nb - i)::DOUBLE, 6) AS jaccard
FROM pairs
WHERE i / least(na, nb)::DOUBLE >= 0.8
  AND i / (na + nb - i)::DOUBLE <= 0.5
ORDER BY doc_a, doc_b
"""


@query(_SQL_CONTAINMENT.format(clean=_CLEAN_SQL, shingles=_SHINGLES_SQL))
def q_shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric overlap) near-dup detection:
    |A∩B| / min(|A|,|B|) ≥ 0.8 over 3-gram shingle sets — the
    subset-duplicate catcher Jaccard structurally misses (a short doc
    embedded verbatim in a long one has high containment but low
    Jaccard, because the union is dominated by the long doc). Same
    inverted-index physical shape as the Jaccard query (integer
    shingle equi-join, co-count, per-doc set sizes); only the
    normalizer changes. Reports pairs where containment clears the
    bar but Jaccard ≤ 0.5 alongside both scores — the pairs ONLY this
    operator finds."""
    docs = _t(spark, sf_dir, "documents")
    sh = dd.shingle_hash_rows(docs, "text", "doc_id", 3).distinct()
    sh = sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    ).localCheckpoint()
    a = sh.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("na")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("nb")
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    cont = F.col("i") / F.least("na", "nb")
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.filter((cont >= 0.8) & (jac <= 0.5))
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


_SQL_SHIPMENT_WAVES = """
WITH waves AS (
  SELECT l_orderkey, count(DISTINCT l_shipdate::DATE)::BIGINT AS n_waves
  FROM lineitem GROUP BY 1
)
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       round(avg(n_waves), 4) AS avg_waves,
       sum(CASE WHEN n_waves = 1 THEN 1 ELSE 0 END)::BIGINT AS n_single_wave,
       max(n_waves)::BIGINT AS max_waves
FROM orders JOIN waves ON o_orderkey = l_orderkey
GROUP BY 1 ORDER BY o_orderpriority
"""


@query(_SQL_SHIPMENT_WAVES)
def q_shipment_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-shipment analysis: how many distinct shipment DATES an
    order's lines spread over (1 = shipped complete, k = k waves),
    distributed per priority with the average wave count — the order-
    fulfillment fragmentation report. Two chained aggs (per-order
    distinct dates, then the per-priority distribution)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    waves = li.groupBy("l_orderkey").agg(
        F.countDistinct(F.to_date("l_shipdate")).alias("n_waves")
    )
    return (
        orders.join(waves, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("n_waves"), 4).alias("avg_waves"),
            F.sum(F.when(F.col("n_waves") == 1, 1).otherwise(0)).alias(
                "n_single_wave"
            ),
            F.max("n_waves").alias("max_waves"),
        )
        .orderBy("o_orderpriority")
    )


_SQL_INTERARRIVAL = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type, count(*)::BIGINT AS n_gaps,
       round(avg(gap_us) / 6e7, 4) AS mean_gap_min,
       round(stddev_samp(gap_us) / avg(gap_us), 6) AS cv,
       round(3.6e9 / avg(gap_us), 4) AS rate_per_hour
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


@query(_SQL_INTERARRIVAL)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-process characterization: per-type inter-arrival gap
    mean and coefficient of variation (cv ≈ 1 ⇒ Poisson-like, cv ≪ 1
    ⇒ regular/scheduled, cv ≫ 1 ⇒ bursty) plus the implied hourly
    rate — the first diagnostic before any queueing or anomaly model.
    One lag window per type, exact integral-microsecond gaps."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select("event_type", "ts", "event_id").select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_us") / 6e7, 4).alias("mean_gap_min"),
            F.round(
                F.stddev_samp("gap_us") / F.avg("gap_us"), 6
            ).alias("cv"),
            F.round(3.6e9 / F.avg("gap_us"), 4).alias("rate_per_hour"),
        )
        .orderBy("event_type")
    )


_SQL_BACKLOG_AGE = """
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS close_ts FROM lineitem GROUP BY 1
),
o AS (
  SELECT o_orderdate::DATE AS d0, close_ts::DATE AS d1
  FROM orders JOIN last_ship ON o_orderkey = l_orderkey
),
span AS (SELECT min(d0) AS lo, max(d1) AS hi FROM o),
probes AS (
  SELECT unnest(generate_series(date_trunc('month', lo + INTERVAL 1 MONTH)::DATE,
                                hi, INTERVAL 3 MONTH))::DATE AS snap
  FROM span
),
open_at AS (
  SELECT snap, date_diff('day', d0, snap) AS age
  FROM o CROSS JOIN probes
  WHERE d0 <= snap AND snap < d1
)
SELECT strftime(snap, '%Y-%m-%d') AS snapshot, count(*)::BIGINT AS n_open,
       round(quantile_cont(age, 0.5), 2) AS p50_age_days,
       max(age)::BIGINT AS max_age_days
FROM open_at GROUP BY snap ORDER BY snapshot
"""


@query(_SQL_BACKLOG_AGE)
def q_backlog_age_at_month_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time backlog aging: at quarterly month-start snapshots,
    the orders still open (placed, last line not yet shipped) with
    their age percentiles — the WIP-aging report. Snapshot probes come
    from a tiny generated calendar; the interval test is a residual on
    a broadcast cross join (probes × orders is |probes|-fold, bounded
    by the calendar, not data²). Ages are integral days ⇒ exact
    percentile arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    o = orders.join(last_ship, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.to_date("o_orderdate").alias("d0"), F.to_date("close_ts").alias("d1")
    )
    span = o.agg(F.min("d0").alias("lo"), F.max("d1").alias("hi"))
    # month-START snapshots: stepping month intervals from a day-1 date
    # never clamps, so Spark's start+k*interval and DuckDB's cumulative
    # generate_series agree on every probe (a last_day start diverges:
    # Jan31+6mo = Jul31 one way, Apr30+3mo = Jul30 the other)
    probes = span.select(
        F.explode(
            F.sequence(
                F.trunc(F.add_months(F.col("lo"), 1), "MM"),
                F.col("hi"),
                F.expr("INTERVAL 3 MONTHS"),
            )
        ).alias("snap")
    )
    open_at = o.join(F.broadcast(probes)).filter(
        (F.col("d0") <= F.col("snap")) & (F.col("snap") < F.col("d1"))
    )
    age = F.datediff("snap", "d0")
    return (
        open_at.groupBy(F.date_format("snap", "yyyy-MM-dd").alias("snapshot"))
        .agg(
            F.count(F.lit(1)).alias("n_open"),
            F.round(F.percentile(age, F.lit(0.5)), 2).alias("p50_age_days"),
            F.max(age).alias("max_age_days"),
        )
        .orderBy("snapshot")
    )


_SQL_REPURCHASE = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate::DATE) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                   o_orderdate::DATE) AS gap_days
  FROM orders
),
per_cust AS (
  SELECT o_custkey, avg(gap_days) AS mean_gap, count(*)::BIGINT AS n_repeats
  FROM gaps WHERE gap_days IS NOT NULL GROUP BY 1
)
SELECT c_mktsegment, count(*)::BIGINT AS n_repeat_customers,
       round(avg(mean_gap), 4) AS avg_cycle_days,
       round(quantile_cont(mean_gap, 0.5), 4) AS median_cycle_days
FROM per_cust JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY c_mktsegment
"""


@query(_SQL_REPURCHASE)
def q_repurchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase-cycle analysis: each repeat customer's mean days
    between consecutive orders (lag per customer), distributed per
    market segment — the replenishment-cadence report behind inventory
    and CRM timing. Two stages: per-customer gap means (customer-keyed
    window + agg), then the per-segment rollup with exact median."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn(
            "gap_days",
            F.datediff(
                F.to_date("o_orderdate"),
                F.to_date(F.lag("o_orderdate").over(w)),
            ),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    per_cust = gaps.groupBy("o_custkey").agg(
        F.avg("gap_days").alias("mean_gap"), F.count(F.lit(1)).alias("n_repeats")
    )
    return (
        per_cust.join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
                      F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_repeat_customers"),
            F.round(F.avg("mean_gap"), 4).alias("avg_cycle_days"),
            F.round(F.percentile("mean_gap", F.lit(0.5)), 4).alias(
                "median_cycle_days"
            ),
        )
        .orderBy("c_mktsegment")
    )


_SQL_PRICE_VOLUME = """
WITH g AS (
  SELECT p_type,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l_shipdate < TIMESTAMP '1998-01-01'
                  THEN l_quantity END) AS q97,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l_shipdate < TIMESTAMP '1998-01-01'
                  THEN l_extendedprice END) AS r97,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                   AND l_shipdate < TIMESTAMP '1999-01-01'
                  THEN l_quantity END) AS q98,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                   AND l_shipdate < TIMESTAMP '1999-01-01'
                  THEN l_extendedprice END) AS r98
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type
)
SELECT p_type,
       round(r98 - r97, 2) AS delta_rev,
       round((q98 - q97) * (r97 / q97), 2) AS volume_effect,
       round(q98 * (r98 / q98 - r97 / q97), 2) AS price_effect
FROM g
WHERE q97 IS NOT NULL AND q98 IS NOT NULL
ORDER BY p_type
"""


@query(_SQL_PRICE_VOLUME)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge (the BI decomposition behind every revenue
    variance review): per part type, 1998-vs-1997 revenue change split
    into volume effect (Δqty at old price) and price effect (new qty ×
    Δprice) — an arithmetic identity, so the two effects sum to Δrev
    EXACTLY (the self-auditing property; checked in the oracle by
    construction). Two filtered aggs over one scan (conditional
    aggregation, no self-join), 6dp-aligned unit prices."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    in97 = (
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    in98 = (
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    g = (
        li.join(F.broadcast(part.select("p_partkey", "p_type")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(
            F.sum(F.when(in97, F.col("l_quantity"))).alias("q97"),
            F.sum(F.when(in97, F.col("l_extendedprice"))).alias("r97"),
            F.sum(F.when(in98, F.col("l_quantity"))).alias("q98"),
            F.sum(F.when(in98, F.col("l_extendedprice"))).alias("r98"),
        )
        .filter(F.col("q97").isNotNull() & F.col("q98").isNotNull())
    )
    p97 = F.col("r97") / F.col("q97")
    p98 = F.col("r98") / F.col("q98")
    return g.select(
        "p_type",
        F.round(F.col("r98") - F.col("r97"), 2).alias("delta_rev"),
        F.round((F.col("q98") - F.col("q97")) * p97, 2).alias("volume_effect"),
        F.round(F.col("q98") * (p98 - p97), 2).alias("price_effect"),
    ).orderBy("p_type")


_SQL_REF_INTEGRITY = """
SELECT * FROM (
  SELECT 'lineitem->orders' AS relationship,
    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem)
     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))::BIGINT
      AS child_orphans,
    (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders)
     WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))::BIGINT
      AS unreferenced_parents
  UNION ALL
  SELECT 'lineitem->part',
    (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem)
     WHERE l_partkey NOT IN (SELECT p_partkey FROM part))::BIGINT,
    (SELECT count(*) FROM (SELECT DISTINCT p_partkey FROM part)
     WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem))::BIGINT
  UNION ALL
  SELECT 'lineitem->supplier',
    (SELECT count(*) FROM (SELECT DISTINCT l_suppkey FROM lineitem)
     WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))::BIGINT,
    (SELECT count(*) FROM (SELECT DISTINCT s_suppkey FROM supplier)
     WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem))::BIGINT
  UNION ALL
  SELECT 'orders->customer',
    (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders)
     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))::BIGINT,
    (SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer)
     WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))::BIGINT
)
ORDER BY relationship
"""


@query(_SQL_REF_INTEGRITY)
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's four fact
    relationships — orphan counts in BOTH directions per edge
    (lineitem→orders, lineitem→part, lineitem→supplier,
    orders→customer), each an anti-join pair over distinct keys. The
    ingest-gate companion to the column profiler: zero rows violated
    is the contract a warehouse asserts before exposing a load. One
    row per relationship with child/parent orphan counts."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")

    def edge(name, child, ck, parent, pk) -> DataFrame:
        c = child.select(F.col(ck).alias("k")).distinct()
        p = parent.select(F.col(pk).alias("k")).distinct()
        # stay lazy: counts as 1-row aggs unioned
        co = c.join(p, "k", "left_anti").agg(
            F.count(F.lit(1)).alias("child_orphans")
        )
        po = p.join(c, "k", "left_anti").agg(
            F.count(F.lit(1)).alias("unreferenced_parents")
        )
        return co.join(F.broadcast(po)).select(
            F.lit(name).alias("relationship"), "child_orphans",
            "unreferenced_parents",
        )

    out = edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
    for args in [
        ("lineitem->part", li, "l_partkey", part, "p_partkey"),
        ("lineitem->supplier", li, "l_suppkey", supplier, "s_suppkey"),
        ("orders->customer", orders, "o_custkey", customer, "c_custkey"),
    ]:
        out = out.unionByName(edge(*args))
    return out.orderBy("relationship")


_SQL_GLOBAL_MORAN = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
cells AS (
  SELECT CAST(floor((lon - (-74.3)) / 0.05) AS BIGINT) AS gx,
         CAST(floor((lat - 40.5) / 0.05) AS BIGINT) AS gy,
         count(*)::DOUBLE AS n
  FROM p GROUP BY 1, 2
),
s AS (SELECT avg(n) AS mu, count(*) AS n_cells FROM cells),
z AS (SELECT gx, gy, n, n - mu AS zv FROM cells, s),
pairs AS (
  SELECT i.gx, i.gy, i.zv AS zi, j.zv AS zj, i.n AS xi, j.n AS xj
  FROM z i JOIN z j
    ON abs(i.gx - j.gx) <= 1 AND abs(i.gy - j.gy) <= 1
   AND NOT (i.gx = j.gx AND i.gy = j.gy)
),
pa AS (
  SELECT sum(zi * zj) AS cross_zz, sum((xi - xj) * (xi - xj)) AS sq_diff,
         count(*)::BIGINT AS w_sum
  FROM pairs
),
deg AS (
  SELECT sum(d * d) AS sum_deg_sq
  FROM (SELECT gx, gy, count(*) AS d FROM pairs GROUP BY 1, 2)
),
m AS (SELECT sum(zv * zv) AS m2, count(*)::BIGINT AS n_cells FROM z),
f AS (
  SELECT m.n_cells, pa.w_sum,
         (m.n_cells / pa.w_sum) * pa.cross_zz / m.m2 AS morans_i,
         ((m.n_cells - 1) / (2.0 * pa.w_sum)) * pa.sq_diff / m.m2 AS gearys_c,
         -1.0 / (m.n_cells - 1) AS e_i,
         (m.n_cells * m.n_cells * (2.0 * pa.w_sum)
          - m.n_cells * (4.0 * deg.sum_deg_sq)
          + 3.0 * pa.w_sum * pa.w_sum)
         / (pa.w_sum * pa.w_sum * (m.n_cells * m.n_cells - 1))
         - (1.0 / ((m.n_cells - 1) * (m.n_cells - 1))) AS var_i
  FROM m, pa, deg
)
SELECT n_cells, w_sum, round(morans_i, 6) AS morans_i,
       round(gearys_c, 6) AS gearys_c, round(e_i, 6) AS e_i,
       round(var_i, 9) AS var_i,
       round((morans_i - e_i) / sqrt(var_i), 6) AS z_norm
FROM f
"""


@query(_SQL_GLOBAL_MORAN)
def q_global_moran_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global spatial autocorrelation scalars — Moran's I and Geary's C
    with binary queen-contiguity weights over 0.05° grid-cell event
    counts, plus Moran's analytic normality inference (E[I], Var_N[I],
    z) — the global companion to `lisa_moran_events` (lab4 nb cell 21's
    esda local Moran; esda's `Moran`/`Geary` are the global versions a
    spatial analyst runs first). Contiguity materializes as an 8-offset
    integer-cell equi-join (`operators/spatstats.queen_neighbor_pairs`)
    — no distance search, |cells|×8 shuffle rows, scale-safe."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    gx, gy = geo.grid_cell("lat", "lon", 40.5, -74.3, 0.05)
    cells = (
        pts.withColumn("gx", gx)
        .withColumn("gy", gy)
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    out = spatstats.global_moran_geary(cells, "n")
    return out.select(
        "n_cells",
        "w_sum",
        F.round("morans_i", 6).alias("morans_i"),
        F.round("gearys_c", 6).alias("gearys_c"),
        F.round("e_i", 6).alias("e_i"),
        F.round("var_i", 9).alias("var_i"),
        F.round("z_norm", 6).alias("z_norm"),
    )


_RIPLEY_RADII = [0.5, 1.0, 1.5, 2.0, 3.0]
# Naive planar study-area size for the derived-point bbox
# (0.6° lon × 0.5° lat around 40.75°N) — literal shared with the oracle.
_RIPLEY_AREA_KM2 = (0.6 * 111.32 * 0.7576555560963426) * (0.5 * 110.574)


_SQL_RIPLEY = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
pts AS (SELECT DISTINCT lon, lat FROM p),
n AS (SELECT count(*)::BIGINT AS n_pts FROM pts),
pairs AS (
  SELECT 2 * 6371.0 * asin(sqrt(
           pow(sin((radians(b.lat) - radians(a.lat)) / 2), 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * pow(sin((radians(b.lon) - radians(a.lon)) / 2), 2)
         )) AS dist_km
  FROM pts a CROSS JOIN pts b
),
inrange AS (SELECT dist_km FROM pairs
            WHERE dist_km > 0 AND dist_km <= {max(_RIPLEY_RADII)!r}),
r AS (SELECT unnest([{', '.join(repr(float(r)) for r in _RIPLEY_RADII)}]) AS r_km),
c AS (
  SELECT r.r_km,
         (SELECT count(*) FROM inrange WHERE dist_km <= r.r_km)::BIGINT AS n_pairs
  FROM r
)
SELECT c.r_km, c.n_pairs,
       round({_RIPLEY_AREA_KM2!r} * c.n_pairs / (n.n_pts * (n.n_pts - 1)), 6) AS k_hat,
       round(sqrt({_RIPLEY_AREA_KM2!r} * c.n_pairs
                  / (n.n_pts * (n.n_pts - 1)) / 3.141592653589793), 6) AS l_hat
FROM c, n
ORDER BY r_km
"""


@query(_SQL_RIPLEY)
def q_ripley_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K / Besag's L point-pattern statistic at 5 radii over
    the DISTINCT derived event locations (the generator folds event_id
    mod 1000, so distinct-location analysis is the meaningful pattern;
    co-located multiplicities would swamp K). Pair counting uses the
    3×3 covering-cell equi-join (cell 0.04° ≥ 3 km on both axes at
    40.75°N → complete cover), one pass for all radii via conditional
    aggregation (`operators/spatstats.ripley_k`). Naive estimator, no
    edge correction (documented)."""
    pts = (
        _derived_points(_t(spark, sf_dir, "events"))
        .select("lon", "lat")
        .distinct()
    )
    return spatstats.ripley_k(
        pts,
        radii_km=_RIPLEY_RADII,
        area_km2=_RIPLEY_AREA_KM2,
        origin_lat=40.5,
        origin_lon=-74.3,
        cover_cell_deg=0.04,
    ).orderBy("r_km")


_SQL_EMERGING = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
cube AS (
  SELECT CAST(floor((lon - (-74.3)) / 0.05) AS BIGINT) AS gx,
         CAST(floor((lat - 40.5) / 0.05) AS BIGINT) AS gy,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*)::DOUBLE AS n
  FROM p GROUP BY 1, 2, 3
),
s AS (
  SELECT i.gx, i.gy, sum(sign(j.n - i.n))::BIGINT AS s_stat
  FROM cube i JOIN cube j ON i.gx = j.gx AND i.gy = j.gy AND i.day < j.day
  GROUP BY 1, 2
),
nb AS (SELECT gx, gy, count(*)::BIGINT AS n_bins FROM cube GROUP BY 1, 2),
ties AS (
  SELECT gx, gy, sum(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT gx, gy, n, count(*) AS t FROM cube GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
mk AS (
  SELECT s.gx, s.gy, nb.n_bins, s.s_stat,
         (nb.n_bins * (nb.n_bins - 1) * (2 * nb.n_bins + 5) - ties.tie_term)
           / 18.0 AS var_s
  FROM s JOIN nb USING (gx, gy) JOIN ties USING (gx, gy)
  WHERE nb.n_bins >= 5
),
mkz AS (
  SELECT *,
         CASE WHEN var_s <= 0 THEN 0.0
              WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
              WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
              ELSE 0.0 END AS z_mk
  FROM mk
),
totals AS (SELECT gx, gy, sum(n) AS total FROM cube GROUP BY 1, 2),
t AS (SELECT quantile_cont(total, 0.75) AS q75,
             quantile_cont(total, 0.25) AS q25 FROM totals),
banded AS (
  SELECT mkz.*,
         CASE WHEN totals.total >= t.q75 THEN 'hot'
              WHEN totals.total <= t.q25 THEN 'cold'
              ELSE 'mid' END AS band,
         CASE WHEN mkz.z_mk > 1.645 THEN 'increasing'
              WHEN mkz.z_mk < -1.645 THEN 'decreasing'
              ELSE 'flat' END AS trend,
         totals.total
  FROM mkz JOIN totals USING (gx, gy), t
)
SELECT band, trend, count(*)::BIGINT AS n_cells,
       sum(total)::BIGINT AS n_events,
       round(avg(s_stat), 6) AS avg_s, round(avg(z_mk), 6) AS avg_z
FROM banded
GROUP BY 1, 2
ORDER BY band, trend
"""


@query(_SQL_EMERGING)
def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hot-spot analysis (ArcGIS space-time-cube style): 0.05°
    grid × daily-bin event counts → per-cell Mann-Kendall trend test
    (tie-corrected variance, continuity-corrected z;
    `operators/spatstats.mann_kendall_by_key`) + hot/cold banding of
    total cell volume against global quartiles → census per
    (band, trend) class. The i<j day-pair self-join keys on the cell
    id (T ≤ observation days, bounded fan-out per cell). Day index is
    epoch-seconds div 86400 — identical arithmetic on both engines, no
    week-convention risk."""
    pts = _derived_points(_t(spark, sf_dir, "events"))
    gx, gy = geo.grid_cell("lat", "lon", 40.5, -74.3, 0.05)
    day = (F.unix_timestamp("ts") / F.lit(86400)).cast("bigint")
    cube = (
        pts.withColumn("gx", gx)
        .withColumn("gy", gy)
        .withColumn("day", day)
        .groupBy("gx", "gy", "day")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    mk = spatstats.mann_kendall_by_key(cube, ["gx", "gy"], "day", "n").filter(
        F.col("n_bins") >= 5
    )
    totals = cube.groupBy("gx", "gy").agg(F.sum("n").alias("total"))
    thresh = totals.agg(
        F.expr("percentile(total, 0.75)").alias("_q75"),
        F.expr("percentile(total, 0.25)").alias("_q25"),
    )
    banded = (
        mk.join(totals, ["gx", "gy"])
        .crossJoin(F.broadcast(thresh))
        .withColumn(
            "band",
            F.when(F.col("total") >= F.col("_q75"), F.lit("hot"))
            .when(F.col("total") <= F.col("_q25"), F.lit("cold"))
            .otherwise(F.lit("mid")),
        )
        .withColumn(
            "trend",
            F.when(F.col("z_mk") > 1.645, F.lit("increasing"))
            .when(F.col("z_mk") < -1.645, F.lit("decreasing"))
            .otherwise(F.lit("flat")),
        )
    )
    return (
        banded.groupBy("band", "trend")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("total").cast("long").alias("n_events"),
            F.round(F.avg("s_stat"), 6).alias("avg_s"),
            F.round(F.avg("z_mk"), 6).alias("avg_z"),
        )
        .orderBy("band", "trend")
    )


_BPE_N_MERGES = 8


def _sql_bpe_train_parts() -> list[str]:
    """Shared unrolled-BPE-training CTE chain (w0..wN, p/b per round) —
    used by both the merge-table oracle and the encoder oracle."""
    parts = [
        # MATERIALIZED: each w{t} is referenced by both p{t+1} and
        # w{t+1}; DuckDB inlines plain CTEs, which would expand the
        # chain 2^N times (2^8 parquet scans of documents)
        "w0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS cnt,"
        " regexp_replace(word, '(.)', '\\1|', 'g') AS seq"
        " FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)"
        " WHERE word <> '' GROUP BY word)"
    ]
    for t in range(1, _BPE_N_MERGES + 1):
        parts.append(
            f"""p{t} AS MATERIALIZED (
  SELECT l, r, sum(cnt)::BIGINT AS pc FROM (
    SELECT toks[i] AS l, toks[i + 1] AS r, cnt FROM (
      SELECT cnt, toks, unnest(range(1, len(toks))) AS i
      FROM (SELECT cnt, list_filter(string_split(seq, '|'), x -> x <> '') AS toks
            FROM w{t - 1})
    )
  ) GROUP BY l, r
)"""
        )
        parts.append(
            f"b{t} AS (SELECT l, r, pc FROM p{t} ORDER BY pc DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"w{t} AS MATERIALIZED (SELECT word, cnt,"
            f" replace(seq, b.l || '|' || b.r || '|', b.l || b.r || '|') AS seq"
            f" FROM w{t - 1}, b{t} b)"
        )
    return parts


def _sql_bpe() -> str:
    parts = _sql_bpe_train_parts()
    ranks = "\nUNION ALL\n".join(
        f"SELECT {t} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, pc AS pair_count FROM b{t}"
        for t in range(1, _BPE_N_MERGES + 1)
    )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT * FROM (\n{ranks}\n) ORDER BY merge_rank"


@query(_sql_bpe())
def q_bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-merge training over the documents corpus
    (`operators/bpe`): 8 merge rounds on the (word, count) vocabulary —
    pair counting is a hash aggregate per round, the sequence rewrite is
    a codegen'd `replace` on suffix-delimited symbol strings, and the
    only corpus-sized job is the initial word count. The oracle replays
    ALL 8 rounds as unrolled CTEs (argmax with the same
    (count DESC, left, right) tie-break) — full cross-engine replay of
    the iterative fit, like `lloyd_kmeans_clusters`."""
    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe.bpe_train(bpe.word_vocab(docs), _BPE_N_MERGES)
    return bpe.merges_df(spark, merges).orderBy("merge_rank")


_WP_N_MERGES = 8


def _sql_wordpiece() -> str:
    parts = [
        "w0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS cnt,"
        " regexp_replace(word, '(.)', '\\1|', 'g') AS seq"
        " FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)"
        " WHERE word <> '' GROUP BY word)"
    ]
    for t in range(1, _WP_N_MERGES + 1):
        parts.append(
            f"""s{t} AS MATERIALIZED (
  SELECT s, sum(cnt)::BIGINT AS sc FROM (
    SELECT unnest(list_filter(string_split(seq, '|'), x -> x <> '')) AS s, cnt
    FROM w{t - 1}
  ) GROUP BY s
)"""
        )
        parts.append(
            f"""p{t} AS MATERIALIZED (
  SELECT l, r, sum(cnt)::BIGINT AS pc FROM (
    SELECT toks[i] AS l, toks[i + 1] AS r, cnt FROM (
      SELECT cnt, toks, unnest(range(1, len(toks))) AS i
      FROM (SELECT cnt, list_filter(string_split(seq, '|'), x -> x <> '') AS toks
            FROM w{t - 1})
    )
  ) GROUP BY l, r
)"""
        )
        parts.append(
            f"b{t} AS (SELECT p.l, p.r, p.pc,"
            f" p.pc::DOUBLE / (sl.sc::DOUBLE * sr.sc::DOUBLE) AS score"
            f" FROM p{t} p JOIN s{t} sl ON sl.s = p.l JOIN s{t} sr ON sr.s = p.r"
            f" ORDER BY score DESC, p.l, p.r LIMIT 1)"
        )
        parts.append(
            f"w{t} AS MATERIALIZED (SELECT word, cnt,"
            f" replace(seq, b.l || '|' || b.r || '|', b.l || b.r || '|') AS seq"
            f" FROM w{t - 1}, b{t} b)"
        )
    ranks = "\nUNION ALL\n".join(
        f"SELECT {t} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, pc AS pair_count, round(score, 6) AS score_6dp FROM b{t}"
        for t in range(1, _WP_N_MERGES + 1)
    )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT * FROM (\n{ranks}\n) ORDER BY merge_rank"


@query(_sql_wordpiece())
def q_wordpiece_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer-merge training over the documents corpus
    (`operators/bpe.wordpiece_train` — Schuster & Nakajima 2012 /
    BERT's likelihood-gain criterion): 8 rounds on the (word, count)
    vocabulary, each picking argmax of
    ``pair_count / (left_count · right_count)`` instead of BPE's raw
    pair count — so the merge tables genuinely diverge from
    `bpe_merges_docs` on the same corpus. Per round: symbol-count +
    pair-count hash aggregates, two vocab-sized joins, a 1-row argmax
    collect, and the codegen'd suffix-delimited `replace` rewrite.

    The oracle replays ALL 8 rounds as unrolled CTEs. The double
    score is bit-identical cross-engine — both factors are exact
    BIGINT counts cast exactly to double, and IEEE multiply/divide
    are correctly rounded — so the (score DESC, l, r) argmax replays
    exactly; the reported score is rounded 6dp on both sides."""
    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe.wordpiece_train(bpe.word_vocab(docs), _WP_N_MERGES)
    out = bpe.wordpiece_merges_df(spark, merges)
    return out.select(
        "merge_rank", "left_sym", "right_sym", "merged", "pair_count",
        F.round("score", 6).alias("score_6dp"),
    ).orderBy("merge_rank")


_SPAN_W = 8  # tokens per scrub span


_SQL_DUP_SPAN_ISLANDS = """
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, source, t, unnest(range(len(t) - 7)) AS i
  FROM toks WHERE len(t) >= 8
),
grams AS (
  SELECT doc_id, source, i, array_to_string(t[i + 1 : i + 8], ' ') AS g FROM pos
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) > 1),
dpos AS (SELECT doc_id, source, i FROM grams JOIN dup USING (g)),
islands AS (
  SELECT doc_id, source, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
  FROM dpos
),
spans AS (
  SELECT doc_id, source, count(*) + 7 AS span_tokens
  FROM islands GROUP BY doc_id, source, isl
)
SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_spans,
       sum(span_tokens)::BIGINT AS dup_tokens,
       max(span_tokens)::INT AS max_span_tokens
FROM spans GROUP BY source ORDER BY source
"""


@query(_SQL_DUP_SPAN_ISLANDS)
def q_dup_span_islands_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL cross-document duplicated-substring spans — the
    distributed approximation of suffix-array substring dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better": remove repeated substrings ≥50 tokens found via suffix
    arrays): every OVERLAPPING 8-token gram is position-stamped; grams
    appearing in >1 distinct document mark their start positions
    duplicated; consecutive duplicated positions merge into maximal
    runs via gaps-and-islands (i − row_number per doc), each run of
    length r covering a duplicated substring of r+7 tokens. Per-source
    census: affected docs, span count, duplicated token volume, longest
    span. Distinct from `span_dedup_docs` (non-overlapping C4 scrub —
    fixed 8-token blocks, keep-first) — this finds arbitrary-offset
    maximal spans, the suffix-array semantics.

    Scale shape: the gram explode is a map (fan-out ≈ tokens/doc); the
    duplicate census is ONE hash aggregate on xxhash64 of the gram (the
    oracle groups the gram text itself — equivalent modulo 64-bit
    collisions); the islands window is partitioned by doc_id — never
    global. At 100 TB this is exactly the BigQuery/Spark reformulation
    used in practice when true suffix arrays don't fit."""
    # r9: the gram build was an interpreted HOF transform (slice +
    # array_join + hash per gram — CodegenFallback) evaluated TWICE
    # (duplicate census + position join). Rebuilt as the dedup family's
    # codegen'd posexplode + lag window (multi-arg xxhash64 over the
    # 8-token tuple — same duplicate/count semantics as hashing the
    # joined string: tokens can't contain the join delimiter, and the
    # oracle groups the gram TEXT, so a collision surfaces as a
    # mismatch), spread_by(doc_id) BEFORE the token explode (§2.3), and
    # lazily checkpointed so the census and the join read one
    # materialization. i = pos − 7 reproduces the gram-start stamp.
    docs = spr.spread_by(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        "doc_id",
    ).withColumn("_t", F.expr("filter(split(text, ' '), x -> x <> '')"))
    toks = docs.filter(F.expr("size(_t) >= 8")).select(
        "doc_id", "source", F.posexplode("_t").alias("pos", "tok")
    )
    w8 = Window.partitionBy("doc_id").orderBy("pos")
    lagged = toks
    for _k in range(1, _SPAN_W):
        lagged = lagged.withColumn(f"_l{_k}", F.lag("tok", _k).over(w8))
    _lag_cols = [F.col(f"_l{_k}") for _k in range(_SPAN_W - 1, 0, -1)]
    grams = (
        lagged.filter(F.col(f"_l{_SPAN_W - 1}").isNotNull())
        .select(
            "doc_id",
            "source",
            (F.col("pos") - (_SPAN_W - 1)).alias("i"),
            F.xxhash64(*_lag_cols, F.col("tok")).alias("g_h"),
        )
        .localCheckpoint(eager=False)
    )
    dup = (
        grams.groupBy("g_h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("g_h")
    )
    dpos = grams.join(dup, "g_h").select("doc_id", "source", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    islands = dpos.withColumn("isl", F.col("i") - F.row_number().over(w))
    spans = islands.groupBy("doc_id", "source", "isl").agg(
        (F.count(F.lit(1)) + 7).alias("span_tokens")
    )
    return (
        spans.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_tokens").alias("dup_tokens"),
            F.max("span_tokens").cast("int").alias("max_span_tokens"),
        )
        .orderBy("source")
    )


_SQL_SPAN_DEDUP = f"""
WITH sp AS (
  SELECT doc_id, source, u['span_idx']::BIGINT AS span_idx,
         hash(u['span_text']) AS span_h,
         length(u['span_text'])::BIGINT AS span_chars,
         ROW(doc_id, u['span_idx']::BIGINT) AS occ_key
  FROM (
    SELECT doc_id, source,
           unnest([{{'span_idx': i - 1,
                     'span_text': array_to_string(
                       toks[(i-1)*{_SPAN_W}+1:(i-1)*{_SPAN_W}+{_SPAN_W}], ' ')}}
                   for i in range(1, len(toks) // {_SPAN_W} + 1)]) AS u
    FROM (SELECT doc_id, source,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)
  )
),
census AS (
  SELECT span_h, count(*) AS n_occ, min(occ_key) AS keep_key
  FROM sp GROUP BY span_h
),
v AS (
  SELECT sp.*, CASE WHEN sp.occ_key <> c.keep_key THEN 1 ELSE 0 END AS removed
  FROM sp JOIN census c USING (span_h)
),
per_doc AS (
  SELECT doc_id, source, count(*)::BIGINT AS n_spans,
         sum(removed)::BIGINT AS n_removed,
         sum(removed * span_chars)::BIGINT AS chars_removed
  FROM v GROUP BY doc_id, source
)
SELECT source, count(*)::BIGINT AS n_docs, sum(n_spans)::BIGINT AS n_spans,
       sum(n_removed)::BIGINT AS n_removed,
       round(sum(n_removed) / sum(n_spans), 6) AS removed_share,
       sum(chars_removed)::BIGINT AS chars_removed,
       sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_touched
FROM per_doc
GROUP BY source
ORDER BY source
"""


@query(_SQL_SPAN_DEDUP)
def q_span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span scrub (Raffel 2020 §2.2 dedups exact
    three-sentence spans corpus-wide, keeping one occurrence): docs →
    non-overlapping 8-token spans → global span census → every
    occurrence except the first (lexicographic min of the
    (doc_id, span_idx) struct — NOT a scalar composite, which would
    collide for documents with ≥ multiplier spans) is removed;
    per-source scrub manifest.

    Scale shape: span explode is a map (bounded fan-out: tokens/8 per
    doc); the census + keeper-argmin is ONE hash aggregate keyed on the
    span hash (xxhash64 — join carries 8-byte keys, not span text);
    removal verdicts come from the equi-join back on the hash. Distinct
    from `dup_ngram_share_docs` (overlapping-ngram diagnostic): this is
    the *mutating* keep-first scrub with removed-volume accounting."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_toks", F.expr("filter(split(text, ' '), x -> x <> '')")
    )
    spans = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"""CASE WHEN size(_toks) < {_SPAN_W} THEN array()
                ELSE transform(
                  sequence(0, CAST(size(_toks) / {_SPAN_W} AS INT) - 1),
                  i -> struct(
                    i AS span_idx,
                    array_join(slice(_toks, i * {_SPAN_W} + 1, {_SPAN_W}), ' ')
                      AS span_text))
                END"""
            )
        ).alias("_s"),
    ).select(
        "doc_id",
        "source",
        F.col("_s.span_idx").alias("span_idx"),
        F.xxhash64("_s.span_text").alias("span_h"),
        F.length("_s.span_text").alias("span_chars"),
        F.struct(F.col("doc_id"), F.col("_s.span_idx").alias("span_idx")).alias(
            "_occ_key"
        ),
    )
    census = spans.groupBy("span_h").agg(
        F.count(F.lit(1)).alias("n_occ"), F.min("_occ_key").alias("_keep_key")
    )
    verdicts = spans.join(census, "span_h").withColumn(
        "removed", (F.col("_occ_key") != F.col("_keep_key")).cast("int")
    )
    per_doc = verdicts.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("removed").alias("n_removed"),
        F.sum(F.col("removed") * F.col("span_chars")).alias("chars_removed"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_removed").alias("n_removed"),
            F.round(F.sum("n_removed") / F.sum("n_spans"), 6).alias("removed_share"),
            F.sum("chars_removed").alias("chars_removed"),
            F.sum((F.col("n_removed") > 0).cast("long")).alias("docs_touched"),
        )
        .orderBy("source")
    )


_SNM_W = 4  # sorted-neighborhood window (pairs within rank distance w-1)


_SQL_SNM = f"""
WITH d AS (
  SELECT doc_id, lang, toks,
         array_to_string(toks[1:3], ' ') AS snm_key,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE [array_to_string(toks[i:i+2], ' ')
                    for i in range(1, len(toks) - 2 + 1)] END AS sh
  FROM (SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents)
),
r AS (
  SELECT doc_id, lang, sh,
         row_number() OVER (PARTITION BY lang ORDER BY snm_key, doc_id) AS rn
  FROM d
),
pairs AS (
  SELECT a.lang,
         len(list_intersect(a.sh, b.sh))::DOUBLE
           / len(list_distinct(list_concat(a.sh, b.sh))) AS jacc
  FROM r a JOIN r b
    ON a.lang = b.lang AND b.rn > a.rn AND b.rn - a.rn <= {_SNM_W - 1}
)
SELECT lang, count(*)::BIGINT AS n_candidates,
       sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_verified,
       round(avg(jacc), 6) AS avg_jaccard,
       round(max(jacc), 6) AS max_jaccard
FROM pairs
GROUP BY lang
ORDER BY lang
"""


@query(_SQL_SNM)
def q_sorted_neighborhood_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood-method blocking (Hernández & Stolfo 1995) —
    the third blocking family next to LSH banding and prefix blocking:
    sort docs per language by a compound key (first three tokens),
    slide a rank window of 4, verify candidate pairs by 3-token
    shingle Jaccard.

    Scale shape: ranks come from a window partitioned by lang (sort is
    per-partition, not global); the rank-distance < 4 pairing
    runs as an equi-join on floor(rank/(w-1)) buckets with the probe
    side exploded to (bucket, bucket+1) — bounded 2× fan-out, never a
    non-equi range join. At 100 TB the lang partition would be
    augmented with a key-prefix salt; documented in SCALE.md."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_toks", F.expr("filter(split(text, ' '), x -> x <> '')")
    )
    keyed = docs.select(
        "doc_id",
        "lang",
        F.expr("array_join(slice(_toks, 1, 3), ' ')").alias("snm_key"),
        F.expr(
            "CASE WHEN size(_toks) < 3 THEN array(array_join(_toks, ' ')) ELSE "
            "transform(sequence(1, size(_toks) - 2), "
            "i -> array_join(slice(_toks, i, 3), ' ')) END"
        ).alias("_sh"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy("snm_key", "doc_id")
        ),
    )
    w = _SNM_W - 1  # max rank distance
    right = keyed.select(
        "lang",
        F.floor((F.col("rn") - 1) / w).alias("bkt"),
        F.col("rn").alias("rn_j"),
        F.col("doc_id").alias("doc_j"),
        F.col("_sh").alias("sh_j"),
    )
    left = (
        keyed.select(
            "lang",
            F.floor((F.col("rn") - 1) / w).alias("bkt0"),
            F.col("rn").alias("rn_i"),
            F.col("doc_id").alias("doc_i"),
            F.col("_sh").alias("sh_i"),
        )
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(1))).alias("_d")
        )
        .withColumn("bkt", F.col("bkt0") + F.col("_d"))
    )
    pairs = (
        left.join(right, ["lang", "bkt"])
        .filter(
            (F.col("rn_j") > F.col("rn_i"))
            & (F.col("rn_j") - F.col("rn_i") <= w)
        )
        .withColumn(
            "jacc",
            F.size(F.array_intersect("sh_i", "sh_j"))
            / F.size(F.array_union("sh_i", "sh_j")),
        )
        # bucket overlap cannot double-produce a pair: (bkt0, bkt0+1)
        # probes are distinct bucket keys, and rn_j lives in exactly one.
    )
    return (
        pairs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("jacc") >= 0.5).cast("long")).alias("n_verified"),
            F.round(F.avg("jacc"), 6).alias("avg_jaccard"),
            F.round(F.max("jacc"), 6).alias("max_jaccard"),
        )
        .orderBy("lang")
    )


_LPA_ROUNDS = 5


def _sql_lpa() -> str:
    rounds = []
    for k in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""l{k} AS (
  SELECT l.id, coalesce(b.new_label, l.label) AS label
  FROM l{k - 1} l LEFT JOIN (
    SELECT a AS id, nl AS new_label FROM (
      SELECT a, nl,
             row_number() OVER (PARTITION BY a ORDER BY c DESC, nl ASC) AS rk
      FROM (SELECT adj.a, l2.label AS nl, count(*) AS c
            FROM adj JOIN l{k - 1} l2 ON l2.id = adj.b GROUP BY 1, 2)
    ) WHERE rk = 1
  ) b ON b.id = l.id
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH {_SQL_MOD_GRAPH},
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e WHERE src <> dst),
adj AS (SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und),
l0 AS (SELECT DISTINCT a AS id, a AS label FROM adj),
{chain}
SELECT label AS community, count(*)::BIGINT AS n_nodes
FROM l{_LPA_ROUNDS}
GROUP BY label
ORDER BY n_nodes DESC, community
"""


@query(_sql_lpa())
def q_label_propagation_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via deterministic label propagation
    (`graph/algorithms.label_propagation`; min-label tie-break makes
    the randomized algorithm exactly replayable): 5 synchronous rounds
    over the modular graph, then the community census. The oracle
    unrolls every round (neighbor-label count → windowed argmax →
    coalesce fallback) — same full-replay discipline as
    `pagerank_mod`/`lloyd_kmeans_clusters`."""
    labels = ga.label_propagation(_mod_graph_edges(spark), rounds=_LPA_ROUNDS)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("label").alias("community"), "n_nodes")
        .orderBy(F.desc("n_nodes"), "community")
    )


_SQL_HLL = """
WITH words AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
hashed AS (
  SELECT source, h, h % 64 AS bucket, h // 64 AS wbits
  FROM (SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
        FROM words WHERE w <> '')
),
regs AS (
  SELECT source, bucket,
         max(CASE WHEN wbits = 0 THEN 55
                  ELSE 55 - length(bin(wbits)) END) AS m_j
  FROM hashed GROUP BY 1, 2
),
sk AS (
  SELECT source, count(*)::BIGINT AS n_present,
         sum(power(2.0, -m_j)) AS z_present
  FROM regs GROUP BY 1
),
est AS (
  SELECT source, n_present, z_present,
         (0.7213 / (1 + 1.079 / 64.0)) * 64.0 * 64.0
           / (z_present + (64 - n_present)) AS est_raw,
         64 - n_present AS v
  FROM sk
),
fin AS (
  SELECT source,
         CASE WHEN est_raw <= 2.5 * 64 AND v > 0
              THEN 64.0 * ln(64.0 / v) ELSE est_raw END AS e
  FROM est
),
exact AS (
  SELECT source, count(DISTINCT w)::BIGINT AS exact_distinct
  FROM words WHERE w <> '' GROUP BY 1
)
SELECT source, exact_distinct, round(e, 4) AS hll_estimate,
       round((e - exact_distinct) / exact_distinct, 6) AS rel_err
FROM fin JOIN exact USING (source)
ORDER BY source
"""


@query(_SQL_HLL)
def q_hll_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog (Flajolet 2007; the mergeable-sketch
    family member next to `kmv_distinct_sketch`): per-source distinct-
    word estimate with m=64 registers over the engine-portable 60-bit
    md5-prefix hash — bucket = h mod 64, rho = leading zeros of the
    remaining 54-bit field + 1, computed EXACTLY as 55 - bit_length via
    `length(bin(w))` (no float log). Absent buckets are the zero
    registers, so Z and the linear-counting V come from the present-
    bucket aggregate alone — no bucket-range join. Includes the small-
    range linear-counting correction. Graded against exact
    count(DISTINCT) with relative error in the output.

    Scale: sketch state is 64 registers per group — the groupBy carries
    (source, bucket, max rho), mergeable across partitions/streams by
    construction (max is associative); this is the shape of a 100 TB
    distinct-count without the exact count's full shuffle of keys."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint")
    hashed = words.select("source", h.alias("h")).withColumn(
        "bucket", F.col("h") % 64
    ).withColumn("wbits", F.expr("h div 64"))
    regs = (
        hashed.withColumn(
            "rho",
            F.when(F.col("wbits") == 0, F.lit(55)).otherwise(
                F.lit(55) - F.length(F.bin("wbits"))
            ),
        )
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    sk = regs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z_present"),
    )
    alpha = 0.7213 / (1 + 1.079 / 64.0)
    est_raw = F.lit(alpha * 64.0 * 64.0) / (
        F.col("z_present") + (F.lit(64) - F.col("n_present"))
    )
    v = F.lit(64) - F.col("n_present")
    est = F.when(
        (est_raw <= 2.5 * 64) & (v > 0), F.lit(64.0) * F.log(F.lit(64.0) / v)
    ).otherwise(est_raw)
    exact = words.groupBy("source").agg(
        F.countDistinct("w").alias("exact_distinct")
    )
    return (
        sk.join(exact, "source")
        .select(
            "source",
            "exact_distinct",
            F.round(est, 4).alias("hll_estimate"),
            F.round(
                (est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


_MRL_DIMS = [4, 16, 32]


def _sql_trunc_topk(d: int) -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding[1:{d}] AS qv
           FROM embeddings WHERE vec_id < 32),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_dot_product(q.qv::DOUBLE[], b.embedding[1:{d}]::DOUBLE[])
           / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding[1:{d}]::DOUBLE[],
                                      b.embedding[1:{d}]::DOUBLE[]))) AS cosine
  FROM q, embeddings b WHERE b.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id FROM ranked WHERE rn <= 5
"""


def _sql_mrl_recall() -> str:
    rows = "\nUNION ALL\n".join(
        f"""SELECT {d} AS trunc_dim,
       (SELECT count(*) FROM embeddings WHERE vec_id < 32)::BIGINT AS n_queries,
       round(
         (SELECT count(*) FROM ({_sql_trunc_topk(64)}) e
            JOIN ({_sql_trunc_topk(d)}) a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
         / (5.0 * (SELECT count(*) FROM embeddings WHERE vec_id < 32)), 6
       ) AS recall_at_5"""
        for d in _MRL_DIMS
    )
    return f"SELECT * FROM (\n{rows}\n) ORDER BY trunc_dim"


@query(_sql_mrl_recall())
def q_mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati 2022): recall@5
    of cosine top-k computed on PREFIX dims {4, 16, 32} against the
    full 64-dim exact top-5, per truncation width — the measurement
    behind serving embeddings at reduced dimension (the cheap first-
    stage retrieval a 100 TB vector pipeline runs before full-dim
    re-rank). Reuses the proven exact-top-k operator at each width
    (`operators/similarity.cosine_topk_bruteforce(dim=d)` — the cosine
    unrolls over only the first d components, so the narrow widths also
    cost proportionally less compute). Same sum-then-divide recall as
    `ann_recall`."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # All four widths in ONE pass over the pair table (r9, guide §1.2 /
    # §2.4 "share one exchange"): each pair row carries cos_4/16/32/64
    # (the same per-width unrolled `_cosine_sql` prefix dots as the
    # exact-top-k operator — identical fp), and the four rankings are
    # four row_number windows over the SAME query_id hash partitioning:
    # one Exchange instead of four crossJoin+window pipelines, an eager
    # checkpoint, and three rank joins. A pair has _rk{d} ≤ 5 AND
    # _rk64 ≤ 5 exactly iff it sits in both top-5 lists (same tie rule:
    # cosine desc, neighbor_id asc), so the hit counts are identical by
    # construction; recall rounding stays Spark-side HALF_UP.

    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    ).filter(F.col("query_id") < 32)
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_bv")
    )
    pairs = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            *[
                F.expr(sim._cosine_sql("_qv", "_bv", d)).alias(f"_cos{d}")
                for d in (*_MRL_DIMS, 64)
            ],
        )
    )
    wq = Window.partitionBy("query_id")
    ranked = pairs.select(
        "query_id",
        *[
            F.row_number()
            .over(
                wq.orderBy(F.col(f"_cos{d}").desc(), F.col("neighbor_id").asc())
            )
            .alias(f"_rk{d}")
            for d in (*_MRL_DIMS, 64)
        ],
    )
    stats = (
        ranked.filter(F.col("_rk64") <= 5)
        .agg(
            F.countDistinct("query_id").alias("n"),
            *[
                F.sum((F.col(f"_rk{d}") <= 5).cast("bigint")).alias(f"s{d}")
                for d in _MRL_DIMS
            ],
        )
        .collect()[0]
    )
    out = tb.local_frame(
        spark,
        [(d, int(stats["n"]), int(stats[f"s{d}"])) for d in _MRL_DIMS],
        "trunc_dim int, n_queries bigint, s bigint",
    )
    return out.select(
        "trunc_dim",
        "n_queries",
        F.round(F.col("s") / (F.lit(5.0) * F.col("n_queries")), 6).alias(
            "recall_at_5"
        ),
    ).orderBy("trunc_dim")


_SQL_HAUSDORFF = f"""
WITH p AS ({_DERIVED_POINTS_SQL}),
cells AS (
  SELECT DISTINCT user_id,
         CAST(floor((lon - (-74.3)) / 0.05) AS BIGINT) AS gx,
         CAST(floor((lat - 40.5) / 0.05) AS BIGINT) AS gy
  FROM p WHERE user_id < 6
),
cc AS (
  SELECT user_id, gx, gy,
         -74.3 + (gx + 0.5) * 0.05 AS cx,
         40.5 + (gy + 0.5) * 0.05 AS cy
  FROM cells
),
pairs AS (
  SELECT a.user_id AS ua, b.user_id AS ub,
         a.gx AS agx, a.gy AS agy, b.gx AS bgx, b.gy AS bgy,
         2 * 6371.0 * asin(sqrt(
           pow(sin((radians(b.cy) - radians(a.cy)) / 2), 2)
           + cos(radians(a.cy)) * cos(radians(b.cy))
             * pow(sin((radians(b.cx) - radians(a.cx)) / 2), 2)
         )) AS d
  FROM cc a JOIN cc b ON a.user_id < b.user_id
),
fwd AS (
  SELECT ua, ub, max(md) AS h_fwd FROM (
    SELECT ua, ub, agx, agy, min(d) AS md FROM pairs GROUP BY 1, 2, 3, 4
  ) GROUP BY 1, 2
),
bwd AS (
  SELECT ua, ub, max(md) AS h_bwd FROM (
    SELECT ua, ub, bgx, bgy, min(d) AS md FROM pairs GROUP BY 1, 2, 3, 4
  ) GROUP BY 1, 2
)
SELECT fwd.ua AS user_a, fwd.ub AS user_b,
       round(greatest(h_fwd, h_bwd), 6) AS hausdorff_km
FROM fwd JOIN bwd ON fwd.ua = bwd.ua AND fwd.ub = bwd.ub
ORDER BY user_a, user_b
"""


@query(_SQL_HAUSDORFF)
def q_trajectory_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory similarity — symmetric Hausdorff distance between
    user movement footprints, grid-simplified (distinct 0.05° cells per
    user, distances between cell centers): the mobility-mining
    companion to `staypoint_detection`/`user_trajectory_stats`.

    Shape: footprints are DISTINCT cells (bounded by the grid extent,
    not event volume — the simplification IS the scale lever); the
    user-pair roster (u < v over 6 users) is a tiny allowlisted
    non-equi self-join, and the cell-pair stage reaches cells via two
    equi-joins on user id, so fan-out is |A|·|B| per pair with both
    bounded by the grid. Both directed maxima come from the same pair
    table (min-per-a-cell → max, min-per-b-cell → max)."""
    pts = _derived_points(_t(spark, sf_dir, "events")).filter(
        F.col("user_id") < 6
    )
    gx, gy = geo.grid_cell("lat", "lon", 40.5, -74.3, 0.05)
    cells = (
        pts.withColumn("gx", gx)
        .withColumn("gy", gy)
        .select("user_id", "gx", "gy")
        .distinct()
        .withColumn("cx", F.lit(-74.3) + (F.col("gx") + 0.5) * 0.05)
        .withColumn("cy", F.lit(40.5) + (F.col("gy") + 0.5) * 0.05)
    )
    users = cells.select("user_id").distinct()
    roster = (
        users.select(F.col("user_id").alias("ua"))
        .join(
            users.select(F.col("user_id").alias("ub")),
            F.col("ua") < F.col("ub"),
        )
    )
    a = cells.select(
        F.col("user_id").alias("ua"), F.col("gx").alias("agx"),
        F.col("gy").alias("agy"), F.col("cx").alias("ax"),
        F.col("cy").alias("ay"),
    )
    b = cells.select(
        F.col("user_id").alias("ub"), F.col("gx").alias("bgx"),
        F.col("gy").alias("bgy"), F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
    )
    pairs = (
        roster.join(a, "ua")
        .join(b, "ub")
        .withColumn("d", geo.haversine_km("ay", "ax", "by", "bx"))
    )
    h_ab = (
        pairs.groupBy("ua", "ub", "agx", "agy")
        .agg(F.min("d").alias("md"))
        .groupBy("ua", "ub")
        .agg(F.max("md").alias("h_fwd"))
    )
    h_ba = (
        pairs.groupBy("ua", "ub", "bgx", "bgy")
        .agg(F.min("d").alias("md"))
        .groupBy("ua", "ub")
        .agg(F.max("md").alias("h_bwd"))
    )
    return (
        h_ab.join(h_ba, ["ua", "ub"])
        .select(
            F.col("ua").alias("user_a"),
            F.col("ub").alias("user_b"),
            F.round(F.greatest("h_fwd", "h_bwd"), 6).alias("hausdorff_km"),
        )
        .orderBy("user_a", "user_b")
    )


_SQL_ITEM_CF = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
support AS (SELECT l_partkey, count(*)::BIGINT AS sup FROM li GROUP BY 1),
co AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS c_ab
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
sim AS (
  SELECT co.pa, co.pb, co.c_ab,
         co.c_ab / sqrt(sa.sup * sb.sup) AS sim
  FROM co
  JOIN support sa ON sa.l_partkey = co.pa
  JOIN support sb ON sb.l_partkey = co.pb
  WHERE sa.sup >= 3 AND sb.sup >= 3
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pa ORDER BY sim DESC, pb ASC) AS rk
  FROM sim
)
SELECT pa AS part_id, rk AS rank, pb AS partner_id, c_ab AS co_count,
       round(sim, 6) AS cosine_sim
FROM ranked WHERE rk <= 3 AND pa % 200 = 0
ORDER BY part_id, rank
"""


@query(_SQL_ITEM_CF)
def q_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (cosine over order-basket
    co-occurrence — the recommender primitive on top of
    `copurchase_pairs`' raw counts): sim(i,j) = c_ij / √(c_i·c_j),
    top-3 partners per part with support ≥ 3, output restricted to the
    deterministic part_id % 200 = 0 probe set.

    Shape: within-basket pair explode is a self-join on the order key
    (fan-out = items-per-order², bounded by basket size); similarity
    needs only the two support counts joined back by part key; ranking
    is a per-part partitioned window. The probe restriction
    (pa % 200 = 0) is applied to the LEFT side BEFORE the basket
    self-join — c_ab and both supports are unchanged by it, and at
    scale it turns an all-items similarity build into a probe lookup
    (~200× less pair shuffle)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    support = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("sup"))
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa")).filter(
        F.col("pa") % 200 == 0
    )
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    sim = (
        co.join(support.select(F.col("l_partkey").alias("pa"), F.col("sup").alias("sup_a")), "pa")
        .join(support.select(F.col("l_partkey").alias("pb"), F.col("sup").alias("sup_b")), "pb")
        .filter((F.col("sup_a") >= 3) & (F.col("sup_b") >= 3))
        .withColumn("sim", F.col("c_ab") / F.sqrt(F.col("sup_a") * F.col("sup_b")))
    )
    w = Window.partitionBy("pa").orderBy(F.desc("sim"), F.asc("pb"))
    return (
        sim.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("pa").alias("part_id"),
            F.col("rk").alias("rank"),
            F.col("pb").alias("partner_id"),
            F.col("c_ab").alias("co_count"),
            F.round("sim", 6).alias("cosine_sim"),
        )
        .orderBy("part_id", "rank")
    )


_SQL_SAMPLED_QUANTILES = """
WITH li AS (
  SELECT l_extendedprice,
         ('0x' || substr(md5(l_orderkey::VARCHAR || ':' ||
                             l_linenumber::VARCHAR), 1, 15))::BIGINT AS h
  FROM lineitem
),
est AS (
  SELECT quantile_cont(l_extendedprice, 0.5) AS e0,
         quantile_cont(l_extendedprice, 0.9) AS e1,
         quantile_cont(l_extendedprice, 0.99) AS e2,
         count(*)::BIGINT AS n_sample
  FROM li WHERE h % 10 = 0
),
exact AS (
  SELECT quantile_cont(l_extendedprice, 0.5) AS x0,
         quantile_cont(l_extendedprice, 0.9) AS x1,
         quantile_cont(l_extendedprice, 0.99) AS x2,
         count(*)::BIGINT AS n_total
  FROM lineitem
),
rows_q AS (
  SELECT 0.5::DOUBLE AS quantile, e0 AS est, x0 AS exact, n_sample, n_total FROM est, exact
  UNION ALL
  SELECT 0.9::DOUBLE, e1, x1, n_sample, n_total FROM est, exact
  UNION ALL
  SELECT 0.99::DOUBLE, e2, x2, n_sample, n_total FROM est, exact
)
SELECT quantile, n_sample, n_total,
       round(est, 4) AS est_value, round(exact, 4) AS exact_value,
       round((est - exact) / exact, 6) AS rel_err,
       CASE WHEN abs((est - exact) / exact) <= 0.02 THEN 1 ELSE 0 END AS within_band
FROM rows_q
ORDER BY quantile
"""


@query(_SQL_SAMPLED_QUANTILES)
def q_sampled_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation: quantiles {p50, p90, p99} of
    l_extendedprice estimated from a DETERMINISTIC 10% hash sample
    (md5-prefix of the (orderkey, linenumber) row key — the same
    partitioning-independent sampling idiom as the curation operators)
    vs the exact full-data quantiles, with the relative error and an
    ε=0.02 acceptance band per quantile. The pattern a 100 TB engine
    uses to answer percentile queries from a sample with a
    deterministic, replayable sample membership."""
    li = _t(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    sampled = li.withColumn("_h", h).filter(
        F.col("_h") % 10 == 0
    )
    qs = [0.5, 0.9, 0.99]
    est = sampled.agg(
        *[
            F.expr(f"percentile(l_extendedprice, {p})").alias(f"_e{i}")
            for i, p in enumerate(qs)
        ],
        F.count(F.lit(1)).alias("n_sample"),
    )
    exact = li.agg(
        *[
            F.expr(f"percentile(l_extendedprice, {p})").alias(f"_x{i}")
            for i, p in enumerate(qs)
        ],
        F.count(F.lit(1)).alias("n_total"),
    )
    wide = est.crossJoin(F.broadcast(exact))
    per_q = wide.select(
        "n_sample",
        "n_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("q"),
                        F.col(f"_e{i}").alias("est"),
                        F.col(f"_x{i}").alias("exact"),
                    )
                    for i, p in enumerate(qs)
                ]
            )
        ).alias("_s"),
    )
    rel = (F.col("_s.est") - F.col("_s.exact")) / F.col("_s.exact")
    return per_q.select(
        F.col("_s.q").alias("quantile"),
        "n_sample",
        "n_total",
        F.round("_s.est", 4).alias("est_value"),
        F.round("_s.exact", 4).alias("exact_value"),
        F.round(rel, 6).alias("rel_err"),
        (F.abs(rel) <= 0.02).cast("int").alias("within_band"),
    ).orderBy("quantile")


#: sorted-neighborhood half-window for jw_entity_resolution: each probe
#: compares against the ≤2·64 block-mates nearest in name sort order
_JW_SNM_W = 64


_SQL_JW_ER = f"""
WITH blocked AS (
  SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk FROM part
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY blk ORDER BY p_name, p_partkey) AS rnk
  FROM blocked
),
pairs AS (
  SELECT p.p_partkey AS probe_key, c.p_partkey AS cand_key,
         jaro_winkler_similarity(p.p_name, c.p_name) AS jw
  FROM ranked p JOIN ranked c
    ON p.blk = c.blk AND p.p_partkey <> c.p_partkey
   AND abs(p.rnk - c.rnk) <= {_JW_SNM_W}
  WHERE p.p_partkey % 997 = 0
),
ranked2 AS (
  SELECT *, row_number() OVER (PARTITION BY probe_key
              ORDER BY round(jw, 6) DESC, cand_key ASC) AS rk
  FROM pairs
)
SELECT probe_key, cand_key AS best_match_key, round(jw, 6) AS best_jw
FROM ranked2 WHERE rk = 1
ORDER BY probe_key
"""


@query(_SQL_JW_ER)
def q_jw_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution with Jaro-Winkler
    (`functions/strings.jaro_winkler` — the full matching-window /
    transposition / prefix-boost similarity as ONE codegen'd column
    expression; Spark has no built-in): probe parts (p_partkey % 997 =
    0) are matched via blocking + SORTED NEIGHBORHOOD — candidates are
    the parts sharing the probe's first name token (blocking key) AND
    within ±64 positions in the block's (p_name, p_partkey) sort order
    (the classic SNM candidate rule: JW's prefix weighting makes
    lexicographic neighbors the plausible matches) — best partner per
    probe by (similarity DESC, partkey ASC). The oracle computes the
    SAME candidate set and pairs with DuckDB's independent C++
    ``jaro_winkler_similarity`` — a foreign-implementation check.

    Shape (rewritten in round 5 — the sf1 scale sweep measured the
    full-block form at 96x per 10x data, the textbook quadratic-
    blocking blowup): the block rank is one per-block window sort, the
    rank band is an equi-join on (block, rank÷64 bucket) with the probe
    side exploded to 3 buckets + exact |Δrank| ≤ 64 refine — the same
    grid pattern as the spatial DWithin join — so candidate volume is
    probes × ≤129, linear in n. Note: nested higher-order functions
    are NOT whole-stage-codegen'd — the match fold runs on Spark's
    interpreted expression path (~ms per 40-char pair), which is why
    the candidate set must stay bounded per probe."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    blocked = part.withColumn("blk", F.split("p_name", " ").getItem(0))
    wr = Window.partitionBy("blk").orderBy("p_name", "p_partkey")
    ranked = blocked.withColumn("rnk", F.row_number().over(wr))
    cand = ranked.select(
        F.col("p_partkey").alias("cand_key"),
        F.col("p_name").alias("cand_name"),
        "blk",
        F.col("rnk").alias("cand_rnk"),
        F.floor(F.col("rnk") / _JW_SNM_W).alias("bkt"),
    )
    probe = (
        ranked.filter(F.col("p_partkey") % 997 == 0)
        .select(
            F.col("p_partkey").alias("probe_key"),
            F.col("p_name").alias("probe_name"),
            "blk",
            F.col("rnk").alias("probe_rnk"),
        )
        .withColumn("db", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("bkt", F.floor(F.col("probe_rnk") / _JW_SNM_W) + F.col("db"))
        .drop("db")
    )
    pairs = (
        probe.join(cand, ["blk", "bkt"])
        .filter(
            (F.col("probe_key") != F.col("cand_key"))
            & (F.abs(F.col("probe_rnk") - F.col("cand_rnk")) <= _JW_SNM_W)
        )
        .withColumn("jw", strings.jaro_winkler("probe_name", "cand_name"))
    )
    # rank on jw ROUNDED to the compared precision (6dp): the Spark
    # expression and DuckDB's C++ jaro_winkler_similarity agree only to
    # ~1e-9, so raw-float ordering could pick a different best match per
    # engine for near-tied candidates — a data-dependent flaky mismatch.
    w = Window.partitionBy("probe_key").orderBy(
        F.desc(F.round("jw", 6)), F.asc("cand_key")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("probe_key", F.col("cand_key").alias("best_match_key"),
                F.round("jw", 6).alias("best_jw"))
        .orderBy("probe_key")
    )


_SQL_K_ANON = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END AS bal_sign,
         count(*)::BIGINT AS cls
  FROM customer GROUP BY 1, 2, 3
),
banded AS (
  SELECT cls,
         CASE WHEN cls = 1 THEN '1' WHEN cls <= 4 THEN '2-4'
              WHEN cls <= 9 THEN '5-9' ELSE '10+' END AS band
  FROM classes
),
total AS (
  SELECT sum(cls)::BIGINT AS tot, min(cls)::BIGINT AS kmin,
         sum(CASE WHEN cls < 5 THEN cls ELSE 0 END)::BIGINT AS supp
  FROM classes
)
SELECT band, count(*)::BIGINT AS n_classes, sum(cls)::BIGINT AS n_rows,
       round(sum(cls) / tot, 6) AS row_share,
       kmin AS k_min, supp AS suppress_rows_for_k5
FROM banded, total
GROUP BY band, tot, kmin, supp
ORDER BY band
"""


@query(_SQL_K_ANON)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy/data-governance audit — k-anonymity of a quasi-
    identifier tuple (nation, market segment, account-balance sign):
    equivalence-class size histogram, the minimum k, and the
    suppression volume needed to reach k=5. The governance twin of the
    PII scrubber (`pii_scrub_docs`): before a dataset ships to
    training, this is the re-identification-risk gate.

    Shape: one hash aggregate to class sizes, one to the banded
    histogram; the 1-row total joins broadcast. Class keys shuffle
    once; nothing row-level leaves the executors."""
    cust = _t(spark, sf_dir, "customer")
    classes = (
        cust.withColumn(
            "bal_sign", F.when(F.col("c_acctbal") < 0, F.lit("neg")).otherwise(F.lit("nonneg"))
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_sign")
        .agg(F.count(F.lit(1)).alias("cls"))
    )
    banded = classes.withColumn(
        "band",
        F.when(F.col("cls") == 1, F.lit("1"))
        .when(F.col("cls") <= 4, F.lit("2-4"))
        .when(F.col("cls") <= 9, F.lit("5-9"))
        .otherwise(F.lit("10+")),
    )
    total = classes.agg(
        F.sum("cls").alias("_tot"),
        F.min("cls").alias("_kmin"),
        F.sum(F.when(F.col("cls") < 5, F.col("cls")).otherwise(0)).alias("_supp"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("cls").alias("n_rows"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "band",
            "n_classes",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_tot"), 6).alias("row_share"),
            F.col("_kmin").alias("k_min"),
            F.col("_supp").alias("suppress_rows_for_k5"),
        )
        .orderBy("band")
    )


_KCENTER_ROUNDS = 8
#: Row cap of the k-center driver kernel (100k × 64 doubles ≈ 51 MB).
_KCENTER_DRIVER_CAP = 100_000


def _sql_kcenter() -> str:
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e)",
        "d0 AS (SELECT a.vec_id, a.v, a.nv,"
        " 1.0 - list_dot_product(a.v, s.v) / (a.nv * s.nv) AS md"
        " FROM n a, (SELECT v, nv FROM n WHERE vec_id = 0) s)",
    ]
    for t in range(1, _KCENTER_ROUNDS + 1):
        parts.append(
            f"m{t} AS (SELECT vec_id, md FROM d{t - 1}"
            f" ORDER BY md DESC, vec_id ASC LIMIT 1)"
        )
        parts.append(
            f"d{t} AS (SELECT a.vec_id, a.v, a.nv,"
            f" least(a.md, 1.0 - list_dot_product(a.v, s.v) / (a.nv * s.nv)) AS md"
            f" FROM d{t - 1} a,"
            f" (SELECT b.v, b.nv FROM n b, m{t} WHERE b.vec_id = m{t}.vec_id) s)"
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {t} AS sel_round, vec_id, round(md, 6) AS cov_radius FROM m{t}"
        for t in range(1, _KCENTER_ROUNDS + 1)
    )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT * FROM (\n{sel}\n) ORDER BY sel_round"
    )


@query(_sql_kcenter())
def q_kcenter_coreset_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the
    diversity-based data-selection op an embedding-curated training set
    uses, complementary to SemDeDup's redundancy removal): seed at
    vec_id 0, then 8 rounds of 'add the point farthest (cosine
    distance) from the current selection', with the selection radius
    (max min-distance) recorded per round.

    Shape: the running min-distance column is the only per-point state
    (one `least` + 64-term dot per round, all codegen); each round's
    argmax is a 1-row orderBy-limit collect — the fit artifact, like
    Lloyd/BPE. The oracle unrolls all 8 rounds with scalar subqueries
    fetching each selected vector.

    Size dispatch (VERDICT r2 #7, r8 "Next" #6): tables that fit the
    driver (≤ ``_KCENTER_DRIVER_CAP`` rows, `operators/dispatch`) run the whole greedy loop as a
    numpy kernel with bit-identical fp (see the inline note); at real
    corpus scale the table keeps its partitioning, each round
    checkpoints (linear lineage, partial-top-1-then-merge argmax), and
    the unrolled codegen dot runs distributed (whole-stage codegen
    beats any driver transfer once row counts dominate)."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )

    def dot_lit(vec):
        e = F.col("v").getItem(0) * F.lit(vec[0])
        for i in range(1, len(vec)):
            e = e + F.col("v").getItem(i) * F.lit(vec[i])
        return e

    norm_sq = F.col("v").getItem(0) * F.col("v").getItem(0)
    for i in range(1, 64):
        norm_sq = norm_sq + F.col("v").getItem(i) * F.col("v").getItem(i)
    pts = emb.withColumn("nv", F.sqrt(norm_sq))

    # Size dispatch (the Lloyd/BPE/graph driver-kernel convention —
    # VERDICT r8 "Next" #6): the 8 greedy
    # argmax rounds run as a driver-side numpy loop with BIT-IDENTICAL
    # fp — elementwise products + per-row cumsum reproduce the
    # left-associated fold of both the unrolled and the HOF dot (init
    # 0.0+p0 == p0 exactly), np.minimum is `least` on NaN-free doubles,
    # and lexsort((vec_id, -md)) is the (md desc, vec_id asc) orderBy.
    # The former small path paid a seed collect, 2 eager checkpoints, a
    # count, and 8 single-partition interpreted-HOF scan jobs (~12
    # scheduled jobs); now one bounded collect + numpy. The distributed
    # path below is unchanged for inputs past the probe cap.
    tbl = dispatch.driver_rows(emb, _KCENTER_DRIVER_CAP)
    out_rows = []
    if tbl is not None:
        ids = np.array(tbl.column("vec_id").to_pylist(), dtype=np.int64)
        V = np.array(tbl.column("v").to_pylist(), dtype=np.float64)

        def fold_dot(w):
            # left-fold dot of every row against w: cumsum's last column
            # is (((p0 + p1) + p2) + ...) per row — the engine's fp order
            return np.cumsum(V * w, axis=1)[:, -1]

        nv_a = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])

        def md_term(j: int):
            return 1.0 - fold_dot(V[j]) / (nv_a * nv_a[j])

        md_a = md_term(int(np.flatnonzero(ids == 0)[0]))
        for t in range(1, _KCENTER_ROUNDS + 1):
            best = int(np.lexsort((ids, -md_a))[0])
            out_rows.append((t, int(ids[best]), float(md_a[best])))
            md_a = np.minimum(md_a, md_term(best))
    else:
        seed = pts.filter(F.col("vec_id") == 0).collect()[0]
        sv, sn = list(seed["v"]), float(seed["nv"])
        base = pts.localCheckpoint()
        seed_md = F.lit(1.0) - dot_lit(sv) / (F.col("nv") * F.lit(sn))
        cur = base.withColumn("md", seed_md).localCheckpoint()
        for t in range(1, _KCENTER_ROUNDS + 1):
            best = cur.orderBy(F.desc("md"), F.asc("vec_id")).limit(1).collect()[0]
            out_rows.append((t, int(best["vec_id"]), float(best["md"])))
            bv, bn = list(best["v"]), float(best["nv"])
            cur = cur.withColumn(
                "md",
                F.least(
                    F.col("md"), F.lit(1.0) - dot_lit(bv) / (F.col("nv") * F.lit(bn))
                ),
            ).localCheckpoint()
    return tb.local_frame(
        spark, out_rows, "sel_round int, vec_id bigint, cov_radius double"
    ).select(
        "sel_round", "vec_id", F.round("cov_radius", 6).alias("cov_radius")
    ).orderBy("sel_round")


_CLIP_BBOX = (-74.25, -73.85, 40.54, 40.88)


def _sql_polyclip() -> str:
    xmin, xmax, ymin, ymax = _CLIP_BBOX
    passes = polyclip.clip_passes_duckdb(xmin, xmax, ymin, ymax)
    ctes = []
    cur = "poly"
    for n, p_fn in enumerate(passes):
        src = "rings" if n == 0 else f"c{n - 1}"
        # MATERIALIZED: DuckDB inlines chained CTEs by default; each
        # pass references the previous ring ~10x, so inlining grows
        # the plan ~10^4x and the optimizer never returns. A barrier
        # per pass keeps the oracle linear (0.1s vs >2 min hang).
        ctes.append(
            f"c{n} AS MATERIALIZED (SELECT k, poly, {p_fn(cur)} AS p{n} FROM {src})"
        )
        cur = f"p{n}"
    chain = ",\n".join(ctes)
    last = f"c{len(passes) - 1}"
    return f"""
WITH base AS (
  SELECT n_nationkey::INT AS k,
         -74.3 + (n_nationkey % 5) * 0.12 + 0.03 AS cx,
         40.5 + floor(n_nationkey / 5) * 0.1 + 0.02 AS cy,
         0.02 + (n_nationkey % 7) * 0.012 AS r
  FROM nation
),
rings AS (
  SELECT k,
         [{{'x': cx + r * cos(radians(90.0 + i * 72.0)),
            'y': cy + r * sin(radians(90.0 + i * 72.0))}}
          for i in range(0, 5)] AS poly
  FROM base
),
{chain},
clipped_t AS (SELECT k, poly, {cur} AS clipped FROM {last})
SELECT k AS poly_id, len(clipped)::BIGINT AS n_vert_clip,
       round({polyclip.shoelace_area_duckdb('poly')}, 9) AS area_orig,
       round({polyclip.shoelace_area_duckdb('clipped')}, 9) AS area_clip,
       round({polyclip.shoelace_area_duckdb('clipped')}
             / {polyclip.shoelace_area_duckdb('poly')}, 6) AS clip_share
FROM clipped_t
ORDER BY poly_id
"""


@query(_sql_polyclip())
def q_polygon_clip_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-overlay primitive — Sutherland–Hodgman convex-polygon ∩
    bbox clipping with shoelace areas (`functions/polyclip`), lifting
    the engine's overlay support from line segments (J6 Liang-Barsky)
    to areas: 25 deterministic pentagons (one per nation key; center
    and radius are arithmetic in the key) clipped against a fixed
    window; per-polygon original area, clipped area, survival share,
    and clipped vertex count. Oracle builds the identical algorithm
    from DuckDB list comprehensions — rings match vertex-for-vertex.

    Shape: pure per-row expression work (4 unrolled half-plane passes,
    ring length ≤ n+4); composes under the covering-cell equi-join for
    polygon-vs-grid zonal statistics at scale."""
    xmin, xmax, ymin, ymax = _CLIP_BBOX
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("k")
    )
    poly = (
        "transform(sequence(0, 4), i -> named_struct("
        "'x', cx + r * cos(radians(90.0D + i * 72.0D)), "
        "'y', cy + r * sin(radians(90.0D + i * 72.0D))))"
    )
    df = (
        nat.withColumn("cx", F.lit(-74.3) + (F.col("k") % 5) * 0.12 + 0.03)
        .withColumn("cy", F.lit(40.5) + F.floor(F.col("k") / 5) * 0.1 + 0.02)
        .withColumn("r", F.lit(0.02) + (F.col("k") % 7) * 0.012)
        .withColumn("poly", F.expr(poly))
    )
    df = df.withColumn(
        "clipped",
        F.expr(polyclip.clip_polygon_bbox_spark("poly", xmin, xmax, ymin, ymax)),
    )
    # barrier: the downstream select references `clipped`/`poly` five
    # times; without it projection collapse re-inlines the (nested-
    # lambda) clip chain per reference and ANALYSIS time, not runtime,
    # dominates (measured 15 s build → <1 s with the barrier).
    df = df.select("k", "poly", "clipped").localCheckpoint()
    return df.select(
        F.col("k").alias("poly_id"),
        F.expr("size(clipped)").alias("n_vert_clip"),
        F.round(F.expr(polyclip.shoelace_area_spark("poly")), 9).alias("area_orig"),
        F.round(F.expr(polyclip.shoelace_area_spark("clipped")), 9).alias("area_clip"),
        F.round(
            F.expr(polyclip.shoelace_area_spark("clipped"))
            / F.expr(polyclip.shoelace_area_spark("poly")),
            6,
        ).alias("clip_share"),
    ).orderBy("poly_id")


def _sql_zonal() -> str:
    xmin = "(-74.3 + gx * 0.1)"
    xmax = "(-74.3 + (gx + 1) * 0.1)"
    ymin = "(40.5 + gy * 0.1)"
    ymax = "(40.5 + (gy + 1) * 0.1)"
    passes = polyclip.clip_passes_duckdb(xmin, xmax, ymin, ymax)
    ctes, cur = [], "poly"
    for n, p_fn in enumerate(passes):
        src = "cells" if n == 0 else f"z{n - 1}"
        # MATERIALIZED: see _sql_polyclip — prevents exponential CTE
        # inlining across the four chained clip passes.
        ctes.append(
            f"z{n} AS MATERIALIZED (SELECT k, gx, gy, {p_fn(cur)} AS p{n} FROM {src})"
        )
        cur = f"p{n}"
    chain = ",\n".join(ctes)
    last = f"z{len(passes) - 1}"
    return f"""
WITH base AS (
  SELECT n_nationkey::INT AS k,
         -74.3 + (n_nationkey % 5) * 0.12 + 0.03 AS cx,
         40.5 + floor(n_nationkey / 5) * 0.1 + 0.02 AS cy,
         0.02 + (n_nationkey % 7) * 0.012 AS r
  FROM nation
),
rings AS (
  SELECT k, cx, cy, r,
         [{{'x': cx + r * cos(radians(90.0 + i * 72.0)),
            'y': cy + r * sin(radians(90.0 + i * 72.0))}}
          for i in range(0, 5)] AS poly
  FROM base
),
cells AS (
  SELECT k, poly, gx.unnest AS gx, gy.unnest AS gy
  FROM rings,
       unnest(range(floor((cx - r - (-74.3)) / 0.1)::INT,
                    floor((cx + r - (-74.3)) / 0.1)::INT + 1)) AS gx(unnest),
       unnest(range(floor((cy - r - 40.5) / 0.1)::INT,
                    floor((cy + r - 40.5) / 0.1)::INT + 1)) AS gy(unnest)
),
{chain},
areas AS (
  SELECT gx, gy, {polyclip.shoelace_area_duckdb(cur)} AS a FROM {last}
),
per_cell AS (
  SELECT gx, gy, count(*)::BIGINT AS n_polys, sum(a) AS covered
  FROM areas WHERE a > 0 GROUP BY 1, 2
),
totals AS (
  SELECT round(sum(covered), 9) AS total_covered, count(*)::BIGINT AS n_cells
  FROM per_cell
)
SELECT gx, gy, n_polys, round(covered, 9) AS covered_area,
       total_covered AS total_covered_area, n_cells AS n_cells_touched
FROM per_cell, totals
WHERE n_polys >= 2
ORDER BY gx, gy
"""


@query(_sql_zonal())
def q_zonal_polygon_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal polygon coverage — the overlay JOIN shape on top of the
    clip primitive: each pentagon explodes to its covering 0.1° cells
    (bbox-derived integer range, bounded fan-out), is clipped against
    each cell's bbox (`functions/polyclip`), and cells aggregate
    covered area and polygon counts. This is the polygon twin of
    `road_density_grid`'s line overlay: integer cell keys shuffle, the
    clip is per-row map work, no geometry library. Output: per-cell
    covered area for cells touched by ≥ 2 polygons (plus global
    conservation stats in every row — total clipped area must not
    exceed total polygon area)."""
    cell = 0.1
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("k")
    )
    poly = (
        "transform(sequence(0, 4), i -> named_struct("
        "'x', cx + r * cos(radians(90.0D + i * 72.0D)), "
        "'y', cy + r * sin(radians(90.0D + i * 72.0D))))"
    )
    base = (
        nat.withColumn("cx", F.lit(-74.3) + (F.col("k") % 5) * 0.12 + 0.03)
        .withColumn("cy", F.lit(40.5) + F.floor(F.col("k") / 5) * 0.1 + 0.02)
        .withColumn("r", F.lit(0.02) + (F.col("k") % 7) * 0.012)
        .withColumn("poly", F.expr(poly))
    )
    cells = (
        base.withColumn(
            "gx0", F.floor((F.col("cx") - F.col("r") - (-74.3)) / cell).cast("int")
        )
        .withColumn(
            "gx1", F.floor((F.col("cx") + F.col("r") - (-74.3)) / cell).cast("int")
        )
        .withColumn(
            "gy0", F.floor((F.col("cy") - F.col("r") - 40.5) / cell).cast("int")
        )
        .withColumn(
            "gy1", F.floor((F.col("cy") + F.col("r") - 40.5) / cell).cast("int")
        )
        .select(
            "k", "poly",
            F.explode(F.expr("sequence(gx0, gx1)")).alias("gx"),
            "gy0", "gy1",
        )
        .select(
            "k", "poly", "gx",
            F.explode(F.expr("sequence(gy0, gy1)")).alias("gy"),
        )
    )
    # clip each polygon against its cell's bbox; bounds are column-
    # dependent, so inline the cell corners as expressions
    xmin = "(-74.3 + gx * 0.1)"
    xmax = "(-74.3 + (gx + 1) * 0.1)"
    ymin = "(40.5 + gy * 0.1)"
    ymax = "(40.5 + (gy + 1) * 0.1)"
    clip = polyclip.clip_polygon_bbox_spark("poly", xmin, xmax, ymin, ymax)
    clipped = cells.withColumn("clipped", F.expr(clip)).select(
        "k", "gx", "gy", "clipped"
    ).localCheckpoint()
    per_cell = (
        clipped.withColumn("a", F.expr(polyclip.shoelace_area_spark("clipped")))
        .filter(F.col("a") > 0)
        .groupBy("gx", "gy")
        .agg(
            F.count(F.lit(1)).alias("n_polys"),
            F.sum("a").alias("covered"),
        )
    )
    totals = per_cell.agg(
        F.round(F.sum("covered"), 9).alias("_total_covered"),
        F.count(F.lit(1)).alias("_n_cells"),
    )
    return (
        per_cell.filter(F.col("n_polys") >= 2)
        .crossJoin(F.broadcast(totals))
        .select(
            "gx", "gy", "n_polys",
            F.round("covered", 9).alias("covered_area"),
            F.col("_total_covered").alias("total_covered_area"),
            F.col("_n_cells").alias("n_cells_touched"),
        )
        .orderBy("gx", "gy")
    )


_SQL_KM = """
WITH span AS (SELECT max(ts) AS e FROM events),
users AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts FROM events GROUP BY 1
),
lab AS (
  SELECT user_id,
         floor(epoch(last_ts - first_ts) / 86400)::INT AS dur_days,
         CASE WHEN epoch(e) - epoch(last_ts) > 2 * 86400 THEN 1 ELSE 0 END AS died
  FROM users, span
),
n AS (SELECT count(*)::BIGINT AS n_total FROM lab),
days AS (
  SELECT dur_days, count(*)::BIGINT AS n_ending, sum(died)::BIGINT AS d_i
  FROM lab GROUP BY 1
),
km AS (
  SELECT dur_days, n_ending, d_i,
         n_total - coalesce(sum(n_ending) OVER (ORDER BY dur_days
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
  FROM days, n
),
s AS (
  SELECT *, exp(sum(CASE WHEN d_i > 0 THEN ln(1.0 - d_i::DOUBLE / n_at_risk)
                         ELSE 0.0 END)
                OVER (ORDER BY dur_days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            AS survival
  FROM km
)
SELECT dur_days, n_at_risk::BIGINT AS n_at_risk, d_i AS deaths,
       (n_ending - d_i)::BIGINT AS censored, round(survival, 6) AS survival
FROM s
ORDER BY dur_days
"""


@query(_SQL_KM)
def q_kaplan_meier_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator over user
    lifetimes (first event → last event, right-censored at the corpus
    end — the proper-statistics companion to `user_survival_curve`'s
    fixed-horizon table): S(t) = Π_{t_i ≤ t} (1 - d_i / n_i) over
    distinct death days, computed as exp(Σ log(...)) under a running
    window — one aggregate to per-user lifetimes, one to day groups,
    one cumulative window over ≤ observation-span rows."""
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(F.max("ts").alias("_end"))
    users = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(span))
        .withColumn(
            "dur_days",
            F.floor(
                (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts"))
                / 86400
            ).cast("int"),
        )
        # death = last event > 2 days before corpus end; else censored
        .withColumn(
            "died",
            (
                F.unix_timestamp("_end") - F.unix_timestamp("last_ts")
                > 2 * 86400
            ).cast("int"),
        )
    )
    n_total = users.agg(F.count(F.lit(1)).alias("_n")).collect()[0]["_n"]
    days = users.groupBy("dur_days").agg(
        F.count(F.lit(1)).alias("n_ending"),
        F.sum("died").alias("d_i"),
    )
    w = Window.orderBy("dur_days").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("dur_days").rowsBetween(Window.unboundedPreceding, 0)
    km = (
        days.withColumn(
            "n_at_risk", F.lit(n_total) - F.coalesce(F.sum("n_ending").over(w), F.lit(0))
        )
        .withColumn(
            "_lt",
            F.when(
                F.col("d_i") > 0,
                F.log(1.0 - F.col("d_i") / F.col("n_at_risk")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("survival", F.exp(F.sum("_lt").over(wc)))
    )
    return km.select(
        "dur_days",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d_i").cast("long").alias("deaths"),
        (F.col("n_ending") - F.col("d_i")).cast("long").alias("censored"),
        F.round("survival", 6).alias("survival"),
    ).orderBy("dur_days")


_SQL_READABILITY = """
WITH d AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
         length(regexp_replace(text, '[aeiouy]+', '#', 'g'))
           - length(replace(regexp_replace(text, '[aeiouy]+', '#', 'g'),
                            '#', '')) AS sy_raw,
         greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'),
                                     x -> trim(x) <> ''))) AS se
  FROM documents
),
d2 AS (
  SELECT source, w, sy_raw AS sy, se FROM d WHERE w > 0
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg(206.835 - 1.015 * (w / se) - 84.6 * (sy / w)), 6) AS avg_flesch,
       round(avg(0.39 * (w / se) + 11.8 * (sy / w) - 15.59), 6) AS avg_fk_grade,
       round(avg(sy / w), 6) AS avg_syll_per_word
FROM d2
GROUP BY source
ORDER BY source
"""


@query(_SQL_READABILITY)
def q_readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / Flesch-Kincaid grade per source — the
    readability member of the text-quality family (beside
    `quality_score_docs` and `gopher_quality_docs`): syllables
    estimated as vowel-group counts (the standard heuristic), sentences
    as terminal-punctuation runs (min 1), everything as regexp/column
    math on the scan."""
    docs = _t(spark, sf_dir, "documents")
    words = F.size(F.expr("filter(split(text, ' '), x -> x <> '')"))
    # vowel groups can't be adjacent after collapse, so #-count =
    # syllable estimate; same length-difference formula both engines
    syllables = F.expr(
        "length(regexp_replace(text, '[aeiouy]+', '#'))"
        " - length(replace(regexp_replace(text, '[aeiouy]+', '#'), '#', ''))"
    )
    sentences = F.greatest(
        F.lit(1),
        F.size(F.expr("filter(split(text, '[.!?]+'), x -> trim(x) <> '')")),
    )
    d = docs.select(
        "source",
        words.alias("w"),
        syllables.alias("sy"),
        sentences.alias("se"),
    ).filter(F.col("w") > 0)
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("w") / F.col("se"))
        - 84.6 * (F.col("sy") / F.col("w"))
    )
    fk = (
        F.lit(0.39) * (F.col("w") / F.col("se"))
        + 11.8 * (F.col("sy") / F.col("w"))
        - 15.59
    )
    return (
        d.withColumn("flesch", flesch)
        .withColumn("fk", fk)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("flesch"), 6).alias("avg_flesch"),
            F.round(F.avg("fk"), 6).alias("avg_fk_grade"),
            F.round(F.avg(F.col("sy") / F.col("w")), 6).alias("avg_syll_per_word"),
        )
        .orderBy("source")
    )


_SQL_BM25 = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
toks4 AS (SELECT * FROM toks WHERE length(tok) > 3),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks4 GROUP BY doc_id),
stats AS (SELECT count(*)::BIGINT AS n_corpus, avg(dl) AS avgdl FROM dl),
df_tbl AS (
  SELECT tok, count(*)::BIGINT AS df
  FROM (SELECT DISTINCT doc_id, tok FROM toks4) GROUP BY tok
),
qterms AS (SELECT unnest(['spark', 'window', 'merge']) AS tok),
tf_tbl AS (
  SELECT t.doc_id, t.tok, count(*)::BIGINT AS tf
  FROM toks4 t JOIN qterms q ON t.tok = q.tok
  GROUP BY t.doc_id, t.tok
),
scored AS (
  SELECT t.doc_id,
         ln((s.n_corpus - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS w
  FROM tf_tbl t
  JOIN df_tbl d ON t.tok = d.tok
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN stats s
)
SELECT doc_id, round(sum(w), 6) AS bm25, count(*)::BIGINT AS n_terms_hit
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@query(_SQL_BM25)
def q_bm25_retrieval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Spärck Jones; k1=1.2, b=0.75)
    over the corpus for a fixed 3-term query — the lexical-retrieval
    stage of a RAG / hard-negative-mining pipeline, beside the dense
    path (`srp_topk_embeddings`). idf uses the standard
    ln((N - df + 0.5)/(df + 0.5) + 1) form; doc length normalizes
    against the corpus mean.

    Shape: one explode→groupBy for per-doc tf, one for df, doc lengths
    from a groupBy; the 3-row query-term dim and the 1-row (N, avgdl)
    agg both broadcast into the tf fact — the only shuffle is on the
    term key, which at web scale is the inverted-index build shuffle."""
    terms = ["spark", "window", "merge"]
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).filter(F.length("tok") > 3)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.avg("dl").alias("avgdl"),
    )
    df_tbl = (
        toks.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )
    qterms = tb.local_frame(spark, [(t,) for t in terms], "tok string")
    tf_tbl = (
        toks.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    k1, b = 1.2, 0.75
    scored = (
        tf_tbl.join(F.broadcast(df_tbl.join(F.broadcast(qterms), "tok")), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_corpus") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("w"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


_SQL_DP_NOISE = """
WITH counts AS (
  SELECT o_orderpriority, count(*)::BIGINT AS true_n
  FROM orders GROUP BY o_orderpriority
),
seeded AS (
  SELECT *,
         ('0x' || substr(md5('dp#' || o_orderpriority), 1, 13))::BIGINT
           / 4503599627370496.0 - 0.5 AS u
  FROM counts
),
noised AS (
  SELECT o_orderpriority, true_n, u,
         -sign(u) * ln(1.0 - 2.0 * abs(u)) AS noise
  FROM seeded
)
SELECT o_orderpriority, true_n,
       round(noise, 6) AS laplace_noise,
       round(true_n + noise, 6) AS released_n
FROM noised ORDER BY o_orderpriority
"""


@query(_SQL_DP_NOISE)
def q_dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of a count histogram (Laplace
    mechanism, ε=1, sensitivity 1 ⇒ b=1) over order priorities — the
    release gate beside `k_anonymity_audit` for aggregate stats that
    leave the governed boundary. Noise is DETERMINISTIC (seeded by the
    group key through the md5-prefix uniform, the engine's standard
    reproducible-randomness device): u ∈ (-½,½) from 13 hex digits,
    noise = -b·sign(u)·ln(1-2|u|) — the exact inverse-CDF Laplace
    draw, bit-replayable in the oracle.

    Shape: one hash aggregate + per-row scalar math; nothing leaves
    the executors. At 100 TB this is the same plan as a value_counts."""
    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp#"), F.col("o_orderpriority"))), 1, 13),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**13))
        - 0.5
    )
    noised = counts.withColumn("u", u).withColumn(
        "noise",
        -F.signum(F.col("u")) * F.log(1.0 - 2.0 * F.abs(F.col("u"))),
    )
    return noised.select(
        "o_orderpriority",
        "true_n",
        F.round("noise", 6).alias("laplace_noise"),
        F.round(F.col("true_n") + F.col("noise"), 6).alias("released_n"),
    ).orderBy("o_orderpriority")


_SQL_L_DIVERSITY = """
WITH seg AS (
  SELECT c_nationkey,
         CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END AS bal_sign,
         c_mktsegment, count(*)::BIGINT AS seg_n
  FROM customer GROUP BY 1, 2, 3
),
classes AS (
  SELECT c_nationkey, bal_sign,
         count(*)::BIGINT AS l, sum(seg_n)::BIGINT AS cls,
         max(seg_n)::BIGINT AS max_seg
  FROM seg GROUP BY 1, 2
),
total AS (
  SELECT min(l)::BIGINT AS lmin,
         sum(CASE WHEN l < 3 THEN cls ELSE 0 END)::BIGINT AS fail,
         sum(cls)::BIGINT AS tot
  FROM classes
)
SELECT l, count(*)::BIGINT AS n_classes, sum(cls)::BIGINT AS n_rows,
       round(avg(max_seg / cls), 6) AS avg_majority_share,
       lmin AS l_min, fail AS rows_failing_l3,
       round(fail / tot, 6) AS fail_share
FROM classes, total
GROUP BY l, lmin, fail, tot
ORDER BY l
"""


@query(_SQL_L_DIVERSITY)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure companion to
    `k_anonymity_audit`: within each quasi-identifier equivalence
    class (nation × balance sign), how many DISTINCT sensitive values
    (market segment) appear, and what the majority share is. A class
    can be k-anonymous yet leak the sensitive attribute if every
    member shares one segment; this reports the l histogram, the
    minimum l, and rows in classes failing l ≥ 3.

    Shape: two chained hash aggregates (class×segment, then class) +
    a banded rollup with a broadcast 1-row total — value_counts cost."""
    cust = _t(spark, sf_dir, "customer")
    seg = (
        cust.withColumn(
            "bal_sign",
            F.when(F.col("c_acctbal") < 0, F.lit("neg")).otherwise(F.lit("nonneg")),
        )
        .groupBy("c_nationkey", "bal_sign", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("seg_n"))
    )
    classes = seg.groupBy("c_nationkey", "bal_sign").agg(
        F.count(F.lit(1)).alias("l"),
        F.sum("seg_n").alias("cls"),
        F.max("seg_n").alias("max_seg"),
    )
    total = classes.agg(
        F.min("l").alias("_lmin"),
        F.sum(F.when(F.col("l") < 3, F.col("cls")).otherwise(0)).alias("_fail"),
        F.sum("cls").alias("_tot"),
    )
    return (
        classes.groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("cls").alias("n_rows"),
            F.round(F.avg(F.col("max_seg") / F.col("cls")), 6).alias(
                "avg_majority_share"
            ),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "l",
            "n_classes",
            "n_rows",
            "avg_majority_share",
            F.col("_lmin").alias("l_min"),
            F.col("_fail").alias("rows_failing_l3"),
            F.round(F.col("_fail") / F.col("_tot"), 6).alias("fail_share"),
        )
        .orderBy("l")
    )


def _sql_scc() -> str:
    return f"""
WITH RECURSIVE ids AS (SELECT unnest(range(0, {_MOD_N})) AS i),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT i AS src, (2 * i + 1) % {_MOD_N} AS dst FROM ids
    UNION ALL SELECT i, (3 * i + 7) % {_MOD_N} FROM ids
    UNION ALL SELECT i, (i * i + 3) % {_MOD_N} FROM ids
  ) WHERE src <> dst
),
reach(u, v) AS (
  SELECT i, i FROM ids
  UNION
  SELECT r.u, e.dst FROM reach r JOIN edges e ON r.v = e.src
),
mutual AS (
  SELECT f.u AS id, f.v AS m
  FROM reach f JOIN reach r ON f.u = r.v AND f.v = r.u
),
labels AS (SELECT id, min(m) AS scc_id FROM mutual GROUP BY id),
sizes AS (SELECT scc_id, count(*)::BIGINT AS n_nodes FROM labels GROUP BY scc_id),
singles AS (
  SELECT sum(CASE WHEN n_nodes = 1 THEN 1 ELSE 0 END)::BIGINT AS n_single,
         count(*)::BIGINT AS n_sccs
  FROM sizes
)
SELECT scc_id, n_nodes, n_single AS n_singleton_sccs, n_sccs AS n_sccs_total
FROM sizes, singles
WHERE n_nodes > 1
ORDER BY n_nodes DESC, scc_id
"""


@query(_sql_scc())
def q_scc_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed modular graph
    (`graph/algorithms.scc_labels`): multi-pivot FORWARD-BACKWARD
    pivoting (trim → min-id color sweep → within-class backward sweep;
    Fleischer 2000 / Orzan 2004) — Θ(V)+Θ(E) state, never the closure;
    labels = min SCC member. Completes the component family: undirected
    CC (near-dup clusters) and label propagation see only symmetric
    edges; SCC is the directed notion (dependency cycles, link graphs).
    Output: per-SCC sizes for the non-singleton components + the
    singleton census.

    Oracle: DuckDB recursive-CTE closure + mutual-min aggregation — an
    INDEPENDENT algorithm computing the same labels (the closure-based
    anchor also exists Spark-side as `scc_labels_closure`, parity-
    pytested, guarded at 200k pairs). Scale: every FW-BW pass is an
    edge-keyed hash join or aggregate — the web-scale shape."""
    labels = ga.scc_labels(_mod_graph_edges(spark))
    sizes = labels.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n_nodes"))
    singles = sizes.agg(
        F.sum(F.when(F.col("n_nodes") == 1, 1).otherwise(0)).alias("_n_single"),
        F.count(F.lit(1)).alias("_n_sccs"),
    )
    return (
        sizes.filter(F.col("n_nodes") > 1)
        .crossJoin(F.broadcast(singles))
        .select(
            "scc_id",
            "n_nodes",
            F.col("_n_single").alias("n_singleton_sccs"),
            F.col("_n_sccs").alias("n_sccs_total"),
        )
        .orderBy(F.desc("n_nodes"), "scc_id")
    )


_HOLT_ALPHA, _HOLT_BETA = 0.3, 0.1


def _sql_holt() -> str:
    a, b = _HOLT_ALPHA, _HOLT_BETA
    return f"""
WITH RECURSIVE monthly AS (
  SELECT date_trunc('month', o_orderdate) AS mon,
         sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS y
  FROM orders GROUP BY 1
),
m AS (SELECT row_number() OVER (ORDER BY mon) AS rn, mon, y FROM monthly),
h(rn, mon, y, l, b, fit) AS (
  SELECT rn, mon, y, y, CAST(0.0 AS DOUBLE), CAST(NULL AS DOUBLE) FROM m WHERE rn = 1
  UNION ALL
  SELECT m.rn, m.mon, m.y,
         {a} * m.y + {1 - a} * (h.l + h.b),
         {b} * (({a} * m.y + {1 - a} * (h.l + h.b)) - h.l) + {1 - b} * h.b,
         h.l + h.b
  FROM h JOIN m ON m.rn = h.rn + 1
),
sse AS (SELECT sum(round(pow(y - fit, 2))::BIGINT) AS s, count(*)::BIGINT AS n FROM h)
SELECT mon, round(y, 2) AS revenue, round(l, 4) AS level,
       round(b, 4) AS trend, round(fit, 4) AS fitted,
       round(sse.s / sse.n, 2) AS mse_all
FROM h, sse
ORDER BY mon DESC
LIMIT 6
"""


@query(_sql_holt())
def q_holt_trend_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend,
    α=0.3 β=0.1) over monthly revenue — the trend-aware upgrade of
    `ewma_daily_revenue`'s flat EWMA. The recurrence l_t, b_t is a
    sequential scan no window function expresses; here the monthly
    series (bounded: one row per month, exact integer cent sums)
    collapses to ONE sorted array and the scan runs as an `aggregate`
    fold appending per-step states — identical op order to the
    oracle's recursive CTE, so levels/trends/one-step fits replay
    bit-for-bit. Init l₁=y₁, b₁=0 (part of the operator contract).

    Scale: the corpus-sized work is the monthly groupBy (map-side
    partial sums); the fold touches only #months rows. Per-key series
    (forecasting millions of SKUs) would partition the same fold by
    key — the state is O(1) per step either way."""
    a, b = _HOLT_ALPHA, _HOLT_BETA
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    monthly = orders.groupBy(
        F.date_trunc("MONTH", F.col("o_orderdate")).alias("mon")
    ).agg((F.sum(cents) / 100.0).alias("y"))
    arr = monthly.agg(
        F.sort_array(F.collect_list(F.struct("mon", "y"))).alias("s"),
        F.count(F.lit(1)).alias("n_months"),
    )
    st = (
        "named_struct('mon', e.mon, 'y', e.y, "
        f"'l', {a}D * e.y + {1 - a}D * (p.l + p.b), "
        f"'b', {b}D * (({a}D * e.y + {1 - a}D * (p.l + p.b)) - p.l)"
        f" + {1 - b}D * p.b, "
        "'fit', p.l + p.b)"
    )
    fold = (
        "aggregate(s, "
        "array(named_struct('mon', element_at(s, 1).mon, "
        "'y', element_at(s, 1).y, 'l', element_at(s, 1).y, "
        "'b', cast(0.0 as double), 'fit', cast(null as double))), "
        "(acc, e) -> CASE WHEN e.mon = element_at(s, 1).mon THEN acc "
        "ELSE concat(acc, array(element_at(transform("
        f"array(element_at(acc, size(acc))), p -> {st}), 1))) END)"
    )
    states = arr.select(
        F.col("n_months"), F.explode(F.expr(fold)).alias("h")
    )
    # per-month squared residuals are bit-identical cross-engine (y is
    # integer-cent exact, fit replays the fold bit-for-bit), but a raw
    # DOUBLE sum of them is association-ordered — at sf1 the ~1e16-scale
    # SSE differed by 1 ULP between Spark's partial sums and DuckDB's
    # sequential sum, and round(·, 2) is a no-op at that magnitude
    # (found by the sf1 cross-engine slice). Quantize each term to
    # integer units first: bigint sums are order-free on both engines.
    sq = F.round(F.pow(F.col("h.y") - F.col("h.fit"), 2), 0).cast("bigint")
    sse = states.agg(F.sum(sq).alias("_sse"))
    return (
        states.crossJoin(F.broadcast(sse))
        .select(
            F.col("h.mon").alias("mon"),
            F.round("h.y", 2).alias("revenue"),
            F.round("h.l", 4).alias("level"),
            F.round("h.b", 4).alias("trend"),
            F.round("h.fit", 4).alias("fitted"),
            F.round(F.col("_sse") / F.col("n_months"), 2).alias("mse_all"),
        )
        .orderBy(F.desc("mon"))
        .limit(6)
    )


def _sql_bpe_encode() -> str:
    parts = _sql_bpe_train_parts()
    # apply the 8 trained merges to each document in rank order; each
    # d{t} references the previous seq once (linear growth) and pulls
    # its merge pattern from b{t} as scalar subqueries
    parts.append(
        "d0 AS (SELECT doc_id, source,"
        " length(replace(text, ' ', '')) AS n_chars,"
        " length(text) - length(replace(text, ' ', '')) AS n_space,"
        " regexp_replace(text, '(.)', '\\1|', 'g') AS seq"
        " FROM documents)"
    )
    for t in range(1, _BPE_N_MERGES + 1):
        parts.append(
            f"d{t} AS (SELECT doc_id, source, n_chars, n_space,"
            f" replace(seq, (SELECT l || '|' || r || '|' FROM b{t}),"
            f" (SELECT l || r || '|' FROM b{t})) AS seq FROM d{t - 1})"
        )
    last = f"d{_BPE_N_MERGES}"
    ctes = ",\n".join(parts)
    return f"""WITH {ctes},
enc AS (
  SELECT doc_id, source, n_chars,
         (length(seq) - length(replace(seq, '|', ''))) - n_space AS n_tokens
  FROM {last}
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       round(avg(n_tokens), 6) AS avg_tokens_per_doc,
       round(sum(n_chars) / sum(n_tokens), 6) AS chars_per_token
FROM enc GROUP BY source ORDER BY source"""


@query(_sql_bpe_encode())
def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — applying the trained merge table
    (`bpe_merges_docs`' fit artifact) back to the corpus: each doc's
    text is suffix-delimited per char, then every merge rewrites it in
    rank order via `replace` (left-to-right non-overlapping = greedy
    BPE, the training rewrite's own device; merges never contain a
    space, so word boundaries are inert). Per-source token totals,
    tokens/doc, chars/token compression — the tokenizer-throughput
    numbers an LLM-data pipeline reports.

    Scale: train touches only the distinct-word vocabulary; encode is
    ONE codegen'd expression chain (8 replaces) over the corpus — no
    joins, no Python. Oracle: replays training (shared unrolled CTE
    chain) AND the 8-replace encode per doc."""
    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe.bpe_train(bpe.word_vocab(docs), _BPE_N_MERGES)
    # merge patterns as literal COLUMNS (F.replace/F.lit), never
    # interpolated into an expr string: learned symbols can contain
    # quotes AND backslashes, and Spark's SQL parser treats backslash
    # as an escape — '' doubling alone is not enough.
    seq = F.regexp_replace(F.col("text"), "(.)", "$1|")
    for _rank, left, right, merged, _pc in merges:
        seq = F.replace(seq, F.lit(f"{left}|{right}|"), F.lit(f"{merged}|"))
    enc = docs.select(
        "doc_id",
        "source",
        (F.length(seq) - F.length(F.replace(seq, F.lit("|"), F.lit("")))).alias(
            "n_sym"
        ),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        ).alias("n_space"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_chars"
        ),
    ).withColumn("n_tokens", F.col("n_sym") - F.col("n_space"))
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens_per_doc"),
            F.round(F.sum("n_chars") / F.sum("n_tokens"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


_SQL_ORC_SCAN = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 6) AS sum_value
FROM events
WHERE event_type <> 'scroll'
GROUP BY 1, 2
ORDER BY hour, event_type
LIMIT 50
"""


@query(_SQL_ORC_SCAN)
def q_orc_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (columnar-format surface beyond parquet/CSV/
    NDJSON/GeoJSON: Spark's built-in ORC source keeps predicate
    pushdown and column pruning): events write to ORC, re-read with a
    type-range filter, aggregate hourly. The oracle reads the original
    parquet — a match proves the ORC writer/reader round-trips types
    (timestamps, doubles, strings) losslessly."""
    ev = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="orc_scan_")
    path = f"{tmp}/events.orc"
    ev.select("event_id", "ts", "user_id", "event_type", "value").write.mode(
        "overwrite"
    ).orc(path)
    back = spark.read.orc(path).filter(F.col("event_type") != "scroll")
    return (
        back.groupBy(
            F.date_trunc("HOUR", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
        .limit(50)
    )


_SQL_HARD_NEG = """
WITH q AS (
  SELECT vec_id AS probe_id, label AS probe_label, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 211 = 0
),
pairs AS (
  SELECT q.probe_id, q.probe_label, b.vec_id AS negative_id,
         b.label AS neg_label,
         round(list_dot_product(q.qv, b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
  FROM q, embeddings b WHERE b.label <> q.probe_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, negative_id ASC) AS rk
  FROM pairs
)
SELECT probe_id, probe_label, rk AS rank, negative_id,
       neg_label AS negative_label, cosine
FROM ranked WHERE rk <= 3
ORDER BY probe_id, rank
"""


@query(_SQL_HARD_NEG)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding/metric-learning training
    (the contrastive-data op beside `knn_embeddings`): for each probe
    vector, the top-3 MOST similar vectors with a DIFFERENT label —
    "near-misses" that make the strongest negatives (in-batch random
    negatives are too easy; nearest wrong-class items carry gradient).

    Shape: the probe set (vec_id % 211 = 0, pushed-down scan filter)
    broadcasts against the partitioned base; cosine is the unrolled
    codegen'd 64-dim expression; per-probe top-3 via a partitioned
    window over candidates. Ranks on round(cosine, 6) (the JW lesson:
    rank at the compared precision, never on raw floats)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") % 211 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("_qv"),
    )
    b = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("_bv"),
    )

    pairs = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("probe_label"))
        .withColumn("cosine", F.round(F.expr(sim._cosine_sql("_qv", "_bv", 64)), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "probe_id", "probe_label", F.col("rk").alias("rank"),
            "negative_id", F.col("neg_label").alias("negative_label"), "cosine",
        )
        .orderBy("probe_id", "rank")
    )


def _sql_hard_neg_ivf() -> str:
    """Oracle for `hard_negative_mining_ivf`: replays the coarse
    quantizer (the proven _SQL_IVF centers/cells CTEs), both probe
    widths, the label filter, the 6dp re-rank, and the recall/mean
    grading against the exact top-3 anchor."""

    def sel_cte(nprobe: int) -> str:
        return f"""
  SELECT query_id, negative_id, cosine FROM (
    SELECT p.query_id, b.negative_id,
           round(list_dot_product(p.qv, b.bv)
             / (sqrt(list_dot_product(p.qv, p.qv))
                * sqrt(list_dot_product(b.bv, b.bv))), 6) AS cosine,
           row_number() OVER (PARTITION BY p.query_id ORDER BY
             round(list_dot_product(p.qv, b.bv)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(b.bv, b.bv))), 6) DESC,
             b.negative_id ASC) AS rk
    FROM (SELECT vec_id AS query_id, v AS qv, label, cell
          FROM scored WHERE rn <= {nprobe} AND vec_id % 211 = 0) p
    JOIN cells b USING (cell)
    WHERE b.label <> p.label
  ) WHERE rk <= 3"""

    def summary(method: str, cte: str) -> str:
        return f"""
SELECT '{method}' AS method,
       (SELECT count(*) FROM {cte})::BIGINT AS sel_pairs,
       round((SELECT count(*) FROM {cte} s
              JOIN exact3 e ON s.query_id = e.query_id
                           AND s.negative_id = e.negative_id)
             / (SELECT count(*) FROM exact3)::DOUBLE, 6) AS recall_at_3,
       (SELECT round(sum(cosine::DECIMAL(24,6))::DOUBLE / count(*), 6)
        FROM {cte}) AS mean_cosine"""

    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
dims AS (SELECT unnest(range(1, len(v) + 1)) AS i, vec_id FROM emb),
centers AS (
  SELECT label AS cell, list(m ORDER BY i) AS c
  FROM (
    SELECT e.label, d.i, avg(e.v[d.i]) AS m
    FROM emb e JOIN dims d USING (vec_id)
    GROUP BY e.label, d.i
  ) GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.v, e.label, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.v, c.c) DESC, c.cell ASC) AS rn
  FROM emb e CROSS JOIN centers c
),
cells AS (SELECT vec_id AS negative_id, v AS bv, label, cell
          FROM scored WHERE rn = 1),
exact3 AS (
  SELECT query_id, negative_id, cosine FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS negative_id,
           round(list_dot_product(q.v, b.v)
             / (sqrt(list_dot_product(q.v, q.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round(list_dot_product(q.v, b.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) DESC,
             b.vec_id ASC) AS rk
    FROM (SELECT * FROM emb WHERE vec_id % 211 = 0) q
    JOIN emb b ON b.label <> q.label
  ) WHERE rk <= 3
),
sel1 AS ({sel_cte(1)}),
sel3 AS ({sel_cte(3)})
{summary("exact", "exact3")}
UNION ALL
{summary("ivf_nprobe1", "sel1")}
UNION ALL
{summary("ivf_nprobe3", "sel3")}
ORDER BY method
"""


@query(_sql_hard_neg_ivf())
def q_hard_negative_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-DRIVEN hard-negative mining (VERDICT r3 "Next" #4): the
    same mining task as `hard_negative_mining`, but candidates come
    from the IVF coarse quantizer (per-label centroid cells, probes
    expand to their nprobe nearest cells via the integer-cell
    equi-join) instead of an all-pairs probe broadcast — the shape a
    100 TB contrastive-data job needs. The exact variant stays as the
    recall anchor: this query GRADES the index like `ann_recall` does,
    reporting, for nprobe ∈ {1, 3} plus the exact anchor, the selected
    pair count, recall@3 vs the exact top-3, and the mean cosine of
    the selected negatives (how much "hardness" the index keeps).

    Shape: cell assignment is a map over broadcast centroid literals;
    the probe is a cell equi-join; the anchor's cross join is bounded
    by the tiny probe set. Cosines ranked and averaged at 6dp via
    decimal sums — cross-engine exact."""
    # spread: the exact-anchor cosine and the IVF cell sweep are
    # interpreted/codegen-dense per-row maps off a 1-task fixture scan
    # (guide §2.5)
    emb = spr.spread(_t(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probes = emb.filter(F.col("vec_id") % 211 == 0)
    centers = sim.label_centroids(emb, "embedding", "label")

    q = probes.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("_qv"),
    )
    b = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("_bv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    exact3 = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("probe_label"))
        .withColumn("cosine", F.round(F.expr(sim._cosine_sql("_qv", "_bv", 64)), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "negative_id", "cosine")
        .localCheckpoint(eager=False)
    )

    def summary(method: str, sel: DataFrame) -> DataFrame:
        stats = sel.agg(
            F.count(F.lit(1)).cast("bigint").alias("sel_pairs"),
            # 6dp-rounded cosines sum exactly as decimals (order-free)
            F.round(
                F.sum(F.col("cosine").cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_cosine"),
        )
        hits = sel.select("query_id", "negative_id").join(
            exact3.select("query_id", "negative_id"), ["query_id", "negative_id"]
        ).agg(F.count(F.lit(1)).alias("hits"))
        n_exact = exact3.agg(F.count(F.lit(1)).alias("n_exact"))
        return (
            stats.crossJoin(F.broadcast(hits))
            .crossJoin(F.broadcast(n_exact))
            .select(
                F.lit(method).alias("method"),
                "sel_pairs",
                F.round(F.col("hits") / F.col("n_exact"), 6).alias("recall_at_3"),
                "mean_cosine",
            )
        )

    out = summary("exact", exact3)
    # cell-assign the base ONCE behind a lazy checkpoint: both probe
    # widths reuse it instead of re-running the per-row cell sweep
    # (guide §1.2; measured 5.3 → 4.7 s median with the spread above)
    celled = sim.ivf_cell_base(emb, centers).localCheckpoint(eager=False)
    for nprobe in (1, 3):
        sel = sim.hard_negatives_ivf(
            probes, emb, k=3, centers=centers, nprobe=nprobe,
            celled_base=celled,
        ).select("query_id", "negative_id", "cosine")
        out = out.unionByName(summary(f"ivf_nprobe{nprobe}", sel))
    return out.orderBy("method")


_SQL_RRF = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
  ) WHERE length(tok) > 3
),
ptoks AS (SELECT doc_id AS probe_id, tok FROM toks WHERE doc_id IN (0, 1, 2, 3)),
lex AS (
  SELECT p.probe_id, t.doc_id, count(*)::BIGINT AS overlap
  FROM toks t JOIN ptoks p USING (tok)
  WHERE t.doc_id <> p.probe_id
  GROUP BY 1, 2
),
lex_r AS (
  SELECT probe_id, doc_id, row_number() OVER (PARTITION BY probe_id
           ORDER BY overlap DESC, doc_id ASC) AS r_lex
  FROM lex
),
qv AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS v
       FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
dense AS (
  SELECT q.probe_id, b.vec_id AS doc_id,
         round(list_dot_product(q.v, b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos6
  FROM qv q, embeddings b WHERE b.vec_id <> q.probe_id
),
dense_r AS (
  SELECT probe_id, doc_id, row_number() OVER (PARTITION BY probe_id
           ORDER BY cos6 DESC, doc_id ASC) AS r_dense
  FROM dense
),
fused AS (
  SELECT coalesce(l.probe_id, d.probe_id) AS probe_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         l.r_lex, d.r_dense,
         round(coalesce(1.0 / (60 + l.r_lex), 0.0)
               + coalesce(1.0 / (60 + d.r_dense), 0.0), 6) AS rrf
  FROM lex_r l FULL OUTER JOIN dense_r d
    ON l.probe_id = d.probe_id AND l.doc_id = d.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY rrf DESC, doc_id ASC) AS rk
  FROM fused
)
SELECT probe_id, rk AS rank, doc_id, rrf,
       coalesce(r_lex, -1) AS lex_rank, coalesce(r_dense, -1) AS dense_rank
FROM ranked WHERE rk <= 5
ORDER BY probe_id, rank
"""


@query(_SQL_RRF)
def q_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval with Reciprocal Rank Fusion
    (Cormack 2009, k=60) — the standard RAG first stage: for each of 4
    probe documents, (a) a LEXICAL ranking of all docs sharing ≥1
    >3-char token (distinct-overlap count; inverted-index equi-join on
    the token key, never all-pairs) and (b) a DENSE ranking by 64-dim
    cosine (probe broadcast); fuse rrf = Σ 1/(60+rank) over both lists
    (full outer — a doc ranked by only one list gets that one term),
    top-5 per probe.

    Shape: the token join shuffles on the term key (the inverted-index
    build); the dense side is a 4-probe broadcast; both rank windows
    partition by probe. Ranks use integers (overlap counts) or
    round(cosine, 6) — cross-engine stable."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probe_ids = [0, 1, 2, 3]
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).filter(F.length("tok") > 3).distinct()
    ptoks = toks.filter(F.col("doc_id").isin(probe_ids)).select(
        F.col("doc_id").alias("probe_id"), "tok"
    )
    lex = (
        toks.join(F.broadcast(ptoks), "tok")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("probe_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    wl = Window.partitionBy("probe_id").orderBy(F.desc("overlap"), F.asc("doc_id"))
    lex_r = lex.withColumn("r_lex", F.row_number().over(wl)).select(
        "probe_id", "doc_id", "r_lex"
    )
    qv = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("_qv")
    )
    dense = (
        emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("_bv"))
        .crossJoin(F.broadcast(qv))
        .filter(F.col("doc_id") != F.col("probe_id"))
        .withColumn("cos6", F.round(F.expr(sim._cosine_sql("_qv", "_bv", 64)), 6))
    )
    wd = Window.partitionBy("probe_id").orderBy(F.desc("cos6"), F.asc("doc_id"))
    dense_r = dense.withColumn("r_dense", F.row_number().over(wd)).select(
        "probe_id", "doc_id", "r_dense"
    )
    fused = (
        lex_r.join(dense_r, ["probe_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (60 + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_dense")), F.lit(0.0)),
                6,
            ),
        )
    )
    wf = Window.partitionBy("probe_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= 5)
        .select(
            "probe_id",
            F.col("rk").alias("rank"),
            "doc_id",
            "rrf",
            F.coalesce("r_lex", F.lit(-1)).alias("lex_rank"),
            F.coalesce("r_dense", F.lit(-1)).alias("dense_rank"),
        )
        .orderBy("probe_id", "rank")
    )


_SQL_PPL_BUCKETS = """
WITH toks AS (
  SELECT doc_id, source, tok FROM (
    SELECT doc_id, source,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
vocab AS (SELECT tok, count(*)::BIGINT AS tf FROM toks GROUP BY tok),
totals AS (SELECT sum(tf)::BIGINT AS n_tokens, count(*)::BIGINT AS v_size FROM vocab),
scored AS (
  SELECT t.doc_id, t.source,
         round(exp(-avg(ln((v.tf + 1.0) / (tt.n_tokens + tt.v_size)))), 6) AS ppl
  FROM toks t JOIN vocab v USING (tok), totals tt
  GROUP BY t.doc_id, t.source
),
th AS (SELECT round(quantile_cont(ppl, 0.3333333333333333), 6) AS t1,
              round(quantile_cont(ppl, 0.6666666666666666), 6) AS t2 FROM scored)
SELECT source,
       CASE WHEN ppl <= t1 THEN 'head'
            WHEN ppl <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
       count(*)::BIGINT AS n_docs,
       round(sum(ppl::DECIMAL(24,6))::DOUBLE / count(*), 6) AS avg_ppl
FROM scored, th
GROUP BY 1, 2
ORDER BY source, bucket
"""


@query(_SQL_PPL_BUCKETS)
def q_ppl_bucket_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek 2020 splits Common
    Crawl into head/middle/tail by LM perplexity tercile; the bucket
    decides keep/down-sample/drop): per-doc perplexity under the
    corpus-fit add-1 unigram LM (exp of negative mean token logprob,
    the `unigram_logprob_docs` scorer), global tercile thresholds over
    round(ppl, 6), then a source × bucket census with mean perplexity.

    Shape: vocab build + broadcast-join scoring (two token-key
    shuffles), a 1-row threshold broadcast (allowlisted NLJ family),
    one final census aggregate. Thresholds and comparisons both use
    6dp-rounded values so bucket edges are cross-engine exact."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    totals = vocab.agg(
        F.sum("tf").alias("n_tokens"), F.count(F.lit(1)).alias("v_size")
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(totals))
        .groupBy("doc_id", "source")
        .agg(
            F.avg(
                F.log(
                    (F.col("tf") + 1.0)
                    / (F.col("n_tokens") + F.col("v_size")).cast("double")
                )
            ).alias("mean_lp")
        )
        .withColumn("ppl", F.round(F.exp(-F.col("mean_lp")), 6))
    )
    th = scored.agg(
        # thresholds rounded to 6dp like ppl itself — an unrounded
        # interpolated percentile can differ in the last bit between
        # Spark and DuckDB and flip a doc sitting ON a bucket edge
        F.round(F.expr("percentile(ppl, 0.3333333333333333)"), 6).alias("t1"),
        F.round(F.expr("percentile(ppl, 0.6666666666666666)"), 6).alias("t2"),
    )
    banded = scored.crossJoin(F.broadcast(th)).withColumn(
        "bucket",
        F.when(F.col("ppl") <= F.col("t1"), "head")
        .when(F.col("ppl") <= F.col("t2"), "middle")
        .otherwise("tail"),
    )
    return (
        banded.groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # ppl is 6dp-rounded, so decimal sums are exact and
            # order-free — the one final division replays cross-engine
            F.round(
                F.sum(F.col("ppl").cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_ppl"),
        )
        .orderBy("source", "bucket")
    )


_SQL_KN_BIGRAM_PPL = """
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2
),
pos AS (
  SELECT doc_id, source, t, unnest(range(len(t) - 1)) AS i FROM toks
),
bigrams AS (
  SELECT doc_id, source, t[i + 1] AS v, t[i + 2] AS w FROM pos
),
cvw AS (
  SELECT v, w, count(*)::BIGINT AS c_vw FROM bigrams
  WHERE doc_id % 7 <> 0 GROUP BY v, w
),
cv AS (
  SELECT v, sum(c_vw)::BIGINT AS c_v, count(*)::BIGINT AS n1p_v
  FROM cvw GROUP BY v
),
n1pw AS (SELECT w, count(*)::BIGINT AS n1p_w FROM cvw GROUP BY w),
n1all AS (SELECT count(*)::BIGINT AS n1p_all FROM cvw),
scored AS (
  SELECT b.doc_id, b.source,
         CASE WHEN cv.c_v IS NOT NULL THEN
           (greatest(coalesce(cvw.c_vw, 0)::DOUBLE - 0.75, 0.0)
            + 0.75 * cv.n1p_v::DOUBLE
              * coalesce(n1pw.n1p_w::DOUBLE / a.n1p_all::DOUBLE,
                         1.0 / a.n1p_all::DOUBLE))
           / cv.c_v::DOUBLE
         ELSE coalesce(n1pw.n1p_w::DOUBLE / a.n1p_all::DOUBLE,
                       1.0 / a.n1p_all::DOUBLE)
         END AS p,
         CASE WHEN cvw.c_vw IS NULL THEN 1 ELSE 0 END AS unseen
  FROM bigrams b
  LEFT JOIN cvw ON cvw.v = b.v AND cvw.w = b.w
  LEFT JOIN cv ON cv.v = b.v
  LEFT JOIN n1pw ON n1pw.w = b.w
  CROSS JOIN n1all a
  WHERE b.doc_id % 7 = 0
),
per_doc AS (
  SELECT doc_id, source,
         round(exp(-(sum(round(ln(p), 6)::DECIMAL(24,6))::DOUBLE / count(*))), 6)
           AS ppl,
         count(*)::BIGINT AS nb, sum(unseen)::BIGINT AS n_unseen
  FROM scored GROUP BY doc_id, source
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(sum(ppl::DECIMAL(24,6))::DOUBLE / count(*), 6) AS avg_ppl,
       round(sum(n_unseen)::DOUBLE / sum(nb)::DOUBLE, 6) AS unseen_share
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_KN_BIGRAM_PPL)
def q_kn_bigram_ppl_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney BIGRAM language-model perplexity — the
    honest scaled-down of CCNet's 5-gram KenLM quality scorer (the
    `ppl_bucket_census` unigram LM upgraded to a real smoothed
    conditional model): train on doc_id % 7 ≠ 0 (7 is coprime with the 20-source round-robin, so every source is scored), score the held-out
    docs. Per eval bigram (v, w):
      P(w|v) = (max(c(v,w) − 0.75, 0) + 0.75·N1+(v·)·Pcont(w)) / c(v)
    with Pcont(w) = N1+(·w)/N1+(··), backing off to Pcont(w) when the
    context v is unseen and to 1/N1+(··) when w itself is novel.
    Per-source report: docs scored, decimal-mean perplexity, and the
    unseen-bigram share (the OOV pressure a curation run monitors).

    Cross-engine exactness: every count is integer; each bigram's
    log-prob rounds to 6dp and sums as DECIMAL(24,6) (order-free, the
    ppl_bucket_census edge rule applied one level deeper); per-doc ppl
    rounds 6dp before the source-level decimal mean. Shape: word-keyed
    hash aggregates + equi-joins (v, w keys), one 1-row broadcast for
    N1+(··) — the KenLM training layout on a shuffle engine."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", tx.tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 2)
    )
    bigrams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                """transform(sequence(0, size(t) - 2),
                     i -> struct(element_at(t, i + 1) AS v,
                                 element_at(t, i + 2) AS w))"""
            )
        ).alias("b"),
    ).select("doc_id", "source", F.col("b.v").alias("v"), F.col("b.w").alias("w"))
    train = bigrams.filter(F.col("doc_id") % 7 != 0)
    test = bigrams.filter(F.col("doc_id") % 7 == 0)
    cvw = train.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c_vw"))
    cv = cvw.groupBy("v").agg(
        F.sum("c_vw").alias("c_v"), F.count(F.lit(1)).alias("n1p_v")
    )
    n1pw = cvw.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_w"))
    n1all = cvw.agg(F.count(F.lit(1)).alias("n1p_all"))
    scored = (
        test.join(cvw, ["v", "w"], "left")
        .join(cv, "v", "left")
        .join(n1pw, "w", "left")
        .crossJoin(F.broadcast(n1all))
        .withColumn(
            "pcont",
            F.coalesce(
                F.col("n1p_w").cast("double") / F.col("n1p_all").cast("double"),
                F.lit(1.0) / F.col("n1p_all").cast("double"),
            ),
        )
        .withColumn(
            "p",
            F.when(
                F.col("c_v").isNotNull(),
                (
                    F.greatest(
                        F.coalesce(F.col("c_vw"), F.lit(0)).cast("double") - 0.75,
                        F.lit(0.0),
                    )
                    + F.lit(0.75) * F.col("n1p_v").cast("double") * F.col("pcont")
                )
                / F.col("c_v").cast("double"),
            ).otherwise(F.col("pcont")),
        )
        .withColumn("lp", F.round(F.log("p"), 6).cast("decimal(24,6)"))
        .withColumn("unseen", F.when(F.col("c_vw").isNull(), 1).otherwise(0))
    )
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.sum("lp").alias("s"),
        F.count(F.lit(1)).alias("nb"),
        F.sum("unseen").alias("n_unseen"),
    ).withColumn(
        "ppl",
        F.round(F.exp(-(F.col("s").cast("double") / F.col("nb"))), 6),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("ppl").cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_ppl"),
            F.round(
                F.sum("n_unseen").cast("double") / F.sum("nb").cast("double"), 6
            ).alias("unseen_share"),
        )
        .orderBy("source")
    )


_SQL_GOPHER_REPETITION = """
WITH docs AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 5
),
base AS (
  SELECT doc_id, source,
         list_sum(list_transform(t, w -> length(w)))::BIGINT AS char_total
  FROM docs
),
g2pos AS (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM docs),
g2 AS (
  SELECT doc_id, array_to_string(t[i + 1 : i + 2], ' ') AS g, count(*) AS c
  FROM g2pos GROUP BY doc_id, g
),
top2 AS (
  SELECT doc_id,
         max_by(c * (length(g) - 1), c * 100000 + (length(g) - 1)) AS top2_chars
  FROM g2 GROUP BY doc_id
),
g5pos AS (SELECT doc_id, t, unnest(range(len(t) - 4)) AS i FROM docs),
g5 AS (
  SELECT doc_id, array_to_string(t[i + 1 : i + 5], ' ') AS g, count(*) AS c
  FROM g5pos GROUP BY doc_id, g
),
dup5 AS (
  SELECT doc_id,
         sum(CASE WHEN c >= 2 THEN c * (length(g) - 4) ELSE 0 END)::BIGINT
           AS dup5_chars
  FROM g5 GROUP BY doc_id
),
per_doc AS (
  SELECT b.source,
         round(t2.top2_chars / b.char_total::DOUBLE, 6) AS top2_share,
         round(d5.dup5_chars / b.char_total::DOUBLE, 6) AS dup5_share
  FROM base b JOIN top2 t2 USING (doc_id) JOIN dup5 d5 USING (doc_id)
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN top2_share > 0.20 THEN 1 ELSE 0 END)::BIGINT AS n_fail_top2,
       sum(CASE WHEN dup5_share > 0.15 THEN 1 ELSE 0 END)::BIGINT AS n_fail_dup5,
       round(sum(top2_share::DECIMAL(24,6))::DOUBLE / count(*), 6) AS avg_top2_share,
       round(sum(dup5_share::DECIMAL(24,6))::DOUBLE / count(*), 6) AS avg_dup5_share
FROM per_doc GROUP BY source ORDER BY source
"""


@query(_SQL_GOPHER_REPETITION)
def q_gopher_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher WITHIN-document repetition filters (Rae et al. 2021
    Table A1 — the family `gopher_rules` does NOT cover): per doc
    (≥5 tokens), (a) top-2-gram share = chars covered by the most
    frequent word 2-gram (count × non-space chars, argmax tie-broken
    by covered chars) / total token chars, threshold 0.20; (b)
    duplicated-5-gram share = chars of every occurrence of 5-grams
    appearing ≥2× within the doc / total token chars (the standard
    overlap-agnostic approximation), threshold 0.15. Per-source
    report: docs, failures per rule, decimal-mean shares.

    Shape: two gram explodes (map), counts keyed on (doc_id, gram) —
    doc-local keys, no windows, no cross-doc joins; per-source rollup.
    Shares are ratios of exact integers rounded 6dp; means sum as
    DECIMAL(24,6) (order-free)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", tx.tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 5)
        .withColumn(
            "char_total", F.expr("aggregate(t, 0L, (a, w) -> a + length(w))")
        )
    )

    def gram_counts(n: int):
        return (
            docs.select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"""transform(sequence(0, size(t) - {n}),
                             i -> array_join(slice(t, i + 1, {n}), ' '))"""
                    )
                ).alias("g"),
            )
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("chars", F.length("g") - (n - 1))
        )

    top2 = gram_counts(2).groupBy("doc_id").agg(
        F.expr("max_by(c * chars, c * 100000 + chars)").alias("top2_chars")
    )
    dup5 = gram_counts(5).groupBy("doc_id").agg(
        F.sum(F.when(F.col("c") >= 2, F.col("c") * F.col("chars")).otherwise(0)).alias(
            "dup5_chars"
        )
    )
    per_doc = (
        docs.select("doc_id", "source", "char_total")
        .join(top2, "doc_id")
        .join(dup5, "doc_id")
        .withColumn(
            "top2_share",
            F.round(F.col("top2_chars") / F.col("char_total").cast("double"), 6),
        )
        .withColumn(
            "dup5_share",
            F.round(F.col("dup5_chars") / F.col("char_total").cast("double"), 6),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("top2_share") > 0.20).cast("int")).alias("n_fail_top2"),
            F.sum((F.col("dup5_share") > 0.15).cast("int")).alias("n_fail_dup5"),
            F.round(
                F.sum(F.col("top2_share").cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_top2_share"),
            F.round(
                F.sum(F.col("dup5_share").cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_dup5_share"),
        )
        .orderBy("source")
    )


def _sql_quality_funnel() -> str:
    r = tx.gopher_rules_sql("text")
    rules = [
        "word_count_ok", "mean_word_len_ok", "alpha_share_ok",
        "symbol_ratio_ok", "common_words_ok",
    ]
    arms = " ".join(
        f"WHEN NOT {r[name]} THEN '{i}_{name[:-3]}'"
        for i, name in enumerate(rules, start=1)
    )
    return f"""
WITH scored AS (
  SELECT source, length(text)::BIGINT AS n_chars_t,
         CASE {arms} ELSE 'kept' END AS stage
  FROM documents
)
SELECT source, stage, count(*)::BIGINT AS n_docs,
       sum(n_chars_t)::BIGINT AS n_chars
FROM scored GROUP BY 1, 2 ORDER BY source, stage
"""


@query(_sql_quality_funnel())
def q_quality_funnel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter FUNNEL ATTRIBUTION (the FineWeb/RefinedWeb
    operational report): the Gopher rule chain applied in a fixed
    order, each document attributed to its FIRST failing rule — per
    source, how many docs and characters die at each stage and what
    share survives. `gopher_quality_docs` reports marginal per-rule
    pass counts; this is the ordered-pipeline view an iteration on
    filter thresholds actually needs (which stage do I loosen?).

    Shape: one projection computing the rule struct, one CASE for the
    first-fail stage, one census aggregate — single corpus pass, no
    joins."""
    rules = [
        "word_count_ok", "mean_word_len_ok", "alpha_share_ok",
        "symbol_ratio_ok", "common_words_ok",
    ]
    docs = _t(spark, sf_dir, "documents")
    # materialize the rule struct behind an exchange barrier before the
    # first-fail CASE: each CASE arm's field access would otherwise be
    # re-inlined to the full rule expression (tokenize + HOF folds) by
    # SimplifyExtractValueOps — the hex_density lesson (4.6 s → ~1 s)
    g = tx.gopher_rules("text")
    bound = docs.select(
        "source", F.length("text").alias("n_chars_t"), g.alias("g")
    ).repartition(32)
    gc = F.col("g")
    stage = F.when(~gc["word_count_ok"], "1_word_count")
    for i, r in enumerate(rules[1:], start=2):
        stage = stage.when(~gc[r], f"{i}_{r[:-3]}")
    stage = stage.otherwise("kept")
    scored = bound.select("source", "n_chars_t", stage.alias("stage"))
    return (
        scored.groupBy("source", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_t").alias("n_chars"),
        )
        .orderBy("source", "stage")
    )


_SQL_DOMAIN_MIX = """
WITH per_src AS (
  SELECT source,
         sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS tokens
  FROM documents GROUP BY source
),
weighted AS (
  SELECT source, tokens,
         (1 + CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) % 3)::DOUBLE AS w_raw
  FROM per_src
),
tot AS (SELECT sum(tokens)::BIGINT AS tok_total, sum(w_raw) AS w_total FROM weighted),
a AS (
  SELECT w.*, w.w_raw / t.w_total AS weight, t.tok_total / 2.0 AS budget,
         least(1.0, (t.tok_total / 2.0) * (w.w_raw / t.w_total) / w.tokens) AS rate0
  FROM weighted w, tot t
),
redis AS (
  SELECT sum(CASE WHEN rate0 >= 1.0 THEN budget * weight - tokens ELSE 0.0 END) AS leftover,
         sum(CASE WHEN rate0 < 1.0 THEN w_raw ELSE 0.0 END) AS w_unsat
  FROM a
)
SELECT source, tokens, round(weight, 6) AS weight,
       round(CASE WHEN rate0 >= 1.0 THEN 1.0
                  ELSE least(1.0, rate0 + r.leftover * (w_raw / r.w_unsat) / tokens)
             END, 6) AS rate,
       CAST(floor(round(CASE WHEN rate0 >= 1.0 THEN 1.0
                             ELSE least(1.0, rate0 + r.leftover * (w_raw / r.w_unsat) / tokens)
                        END, 6) * tokens) AS BIGINT) AS alloc_tokens
FROM a, redis r
ORDER BY source
"""


@query(_SQL_DOMAIN_MIX)
def q_domain_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix token budgeting (the DoReMi/The-Pile static
    mixture-weight planning step): given per-source target weights
    (deterministic: w = 1 + source_index mod 3, normalized) and a
    budget of half the corpus tokens, compute each source's sampling
    rate = min(1, budget·w / tokens), then ONE water-filling
    redistribution round: budget unused by saturated sources (rate
    capped at 1) is re-split across unsaturated ones in proportion to
    their weights. Output: per-source tokens, weight, final rate,
    allocated tokens — the sampling plan a corpus-mixing job executes.

    Shape: one token-count aggregate per source, then 1-row broadcasts
    for the totals and the redistribution terms (allowlisted NLJ
    family) — the plan is corpus-size-independent after the first
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(tx.tokens(F.col("text")))).alias("tokens")
    )
    widx = F.regexp_replace("source", "[^0-9]", "").cast("int") % 3
    weighted = per_src.withColumn("w_raw", (1 + widx).cast("double"))
    tot = weighted.agg(
        F.sum("tokens").alias("tok_total"), F.sum("w_raw").alias("w_total")
    )
    a = (
        weighted.crossJoin(F.broadcast(tot))
        .withColumn("weight", F.col("w_raw") / F.col("w_total"))
        .withColumn("budget", F.col("tok_total") / 2.0)
        .withColumn(
            "rate0",
            F.least(F.lit(1.0), F.col("budget") * F.col("weight") / F.col("tokens")),
        )
    )
    redis = a.agg(
        F.sum(F.when(F.col("rate0") >= 1.0, F.col("budget") * F.col("weight") - F.col("tokens")).otherwise(F.lit(0.0))).alias("leftover"),
        F.sum(F.when(F.col("rate0") < 1.0, F.col("w_raw")).otherwise(F.lit(0.0))).alias("w_unsat"),
    )
    out = (
        a.crossJoin(F.broadcast(redis))
        .withColumn(
            "rate",
            F.when(F.col("rate0") >= 1.0, F.lit(1.0)).otherwise(
                F.least(
                    F.lit(1.0),
                    F.col("rate0")
                    + F.col("leftover")
                    * (F.col("w_raw") / F.col("w_unsat"))
                    / F.col("tokens"),
                )
            ),
        )
        # floor() over the 6dp-rounded rate: leftover is an
        # order-dependent double sum, and an unrounded rate*tokens
        # straddling an integer would flip alloc_tokens by 1
        # cross-engine; rounding first makes both engines see the
        # identical double (ppl_bucket_census's edge rule)
        .withColumn(
            "alloc_tokens",
            F.floor(F.round(F.col("rate"), 6) * F.col("tokens")).cast("bigint"),
        )
    )
    return out.select(
        "source",
        "tokens",
        F.round("weight", 6).alias("weight"),
        F.round("rate", 6).alias("rate"),
        "alloc_tokens",
    ).orderBy("source")


_SQL_TEMPERATURE_MIX = """
WITH per_src AS (
  SELECT source,
         sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
sq AS (
  SELECT source, n_tokens,
         round(sqrt(n_tokens::DOUBLE), 6)::DECIMAL(24,6) AS sq
  FROM per_src
),
tot AS (SELECT sum(n_tokens) AS tok_total, sum(sq) AS sq_total FROM sq)
SELECT source, n_tokens,
       round(n_tokens::DOUBLE / tok_total::DOUBLE, 6) AS nat_share,
       round(sq::DOUBLE / sq_total::DOUBLE, 6) AS temp_share,
       CAST(floor(round(sq::DOUBLE / sq_total::DOUBLE, 6) * 1000000.0) AS BIGINT)
         AS alloc_tokens,
       round(CAST(floor(round(sq::DOUBLE / sq_total::DOUBLE, 6) * 1000000.0) AS BIGINT)::DOUBLE
             / n_tokens::DOUBLE, 6) AS epochs
FROM sq, tot
ORDER BY source
"""


@query(_SQL_TEMPERATURE_MIX)
def q_temperature_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (the mT5/XLM-R low-resource
    upsampling scheme: sample source s with probability ∝ share_s^α,
    α = 0.5): per-source token counts → natural share → α-tempered
    share sqrt(tokens)/Σ sqrt(tokens) → expected allocation under a
    1M-token budget → effective epochs (alloc/tokens — >1 means the
    source is upsampled, the quantity UniMax caps). Complements
    `domain_mix_budget` (explicit target weights + water-filling);
    this is the closed-form temperature family.

    Cross-engine exactness: α = 0.5 keeps the tempering on sqrt()
    (correctly-rounded IEEE — pow() is not), each sqrt rounds to 6dp
    and sums as DECIMAL(24,6) (order-free), and alloc floors over the
    6dp-rounded share (the ppl_bucket_census edge rule). Shape: one
    per-source aggregate + a 1-row broadcast — corpus-size-independent
    after the first aggregate."""
    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(tx.tokens(F.col("text")))).alias("n_tokens")
    )
    sq = per_src.withColumn(
        "sq", F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast("decimal(24,6)")
    )
    tot = sq.agg(
        F.sum("n_tokens").alias("tok_total"), F.sum("sq").alias("sq_total")
    )
    return (
        sq.crossJoin(F.broadcast(tot))
        .withColumn("nat_share", F.round(F.col("n_tokens") / F.col("tok_total"), 6))
        .withColumn(
            "temp_share",
            F.round(
                F.col("sq").cast("double") / F.col("sq_total").cast("double"), 6
            ),
        )
        .withColumn(
            "alloc_tokens",
            F.floor(F.col("temp_share") * 1000000.0).cast("bigint"),
        )
        .withColumn(
            "epochs",
            F.round(F.col("alloc_tokens") / F.col("n_tokens"), 6),
        )
        .select(
            "source", "n_tokens", "nat_share", "temp_share", "alloc_tokens", "epochs"
        )
        .orderBy("source")
    )


_SQL_SELF_BLEU = r"""
WITH base AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
b2 AS (SELECT doc_id, source, toks, len(toks) AS n FROM base WHERE len(toks) >= 2),
pairs AS (
  SELECT * FROM (
    SELECT doc_id AS pair_id, source, toks AS ctoks, n AS clen,
           lead(toks) OVER w AS rtoks, lead(n) OVER w AS rlen
    FROM b2 WINDOW w AS (PARTITION BY source ORDER BY doc_id)
  ) WHERE rlen IS NOT NULL
),
c1 AS (SELECT pair_id, u.g, count(*)::BIGINT AS c
       FROM pairs, unnest(ctoks) AS u(g) GROUP BY 1, 2),
r1 AS (SELECT pair_id, u.g, count(*)::BIGINT AS r
       FROM pairs, unnest(rtoks) AS u(g) GROUP BY 1, 2),
c2 AS (SELECT pair_id, u.g, count(*)::BIGINT AS c
       FROM pairs, unnest(list_transform(range(1, len(ctoks)),
                                          i -> ctoks[i] || ' ' || ctoks[i+1])) AS u(g)
       GROUP BY 1, 2),
r2 AS (SELECT pair_id, u.g, count(*)::BIGINT AS r
       FROM pairs, unnest(list_transform(range(1, len(rtoks)),
                                          i -> rtoks[i] || ' ' || rtoks[i+1])) AS u(g)
       GROUP BY 1, 2),
s1 AS (SELECT c1.pair_id, sum(least(c1.c, coalesce(r1.r, 0)))::BIGINT AS clip1,
              sum(c1.c)::BIGINT AS den1
       FROM c1 LEFT JOIN r1 USING (pair_id, g) GROUP BY 1),
s2 AS (SELECT c2.pair_id, sum(least(c2.c, coalesce(r2.r, 0)))::BIGINT AS clip2,
              sum(c2.c)::BIGINT AS den2
       FROM c2 LEFT JOIN r2 USING (pair_id, g) GROUP BY 1),
m AS (
  SELECT p.source,
         round(clip1 / den1::DOUBLE, 6) AS p1,
         round(clip2 / den2::DOUBLE, 6) AS p2,
         round(least(1.0, exp(1.0 - rlen / clen::DOUBLE)), 6) AS bp,
         round(clip1 / rlen::DOUBLE, 6) AS r1m
  FROM pairs p JOIN s1 USING (pair_id) JOIN s2 USING (pair_id)
),
m2 AS (
  SELECT source,
         round(CASE WHEN p1 > 0 AND p2 > 0 THEN bp * sqrt(p1 * p2)
                    ELSE 0.0 END, 6) AS bleu2,
         round(CASE WHEN p1 + r1m > 0 THEN 2.0 * p1 * r1m / (p1 + r1m)
                    ELSE 0.0 END, 6) AS rouge1_f
  FROM m
)
SELECT source, count(*)::BIGINT AS n_pairs,
       round(sum(bleu2::DECIMAL(24,6))::DOUBLE / count(*), 6) AS mean_self_bleu2,
       round(sum(rouge1_f::DECIMAL(24,6))::DOUBLE / count(*), 6) AS mean_rouge1_f
FROM m2 GROUP BY source ORDER BY source
"""


@query(_SQL_SELF_BLEU)
def q_self_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DIVERSITY via self-BLEU (Zhu 2018, Texygen: high
    self-BLEU = the corpus repeats itself — a generation/curation
    health metric) plus ROUGE-1 F, on deterministic consecutive-doc
    pairs (candidate doc vs the NEXT doc of the same source in doc_id
    order; both ≥2 tokens). Per pair: clipped modified 1/2-gram
    precisions, brevity penalty, BLEU-2 = BP·√(p1·p2), ROUGE-1
    recall/F; per source: pair count + decimal-exact means.

    Shape: the pairing is one lead() window partitioned by source;
    gram counting is explode → (pair, gram) hash aggregates → an
    inverted-index equi-join on the gram key — never all-pairs, the
    LSH-family shuffle shape. All ratios round to 6dp before the
    decimal mean (ppl_bucket_census edge rule); exp/sqrt land on
    identical doubles cross-engine at that precision."""
    docs = _t(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", "source", tx.tokens(F.col("text")).alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .filter(F.col("n_tok") >= 2)
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        base.select(
            F.col("doc_id").alias("pair_id"),
            "source",
            F.col("toks").alias("ctoks"),
            F.col("n_tok").alias("clen"),
            F.lead("toks").over(w).alias("rtoks"),
            F.lead("n_tok").over(w).alias("rlen"),
        )
        .filter(F.col("rlen").isNotNull())
        # consumed by four gram-count jobs + the length frame
        .localCheckpoint(eager=False)
    )

    def bigrams(col: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(col) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(col, i), F.element_at(col, i + 1)
            ),
        )

    def clipped(cg: Column, rg: Column, tag: str) -> DataFrame:
        c = (
            pairs.select("pair_id", F.explode(cg).alias("g"))
            .groupBy("pair_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        r = (
            pairs.select("pair_id", F.explode(rg).alias("g"))
            .groupBy("pair_id", "g")
            .agg(F.count(F.lit(1)).alias("r"))
        )
        return (
            c.join(r, ["pair_id", "g"], "left")
            .groupBy("pair_id")
            .agg(
                F.sum(
                    F.least(F.col("c"), F.coalesce(F.col("r"), F.lit(0)))
                ).alias(f"clip{tag}"),
                F.sum("c").alias(f"den{tag}"),
            )
        )

    g1 = clipped(F.col("ctoks"), F.col("rtoks"), "1")
    g2 = clipped(bigrams(F.col("ctoks")), bigrams(F.col("rtoks")), "2")
    m = (
        pairs.select("pair_id", "source", "clen", "rlen")
        .join(g1, "pair_id")
        .join(g2, "pair_id")
        .withColumn("p1", F.round(F.col("clip1") / F.col("den1"), 6))
        .withColumn("p2", F.round(F.col("clip2") / F.col("den2"), 6))
        .withColumn(
            "bp",
            F.round(
                F.least(
                    F.lit(1.0), F.exp(F.lit(1.0) - F.col("rlen") / F.col("clen"))
                ),
                6,
            ),
        )
        .withColumn(
            "bleu2",
            F.round(
                F.when(
                    (F.col("p1") > 0) & (F.col("p2") > 0),
                    F.col("bp") * F.sqrt(F.col("p1") * F.col("p2")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn("r1", F.round(F.col("clip1") / F.col("rlen"), 6))
        .withColumn(
            "rouge1_f",
            F.round(
                F.when(
                    F.col("p1") + F.col("r1") > 0,
                    2.0 * F.col("p1") * F.col("r1") / (F.col("p1") + F.col("r1")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("bleu2").cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_self_bleu2"),
            F.round(
                F.sum(F.col("rouge1_f").cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_rouge1_f"),
        )
        .orderBy("source")
    )


_SQL_ZIPF = r"""
WITH tf AS (
  SELECT source, tok, count(*)::BIGINT AS freq
  FROM (
    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY 1, 2
),
totals AS (
  SELECT source, count(*)::BIGINT AS vocab, sum(freq)::BIGINT AS tokens_total
  FROM tf GROUP BY source
),
ranked AS (
  SELECT source, row_number() OVER (PARTITION BY source
           ORDER BY freq DESC, tok ASC) AS rnk, freq
  FROM tf QUALIFY rnk <= 100
),
xy AS (
  SELECT source,
         round(ln(rnk), 9)::DECIMAL(20,9) AS x,
         round(ln(freq), 9)::DECIMAL(20,9) AS y,
         round(round(ln(rnk), 9) * round(ln(freq), 9), 9)::DECIMAL(20,9) AS xy,
         round(round(ln(rnk), 9) * round(ln(rnk), 9), 9)::DECIMAL(20,9) AS xx
  FROM ranked
),
fit AS (
  SELECT source, count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
         sum(xy) AS sxy, sum(xx) AS sxx
  FROM xy GROUP BY source
)
SELECT f.source, t.vocab, t.tokens_total,
       round(t.vocab / t.tokens_total::DOUBLE, 6) AS ttr,
       round((f.n * f.sxy::DOUBLE - f.sx::DOUBLE * f.sy::DOUBLE)
             / (f.n * f.sxx::DOUBLE - f.sx::DOUBLE * f.sx::DOUBLE), 6)
         AS zipf_slope
FROM fit f JOIN totals t USING (source)
ORDER BY source
"""


@query(_SQL_ZIPF)
def q_zipf_slope_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health Zipf diagnostics per source (the Gopher paper
    reports rank-frequency slope as a quality signal): least-squares
    slope of ln(freq) on ln(rank) over the top-100 terms, plus vocab
    size, token total, and type-token ratio.

    Shape: term frequencies are one token-key aggregate; the per-source
    top-100 uses the SAME bucketed partial top-k as the KMV fix —
    per-(source, crc32-bucket) partial top-100 arrays merged per source
    (two bounded aggregates, never a vocab-wide sort window). Ranks
    come from the merged array's positions (posexplode — deterministic:
    freq desc, term asc); regression moments quantize ln values to 9dp
    decimals BEFORE summing so the 100-term sums are order-free and
    cross-engine exact."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    totals = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("freq").cast("bigint").alias("tokens_total"),
    )
    # bucketed partial top-100 (freq desc, tok asc) merged per source
    part = tf.groupBy(
        "source", F.pmod(F.crc32(F.encode("tok", "UTF-8")), F.lit(32)).alias("b")
    ).agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct((-F.col("freq")).alias("nf"), "tok"))
            ),
            1,
            100,
        ).alias("mins")
    )
    top = part.groupBy("source").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("mins"))), 1, 100
        ).alias("mins")
    )
    ranked = top.select(
        "source", F.posexplode("mins").alias("pos", "e")
    ).select(
        "source",
        (F.col("pos") + 1).alias("rank"),
        (-F.col("e.nf")).alias("freq"),
    )
    xy = ranked.select(
        "source",
        F.round(F.log(F.col("rank").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 9).alias("y"),
    ).select(
        "source",
        F.col("x").cast("decimal(20,9)").alias("x"),
        F.col("y").cast("decimal(20,9)").alias("y"),
        F.round(F.col("x") * F.col("y"), 9).cast("decimal(20,9)").alias("xy"),
        F.round(F.col("x") * F.col("x"), 9).cast("decimal(20,9)").alias("xx"),
    )
    fit = xy.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"), F.sum("xx").alias("sxx"),
    )
    return (
        fit.join(totals, "source")
        .select(
            "source",
            "vocab",
            "tokens_total",
            F.round(F.col("vocab") / F.col("tokens_total"), 6).alias("ttr"),
            F.round(
                (
                    F.col("n") * F.col("sxy").cast("double")
                    - F.col("sx").cast("double") * F.col("sy").cast("double")
                )
                / (
                    F.col("n") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                ),
                6,
            ).alias("zipf_slope"),
        )
        .orderBy("source")
    )


_SQL_TOKENIZER_FERTILITY = r"""
WITH t AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS ws,
         len(regexp_split_to_array(
               trim(regexp_replace(text, '([^a-zA-Z0-9\s])', ' \1 ', 'g')),
               '\s+'))::BIGINT AS bpe,
         length(text)::BIGINT AS chars
  FROM documents
)
SELECT lang, count(*)::BIGINT AS n_docs, sum(ws)::BIGINT AS words,
       sum(bpe)::BIGINT AS subword_tokens, sum(chars)::BIGINT AS n_chars,
       round(sum(bpe) / sum(ws)::DOUBLE, 6) AS fertility,
       round(sum(chars) / sum(bpe)::DOUBLE, 6) AS chars_per_token
FROM t GROUP BY lang ORDER BY lang
"""


@query(_SQL_TOKENIZER_FERTILITY)
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-health report per language (the standard fertility /
    compression diagnostics a multilingual-corpus job reviews before
    committing a tokenizer): whitespace words, sub-word-ish tokens
    (`text.bpe_ish_token_count` — letter/digit runs + punctuation
    marks, the deterministic BPE stand-in), characters; fertility =
    subword tokens per word, chars-per-token = compression. High
    fertility on a language flags tokenizer mismatch (over-splitting).

    Shape: one projection + one hash aggregate over the corpus — pure
    codegen'd regexp/split column work, no joins, no Python."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            tx.token_count("text").alias("ws"),
            tx.bpe_ish_token_count("text").alias("bpe"),
            F.length("text").cast("bigint").alias("chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ws").alias("words"),
            F.sum("bpe").alias("subword_tokens"),
            F.sum("chars").alias("n_chars"),
            F.round(F.sum("bpe") / F.sum("ws").cast("double"), 6).alias(
                "fertility"
            ),
            F.round(F.sum("chars") / F.sum("bpe").cast("double"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


_SQL_SPLIT_LEAKAGE = f"""
WITH docs AS (SELECT doc_id, {_CLEAN_SQL} AS ct FROM documents),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM (SELECT doc_id, string_split(ct, ' ') AS toks FROM docs)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
),
assign AS (
  SELECT doc_id,
         CASE WHEN (doc_id * 2654435761) % 20 < 18 THEN 'train'
              WHEN (doc_id * 2654435761) % 20 = 18 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
labeled AS (
  SELECT least(sa.split, sb.split) AS split_a,
         greatest(sa.split, sb.split) AS split_b
  FROM pairs p
  JOIN assign sa ON sa.doc_id = p.doc_a
  JOIN assign sb ON sb.doc_id = p.doc_b
)
SELECT split_a, split_b, count(*)::BIGINT AS n_pairs,
       split_a <> split_b AS is_leak
FROM labeled GROUP BY 1, 2 ORDER BY split_a, split_b
"""


@query(_SQL_SPLIT_LEAKAGE)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE AUDIT (the eval-integrity check a
    curation pipeline runs before shipping a split): docs are assigned
    90/5/5 splits by engine-portable integer hash
    ((doc_id·2654435761) mod 20 — the lab-4 bucket convention), then
    every MinHash-LSH near-duplicate pair (Jaccard ≥ 0.8, the proven
    `minhash_near_dup_docs` machinery) is classified by the split pair
    it straddles. A near-dup crossing train→test is memorized eval
    data; the audit reports pair counts per (split, split) cell with
    the leak flag.

    Shape: split assignment is a map; the pair generation is the LSH
    integer band-hash shuffle (never all-pairs); the split join-back
    is two broadcast-size equi-joins on doc id."""
    docs = _t(spark, sf_dir, "documents")
    b = (F.col("doc_id") * F.lit(2654435761)) % 20
    split = (
        F.when(b < 18, "train").when(b == 18, "val").otherwise("test")
    )
    assign = docs.select("doc_id", split.alias("split"))
    pairs = dd.minhash_near_dup_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.8, num_hashes=64, bands=32
    ).select("doc_a", "doc_b")
    labeled = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
    )
    return (
        labeled.groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn("is_leak", F.col("split_a") != F.col("split_b"))
        .orderBy("split_a", "split_b")
    )
