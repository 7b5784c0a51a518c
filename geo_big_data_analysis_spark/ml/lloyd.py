"""Deterministic distributed Lloyd's KMeans — the package's one k-means
(M3: the reference's event clusters and Lab-2 KMeans zones).

Reference parity target: sklearn/Spark-ML KMeans used for event
clustering (实习一 DBSCAN/KMeans comparisons; SURVEY §2.9 M3). Spark
ML's k-means|| init is seeded RNG inside the JVM that no external
oracle can replay, so the package fits every k-means here instead,
with each arithmetic step chosen so an independent engine (the
driver's DuckDB oracle, `plans/registry._sql_lloyd_ctes`) reproduces
bit-equal centroids:

- **Integer coordinates in, exact centroids out.** Inputs are bigint
  coords, so each cluster's coordinate sum is an exact bigint and the
  centroid is one double division `sum/count` — identical IEEE-754
  result in Python, Spark, and DuckDB (exact while |sum| < 2⁵³; at
  larger scale switch the sums to decimal(38)).
- **Deterministic init**: the k points with smallest id, in id order
  (a distributed TakeOrderedAndProject — no RNG, no single-partition
  sort).
- **Deterministic assignment**: squared distance written as the
  left-folded per-coordinate sum (x−cx)·(x−cx) + (y−cy)·(y−cy) + … in
  both engines (no pow(), no reassociation), ties broken by lowest
  center index.
- **Fixed iteration count** (no data-dependent convergence test), and
  empty clusters keep their previous center.

Two point layouts share one fit skeleton (`_fit`): `lloyd_kmeans` over
one bigint column per coordinate, and `lloyd_kmeans_vec` over a bigint
ARRAY column, whose argmin keeps a d=64 plan small. Execution shape =
the classic Spark KMeans loop: points localCheckpoint once; per
iteration one codegen'd argmin projection + one hash agg collecting k
(or k·d) rows to the driver; centers re-enter as literals. Nothing
O(rows) ever reaches the driver past `LLOYD_DRIVER_CAP`; up to it the
fit runs as a numpy kernel on the probe rows (`operators/dispatch`).
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import dispatch
from ..operators.spread import spread

#: Below this row count the center-update loop runs as a numpy driver
#: kernel (r9 — the kcenter/graph bounded-dispatch convention): every
#: Lloyd iteration otherwise pays a scheduled job whose collect returns
#: only k (or k·d) aggregate rows, plus an interpreted zip_with argmin
#: at the vec layout. The kernel is bit-identical: distances are the
#: same left-associated folds (`_sq_dists`), np.argmin takes the first
#: minimum (the lowest-cid tie break), and centroid updates stay exact
#: integer sums divided in Python. The labeled output and all
#: downstream consumers keep reading the CHECKPOINTED distributed
#: table; past the cap the per-iteration
#: aggregate loop in `_fit` runs instead — at real scale the
#: collect-k-rows loop is the right shape, the driver kernel only
#: removes per-round scheduling overhead on bounded fits. The probe is
#: `operators/dispatch.driver_rows`, whose Arrow transfer moves a
#: cap-sized table in ~50 ms where Row objects cost ~1-2 s.
LLOYD_DRIVER_CAP = 100_000


def _sq_dists(XT, centers: list[list[float]]):
    """(rows × k) squared distances of the points whose coordinate
    columns are the rows of ``XT`` (d × rows, float64): per center, the
    left fold t0 + t1 + … of tj = (xj − cj)², in the order the
    distributed argmin adds its terms."""
    D = np.empty((XT.shape[1], len(centers)))
    for i, c in enumerate(centers):
        acc = (XT[0] - c[0]) ** 2
        for col, cv in zip(XT[1:], c[1:]):
            acc += (col - cv) ** 2
        D[:, i] = acc
    return D


def _centers_driver_nd(ids, X, k: int, iters: int) -> list[list[float]]:
    """Numpy center-update kernel — bit-identical to the distributed
    loop (see LLOYD_DRIVER_CAP note): distances via per-coordinate
    left-fold (`_sq_dists`), first-minimum argmin (lowest-cid tie
    break), exact int64 sums divided as Python ints, empty clusters
    keep their center, init = k smallest ids (``iters=0`` is the init
    alone)."""
    if len(ids) < k:
        raise ValueError(f"need at least k={k} points, got {len(ids)}")
    XT = np.ascontiguousarray(X.T, dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    centers = [[float(v) for v in X[j]] for j in order[:k]]
    for _ in range(iters):
        cid = np.argmin(_sq_dists(XT, centers), axis=1)
        new = []
        for i in range(k):
            m = cid == i
            cnt = int(m.sum())
            if cnt:
                new.append([int(s) / cnt for s in X[m].sum(axis=0)])
            else:
                new.append(centers[i])
        centers = new
    return centers


def _fit(
    pts: DataFrame,
    k: int,
    iters: int,
    matrix: Callable,
    argmin: Callable[[list[list[float]]], Column],
    round_sums: Callable[[DataFrame], dict],
) -> tuple[DataFrame, list[list[float]]]:
    """The fit skeleton both layouts run. ``pts`` is (id, coordinates…);
    ``matrix(pdf)`` is a pandas frame of it as an int64 (rows × d)
    array, ``argmin(centers)`` the nearest-center column, and
    ``round_sums(df)`` one distributed round's {cid: (coordinate sums,
    count)} over ``df`` carrying a ``cid`` column. Returns (points
    labeled with ``cluster_id`` under the FINAL centers, final centers).

    ``spread`` first: the fixtures arrive as single-row-group parquet
    files → a 1-task scan → every iteration's argmin ran on ONE core
    (guide §2.5). Round-robin keeps results exact, since every later
    step is an integer-sum aggregate or an argmin projection. Measured
    on lloyd_kmeans@sf0.1: 3.8→2.5 s."""
    pts = spread(pts).localCheckpoint()
    tbl = dispatch.driver_rows(pts, LLOYD_DRIVER_CAP)
    if tbl is not None:
        pdf = tbl.to_pandas()
        centers = _centers_driver_nd(pdf["id"].to_numpy(dtype=np.int64), matrix(pdf), k, iters)
    else:
        init = pts.orderBy("id").limit(k).toPandas()
        centers = _centers_driver_nd(init["id"].to_numpy(dtype=np.int64), matrix(init), k, 0)
        for _ in range(iters):
            got = round_sums(pts.withColumn("cid", argmin(centers)))
            centers = [
                [s / got[i][1] for s in got[i][0]] if i in got else centers[i]
                for i in range(k)
            ]
    return pts.withColumn("cluster_id", argmin(centers)), centers


def _nearest(dists: list[Column]) -> Column:
    """Index of the smallest of ``dists``: sort k (dist, cid) structs,
    take field 0 — a native SortArray over a k-element array (no
    interpreted lambda, stays in codegen); equal distances sort by cid,
    so the lowest index wins a tie."""
    structs = [F.struct(d.alias("d"), F.lit(i).alias("cid")) for i, d in enumerate(dists)]
    return F.array_sort(F.array(*structs))[0]["cid"]


def _argmin_cid(centers: list[list[float]], cols: list[str]) -> Column:
    """Nearest-center index over one column per coordinate, the squared
    distance unrolled as a left fold of (x−cx)·(x−cx) terms."""

    def sq(col: str, cv: float) -> Column:
        x = F.col(col).cast("double")
        return (x - F.lit(cv)) * (x - F.lit(cv))

    return _nearest(
        [reduce(operator.add, [sq(c, cv) for c, cv in zip(cols, ctr)]) for ctr in centers]
    )


def lloyd_kmeans(
    df: DataFrame, id_col: str, cols: list[str], k: int, iters: int
) -> tuple[DataFrame, list[list[float]]]:
    """Run ``iters`` exact Lloyd updates over the bigint coordinate
    columns ``cols``; returns (points (id, *cols) labeled with
    ``cluster_id`` under the FINAL centers, final centers list)."""
    pts = df.select(F.col(id_col).alias("id"), *[F.col(c).cast("bigint").alias(c) for c in cols])

    def round_sums(df: DataFrame) -> dict:
        rows = df.groupBy("cid").agg(
            *[F.sum(c).alias(f"s_{c}") for c in cols], F.count(F.lit(1)).alias("cnt")
        )
        return {r["cid"]: ([r[f"s_{c}"] for c in cols], r["cnt"]) for r in rows.collect()}

    return _fit(
        pts, k, iters,
        lambda pdf: pdf[list(cols)].to_numpy(dtype=np.int64),
        lambda centers: _argmin_cid(centers, cols),
        round_sums,
    )


def _argmin_cid_vec(centers: list[list[float]], vec_col: str) -> Column:
    """High-dimensional argmin-center index over an ARRAY column: the
    squared distance per center is a zip_with/aggregate fold against a
    literal center array (left-assoc — the same summation order as the
    unrolled per-column chain, so oracle replays stay bit-equal). Keeps
    plan size O(k·d literals) instead of O(k·d expression nodes per
    distance term) — at d=64 the unrolled form dominates compile time."""
    dists = []
    for ctr in centers:
        arr = F.expr("array(" + ", ".join(f"{float(c)!r}D" for c in ctr) + ")")
        dists.append(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col), arr,
                    lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
        )
    return _nearest(dists)


def lloyd_kmeans_vec(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    iters: int,
) -> tuple[DataFrame, list[list[float]]]:
    """Exact Lloyd over a bigint ARRAY column of length ``dim`` (the
    high-dimensional layout of `lloyd_kmeans`, same fit). Centroid
    updates aggregate per (cluster, position) via posexplode — a
    (k·d)-row collect, never O(rows)."""
    pts = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def round_sums(df: DataFrame) -> dict:
        rows = (
            df.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("cnt"))
        )
        got: dict = {}
        for r in rows.collect():
            got.setdefault(r["cid"], ([0] * dim, r["cnt"]))[0][r["pos"]] = r["sx"]
        return got

    return _fit(
        pts, k, iters,
        lambda pdf: np.asarray(pdf["v"].tolist(), dtype=np.int64),
        lambda centers: _argmin_cid_vec(centers, "v"),
        round_sums,
    )
