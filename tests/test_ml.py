"""ML layer tests (SURVEY §2.9): feature engineering, closed-form PCA
vs ml.feature.PCA cross-check, metrics, the exact Lloyd k-means (its
driver kernel against its distributed loop, and that it is the
package's only k-means), Voronoi argmin assignment.

Reference semantics: lab2 nb cells 3/7/16/20/24 (splits, one-hot,
KMeans/PCA, Voronoi regions), lab4 nb cell 18 (StandardScaler),
lx_lightgbmTest.py:64-117 (log1p target + metrics).
"""

from __future__ import annotations

import math
from functools import partial

import pytest

from geo_big_data_analysis_spark.ml.features import (
    apply_standard_scaler,
    fit_standard_scaler,
    log1p_target,
    one_hot,
    positional_split,
)
from geo_big_data_analysis_spark.ml.pipeline import (
    assign_nearest_center,
    deterministic_centers,
    feature_importances,
    gbt_fit,
    gbt_predict,
    pca2d_closed_form,
    pca_fit_transform,
    regression_metrics,
)


def test_one_hot_fixed_categories(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("zzz",), (None,)], ["cat"]
    )
    out = one_hot(df, "cat", ["a", "b", "c"], prefix="d").orderBy("cat")
    rows = {r["cat"]: (r["d_a"], r["d_b"], r["d_c"]) for r in out.collect()}
    assert rows["a"] == (1, 0, 0)
    assert rows["b"] == (0, 1, 0)
    assert rows["zzz"] == (0, 0, 0)  # unseen -> all zeros
    assert rows[None] == (0, 0, 0)


def test_standard_scaler_fit_apply(spark):
    df = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4, 5]], ["x"])
    stats = fit_standard_scaler(df, ["x"])
    mu, sd = stats["x"]
    assert mu == pytest.approx(3.0)
    assert sd == pytest.approx(math.sqrt(2.5))
    z = [r["x_z"] for r in apply_standard_scaler(df, stats).orderBy("x").collect()]
    assert z[2] == pytest.approx(0.0)
    assert z[0] == pytest.approx(-2 / math.sqrt(2.5))


def test_standard_scaler_zero_std(spark):
    df = spark.createDataFrame([(7.0,), (7.0,)], ["x"])
    z = apply_standard_scaler(df, fit_standard_scaler(df, ["x"])).collect()
    assert all(r["x_z"] == 0.0 for r in z)


def test_positional_split_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    out = positional_split(df, "id", 0.7)
    by_split = {
        r["split"]: r["n"]
        for r in out.groupBy("split").count().withColumnRenamed("count", "n").collect()
    }
    assert by_split == {0: 7, 1: 3}
    # first 7 ids (order by id) are split 0 — np.split parity
    s0 = {r["id"] for r in out.filter("split = 0").collect()}
    assert s0 == set(range(7))


def test_pca_closed_form_matches_mllib(spark):
    # anisotropic cloud: spread along y = x/2
    pts = [(float(i), float(i) / 2 + (0.1 if i % 2 else -0.1)) for i in range(50)]
    df = spark.createDataFrame(pts, ["x", "y"])
    closed = pca2d_closed_form(df, "x", "y").collect()[0]
    _, components = pca_fit_transform(df, ["x", "y"], k=2)
    # principal axis direction from MLlib (sign-ambiguous)
    vx, vy = components[0]
    angle_ml = math.atan2(vy, vx) % math.pi
    angle_cf = closed["axis_angle"] % math.pi
    assert angle_cf == pytest.approx(angle_ml, abs=1e-6)
    assert closed["lambda1"] > closed["lambda2"] >= 0
    assert 0.5 < closed["explained_ratio"] <= 1.0


def test_assign_nearest_center_argmin(spark):
    centers = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    df = spark.createDataFrame(
        [(0.1, 0.1), (9.0, 1.0), (1.0, 9.0), (5.0, 5.0)], ["x", "y"]
    )
    out = assign_nearest_center(df, "x", "y", centers).collect()
    got = [(r["x"], r["region_id"]) for r in out]
    assert (0.1, 0) in got and (9.0, 1) in got and (1.0, 2) in got
    # (5,5): d²=50 to c0, 50 to c1, 50 to c2 -> ties go to the FIRST (array_position)
    assert (5.0, 0) in got


def test_deterministic_centers_in_bbox_and_stable():
    c1 = deterministic_centers(15, -74.3, -73.7, 40.5, 41.0)
    c2 = deterministic_centers(15, -74.3, -73.7, 40.5, 41.0)
    assert c1 == c2
    assert len(set(c1)) == 15
    assert all(-74.3 <= x <= -73.7 and 40.5 <= y <= 41.0 for x, y in c1)


def test_regression_metrics_known_values(spark):
    # y = [1,2,3,4], pred = [2,2,2,2]  ->  MAE=1, RMSE=sqrt(1.5), R²=1-6/5
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 2.0), (3.0, 2.0), (4.0, 2.0)], ["y", "p"]
    )
    m = regression_metrics(df, "y", "p").collect()[0]
    assert m["mae"] == pytest.approx(1.0)
    assert m["rmse"] == pytest.approx(math.sqrt(1.5))
    assert m["r2"] == pytest.approx(1 - 6 / 5)
    exp_rmsle = math.sqrt(
        sum((math.log1p(y) - math.log1p(2.0)) ** 2 for y in [1, 2, 3, 4]) / 4
    )
    assert m["rmsle"] == pytest.approx(exp_rmsle)


def test_regression_metrics_log_space_roundtrip(spark):
    # perfect predictions in log space -> zero errors everywhere
    df = spark.createDataFrame(
        [(math.log1p(v), math.log1p(v)) for v in [10.0, 100.0, 1000.0]], ["ly", "lp"]
    )
    m = regression_metrics(df, "ly", "lp", log_space=True).collect()[0]
    assert m["mae"] == pytest.approx(0.0)
    assert m["rmsle"] == pytest.approx(0.0)
    assert m["r2"] == pytest.approx(1.0)


def test_gbt_learns_signal_and_importances(spark):
    # value is a clean function of x -> GBT should fit well; importance on x
    rows = [(float(i), float(i % 7), 3.0 * float(i) + 10.0) for i in range(200)]
    df = log1p_target(spark.createDataFrame(rows, ["x", "noise", "value"]), "value")
    model = gbt_fit(df, ["x", "noise"], "log_value", max_iter=10, max_depth=3)
    pred = gbt_predict(model, df, ["x", "noise"])
    m = regression_metrics(pred, "log_value", "prediction", log_space=True).collect()[0]
    assert m["r2"] > 0.95
    imp = feature_importances(model, ["x", "noise"])
    assert imp[0][0] == "x"


def test_lloyd_kmeans_recovers_separated_clusters(spark):
    from geo_big_data_analysis_spark.ml.lloyd import lloyd_kmeans

    # three tight integer blobs far apart; ids interleaved across blobs
    rows = []
    for i in range(90):
        blob = i % 3
        rows.append((i, blob * 1000 + (i // 3) % 5, blob * 1000 + (i * 7) % 5))
    df = spark.createDataFrame(rows, ["pid", "x", "y"]).repartition(7)
    labeled, centers = lloyd_kmeans(df, "pid", ["x", "y"], k=3, iters=5)
    got = labeled.collect()
    # every blob maps to exactly one cluster label
    by_blob = {}
    for r in got:
        by_blob.setdefault(r["id"] % 3, set()).add(r["cluster_id"])
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({next(iter(s)) for s in by_blob.values()}) == 3
    # centers land on the blob lattices (each blob spans [b*1000, b*1000+4])
    assert sorted(round(cx) // 1000 for cx, _ in centers) == [0, 1, 2]


def test_lloyd_kmeans_deterministic(spark):
    from geo_big_data_analysis_spark.ml.lloyd import lloyd_kmeans

    rows = [(i, (i * 13) % 97, (i * 29) % 89) for i in range(200)]
    df = spark.createDataFrame(rows, ["pid", "x", "y"]).repartition(11)
    a_lab, a_c = lloyd_kmeans(df, "pid", ["x", "y"], k=4, iters=4)
    b_lab, b_c = lloyd_kmeans(df, "pid", ["x", "y"], k=4, iters=4)
    assert a_c == b_c
    a = {r["id"]: r["cluster_id"] for r in a_lab.collect()}
    b = {r["id"]: r["cluster_id"] for r in b_lab.collect()}
    assert a == b


#: ids 0 and 1 sit on the same point, so the first two initial centers
#: coincide: every point there is at distance 0 from both (a tie, which
#: cid 0 must win), and cluster 1 never gets a point (it must keep its
#: center). Id 12 is equidistant from the initial centers 2 and 3 (in
#: 2-D and 3-D), so round 1 (iters=1) turns on that tie; ids 12 and 13
#: move from cluster 2 to 3 in later rounds, so each of 3 rounds
#: changes the centers.
_LLOYD_PATH_POINTS = [
    (0, 0, 0, 0), (1, 0, 0, 0), (2, 20, 0, 5), (3, 60, 0, 9),
    (4, 0, 0, 0), (5, 0, 0, 0), (6, 18, 0, 4), (7, 23, 0, 7),
    (8, 20, 3, 5), (9, 20, -1, 6), (10, 61, 1, 8), (11, 59, -1, 9),
    (12, 40, 0, 7), (13, 38, 2, 6), (14, 42, 0, 7), (15, 44, 1, 8),
]


@pytest.mark.parametrize("iters", [1, 3])
@pytest.mark.parametrize("layout", ["x y", "x y z", "vec"])
def test_lloyd_distributed_loop_matches_driver_kernel(spark, force_distributed, layout, iters):
    """The distributed loop (the bounded probe forced to report "too
    big") gives bit-equal centers and the same labels as the driver
    kernel, for the column layout in 2-D and 3-D and the array layout."""
    from geo_big_data_analysis_spark.ml import lloyd

    if layout == "vec":
        df = spark.createDataFrame(
            [(i, [x, y, z]) for i, x, y, z in _LLOYD_PATH_POINTS], "pid bigint, v array<bigint>"
        ).repartition(5)
        dim = 3
        fit = partial(lloyd.lloyd_kmeans_vec, df, "pid", "v", dim=dim, k=4, iters=iters)
    else:
        df = spark.createDataFrame(_LLOYD_PATH_POINTS, ["pid", "x", "y", "z"]).repartition(5)
        dim = len(layout.split())
        fit = partial(lloyd.lloyd_kmeans, df, "pid", layout.split(), k=4, iters=iters)
    runs = []
    for forced in (False, True):
        if forced:
            force_distributed()
        labeled, centers = fit()
        runs.append((centers, {r["id"]: r["cluster_id"] for r in labeled.collect()}))
    (c_drv, l_drv), (c_dist, l_dist) = runs
    assert c_dist == c_drv  # bit-equal floats
    assert l_dist == l_drv
    assert {l_drv[i] for i in (0, 1, 4, 5)} == {0}  # the tie goes to cid 0
    assert 1 not in l_drv.values() and c_drv[1] == [0.0] * dim  # empty keeps center


@pytest.mark.parametrize("d", [2, 3, 64])
def test_sq_dists_equal_cumsum_fold(d):
    """The driver kernel's distance matrix is bit-equal to the
    reference left fold, ``np.cumsum((X - c) ** 2, axis=1)[:, -1]`` per
    center. The points repeat, one sits halfway between two centers,
    two centers coincide, and squares reach 1e16, past 2**53, so the
    sums round and any other summation order shows."""
    import numpy as np

    from geo_big_data_analysis_spark.ml.lloyd import _sq_dists

    rng = np.random.default_rng(d)
    X = rng.integers(-(10**8), 10**8, size=(400, d))
    X[200:300] = X[:100]
    step = X[2] % 1000
    X[1] = X[0] + 2 * step
    X[3] = X[0] + step  # equidistant from X[0] and X[1]
    centers = [[float(v) for v in X[i]] for i in (0, 0, 1, 5, 6)]
    Xd = X.astype(np.float64)
    want = np.stack(
        [np.cumsum((Xd - np.asarray(c)) ** 2, axis=1)[:, -1] for c in centers], axis=1
    )
    got = _sq_dists(np.ascontiguousarray(Xd.T), centers)
    assert np.array_equal(got, want)
    assert got[3, 0] == got[3, 2] and np.array_equal(got[:, 0], got[:, 1])


def test_no_spark_ml_clustering_import():
    """`ml/lloyd.py` is the package's only k-means: no module imports
    Spark ML's clustering package."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "geo_big_data_analysis_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""] + [f"{node.module}.{a.name}" for a in node.names]
            else:
                continue
            if any(m.startswith("pyspark.ml.clustering") for m in mods):
                hits.append(path.relative_to(pkg).as_posix())
    assert hits == []


def test_logreg_binary_metrics_floor(spark, sf_dir):
    from geo_big_data_analysis_spark.plans.registry import _logreg_raw_metrics

    row = _logreg_raw_metrics(spark, sf_dir).collect()[0]
    # label is linearly separable up to the bounded orderkey jitter;
    # LR must recover it far above chance
    assert row.auc > 0.9, row
    assert row.accuracy > 0.8, row
    assert 0.0 < row.precision <= 1.0 and 0.0 < row.recall <= 1.0
    f1 = 2 * row.precision * row.recall / (row.precision + row.recall)
    assert abs(f1 - row.f1) < 1e-3


def test_quantization_error_small_for_int8(spark, sf_dir):
    """int8 symmetric quantization: relative L2 reconstruction error
    should be well under 1% for unit-ish random vectors."""
    from geo_big_data_analysis_spark.plans.registry import REGISTRY

    rows = REGISTRY["embedding_quantization"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.avg_rel_err <= r.max_rel_err < 0.01


def test_lab2_pipeline_model_metric_floor(spark, sf_dir):
    """The composed Lab-2 pipeline (VERDICT r1 #7) trains end-to-end
    and beats a trivial predictor: R2 > 0 on the held-out split and
    finite errors (reference-shaped regression target, SURVEY 3.2)."""
    from geo_big_data_analysis_spark.plans.registry import _lab2_pipeline_model

    row = _lab2_pipeline_model(spark, sf_dir).collect()[0]
    d = row.asDict()
    assert all(v is not None for v in d.values()), d
    assert d["r2"] > 0.5, d  # speed structure must be recovered
    assert d["rmse"] > 0.0 and d["mae"] > 0.0, d
