"""ML operators (SURVEY §2.9 M4/M7/M9/M10) on Spark ML.

The reference's "heavy" operators — PCA (lab2 nb cell 16), LightGBM
regression with log1p target + RMSLE (lx_lightgbmTest.py:71-117) —
re-expressed on pyspark.ml, which is distributed out of the box. Its
MiniBatchKMeans (cell 16, M3) is the exact Lloyd of `ml/lloyd.py`
instead, whose distributed loop is the scale path (SURVEY §4:
mini-batching is unnecessary) and which the oracle can replay.

Model parity contract (SURVEY §7.3): metrics within bands, not bitwise —
LightGBM and GBTRegressor are different learners. RMSLE / MAE / RMSE /
R² / mean-relative-error are computed as single-pass column aggregates
(M9, lx_lightgbmTest.py:108-112).

Closed-form 2-D PCA (`pca2d_closed_form`) exists alongside ml.feature.PCA
so the eigen-decomposition itself is oracle-checkable in ANSI SQL; the
two are cross-verified in tests/test_ml.py.
"""

from __future__ import annotations

import math

from pyspark.ml.feature import PCA, VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble(df: DataFrame, cols: list[str]) -> DataFrame:
    return VectorAssembler(inputCols=cols, outputCol="features").transform(df)


def pca_fit_transform(df: DataFrame, cols: list[str], k: int = 2):
    """PCA via ml.feature.PCA (M4). Returns (transformed_df, components).

    components: k rows × len(cols) principal axes (sign is unspecified —
    compare |projection| or fix sign by convention downstream).
    """
    vec = assemble(df, cols)
    model = PCA(k=k, inputCol="features", outputCol="pca").fit(vec)
    pc = model.pc.toArray()  # (n_features, k)
    out = model.transform(vec).drop("features")
    return out, [[float(pc[i][j]) for i in range(pc.shape[0])] for j in range(pc.shape[1])]


def pca2d_closed_form(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Closed-form 2-D PCA: principal-axis angle + explained-variance
    ratio from the covariance matrix, as ONE aggregate row.

    For cov = [[sxx, sxy], [sxy, syy]]:
      λ± = (sxx+syy)/2 ± sqrt(((sxx−syy)/2)² + sxy²)
      θ  = atan2(λ+ − sxx, sxy)   (angle of the λ+ eigenvector)
    Pure column arithmetic → expressible identically in the SQL oracle.
    """
    x, y = F.col(x_col), F.col(y_col)
    a = df.agg(
        F.avg(x).alias("mx"),
        F.avg(y).alias("my"),
        F.covar_samp(x, y).alias("sxy"),
        F.var_samp(x).alias("sxx"),
        F.var_samp(y).alias("syy"),
    )
    mid = (F.col("sxx") + F.col("syy")) / 2
    d = F.sqrt(F.pow((F.col("sxx") - F.col("syy")) / 2, 2) + F.pow(F.col("sxy"), 2))
    l1, l2 = mid + d, mid - d
    return a.select(
        l1.alias("lambda1"),
        l2.alias("lambda2"),
        (l1 / (l1 + l2)).alias("explained_ratio"),
        F.atan2(l1 - F.col("sxx"), F.col("sxy")).alias("axis_angle"),
    )


def gbt_fit(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    max_iter: int = 20,
    max_depth: int = 5,
):
    """GBT regression fit (M7 — GBTRegressor stands in for LightGBM)."""
    vec = assemble(train, feature_cols)
    model = GBTRegressor(
        featuresCol="features",
        labelCol=label_col,
        maxIter=max_iter,
        maxDepth=max_depth,
        seed=42,
    ).fit(vec)
    return model


def gbt_predict(model, df: DataFrame, feature_cols: list[str]) -> DataFrame:
    vec = assemble(df, feature_cols)
    return model.setPredictionCol("prediction").transform(vec).drop("features")


def regression_metrics(
    df: DataFrame, label_col: str, pred_col: str, log_space: bool = False
) -> DataFrame:
    """M9 metrics in ONE aggregate pass: MAE, RMSE, RMSLE, R², mean
    relative error (lx_lightgbmTest.py:108-112; rmsle lab2 cell 28).

    If ``log_space``, label/pred are already log1p-transformed: RMSLE is
    their RMSE and the natural-unit errors use expm1 first.
    """
    if log_space:
        y = F.expm1(F.col(label_col))
        p = F.expm1(F.col(pred_col))
        ly, lp = F.col(label_col), F.col(pred_col)
    else:
        y, p = F.col(label_col), F.col(pred_col)
        ly = F.log1p(F.greatest(y, F.lit(0.0)))
        lp = F.log1p(F.greatest(p, F.lit(0.0)))
    err, lerr = y - p, ly - lp
    # R² = 1 − SSE/SST with SST = Σy² − (Σy)²/n so everything stays in
    # ONE aggregate pass (no nested avg-inside-sum).
    a = df.agg(
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.sqrt(F.avg(lerr * lerr)).alias("rmsle"),
        F.sum(err * err).alias("__sse"),
        F.sum(y * y).alias("__syy"),
        F.sum(y).alias("__sy"),
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.abs(err) / F.greatest(F.abs(y), F.lit(1e-9))).alias("mean_rel_err"),
    )
    sst = F.col("__syy") - F.pow(F.col("__sy"), 2) / F.col("__n")
    return a.select(
        "mae",
        "rmse",
        "rmsle",
        (1 - F.col("__sse") / sst).alias("r2"),
        "mean_rel_err",
    )


def logreg_fit(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
):
    """Binary logistic regression fit (classification counterpart of
    gbt_fit; LBFGS is deterministic given fixed partitioning of the
    aggregated gradient, so metrics are stable run-to-run)."""
    from pyspark.ml.classification import LogisticRegression

    vec = assemble(train, feature_cols)
    return LogisticRegression(
        featuresCol="features",
        labelCol=label_col,
        maxIter=50,
        regParam=0.0,
    ).fit(vec)


def logreg_predict(
    model, df: DataFrame, feature_cols: list[str]
) -> DataFrame:
    """Score with P(label=1) extracted from the probability vector as a
    plain double column ``p1`` (vector_to_array keeps it JVM-side)."""
    from pyspark.ml.functions import vector_to_array

    vec = assemble(df, feature_cols)
    scored = model.transform(vec)
    return scored.withColumn(
        "p1", vector_to_array("probability")[1]
    ).drop("features", "rawPrediction", "probability")


def binary_metrics(
    df: DataFrame, label_col: str, prob_col: str
) -> DataFrame:
    """Single-row binary-classification metrics, all distributed:
    accuracy / precision / recall / F1 at threshold 0.5 in one
    conditional-agg pass, plus ROC-AUC via the tied-rank Mann-Whitney
    identity over score GROUPS (probabilities rounded to 6 dp bound the
    group count; the only window runs over those groups, never rows —
    same scale shape as q_auc_rank_metric)."""
    from pyspark.sql import Window

    y = F.col(label_col).cast("bigint")
    pred = (F.col(prob_col) >= F.lit(0.5)).cast("bigint")
    counts = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("np"),
        F.sum(pred).alias("npred"),
        F.sum(y * pred).alias("tp"),
        F.sum((1 - y) * (1 - pred)).alias("tn"),
    )
    grouped = (
        df.select(F.round(F.col(prob_col), 6).alias("s"), y.alias("pos"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("gn"), F.sum("pos").alias("gp"))
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grouped.withColumn(
        "avgrank",
        F.coalesce(F.sum("gn").over(w), F.lit(0)) + (F.col("gn") + 1) / 2.0,
    )
    auc = ranked.agg(
        (
            (
                F.sum(F.col("gp") * F.col("avgrank"))
                - F.sum("gp") * (F.sum("gp") + 1) / 2.0
            )
            / (F.sum("gp") * (F.sum("gn") - F.sum("gp")))
        ).alias("auc")
    )
    prec = F.col("tp") / F.greatest(F.col("npred"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("np"), F.lit(1))
    return (
        counts.join(F.broadcast(auc))
        .select(
            ((F.col("tp") + F.col("tn")) / F.col("n")).alias("accuracy"),
            prec.alias("precision"),
            rec.alias("recall"),
            (2 * prec * rec / (prec + rec)).alias("f1"),
            "auc",
            F.col("np").alias("n_pos"),
            (F.col("n") - F.col("np")).alias("n_neg"),
        )
    )


def feature_importances(model, feature_cols: list[str]) -> list[tuple[str, float]]:
    """M10 — (feature, importance) sorted desc, driver-side."""
    imp = model.featureImportances.toArray()
    pairs = [(c, float(v)) for c, v in zip(feature_cols, imp)]
    return sorted(pairs, key=lambda t: (-t[1], t[0]))


def kth_nn_distance_stats(kdist: DataFrame, dist_col: str = "dist") -> DataFrame:
    """M2 support — summary stats of the k-th-NN distance curve used for
    DBSCAN eps tuning (elbow located driver-side on the collected curve,
    as the reference does on the sorted plot)."""
    d = F.col(dist_col)
    return kdist.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(d).alias("mean_dist"),
        F.expr(f"percentile({dist_col}, 0.5)").alias("median_dist"),
        F.expr(f"percentile({dist_col}, 0.9)").alias("p90_dist"),
        F.max(d).alias("max_dist"),
    )


def assign_nearest_center(
    df: DataFrame, x_col: str, y_col: str, centers: list[tuple[float, float]]
) -> DataFrame:
    """Voronoi-region assignment into ``region_id`` (lab2 nb cell 20):
    nearest of a small
    driver-side center list — the 'Voronoi polygons + sjoin within' of
    the reference collapses to argmin(distance to centers), broadcast as
    a literal distance array (no join, no shuffle). Array form keeps the
    expression tree linear in len(centers) — a nested when-chain carrying
    the running min doubles in size per center and chokes the analyzer."""
    x, y = F.col(x_col), F.col(y_col)
    dists = F.array(
        *[
            F.pow(x - F.lit(float(cx)), 2) + F.pow(y - F.lit(float(cy)), 2)
            for cx, cy in centers
        ]
    )
    return (
        df.withColumn("__dl", dists)
        .withColumn("region_id", (F.array_position("__dl", F.array_min("__dl")) - 1).cast("int"))
        .drop("__dl")
    )


def deterministic_centers(n: int, x0: float, x1: float, y0: float, y1: float) -> list[tuple[float, float]]:
    """Deterministic pseudo-random centers in a bbox (golden-ratio
    low-discrepancy sequence) — fixed Voronoi seeds for the
    `assign_nearest_center` queries, which need centers but no fit
    (fitted centers come from `ml/lloyd.py`)."""
    phi = (math.sqrt(5) - 1) / 2
    return [
        (x0 + ((0.5 + i * phi) % 1.0) * (x1 - x0), y0 + ((0.5 + i * phi * phi) % 1.0) * (y1 - y0))
        for i in range(n)
    ]
