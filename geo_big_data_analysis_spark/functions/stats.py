"""Statistical helpers expressed as aggregations.

Covers the reference's scipy/numpy stats surface: linregress
(lab4 nb cell 16 → slope/intercept/R²), skew/kurtosis (lab3c nb cell 7),
RMSLE metric (lab2 nb cell 28), 3σ/percentile threshold filters
(lab2 nb cell 5; cell 36) — all as Catalyst aggregate expressions with
explicit closed forms so the DuckDB oracle can reproduce them exactly
(DuckDB's builtin skewness/kurtosis use sample corrections; we pin the
population formulas the reference's numpy/pandas code used).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def skewness_pop(col) -> Column:
    """Population skewness  m3 / m2^1.5 (numpy/scipy bias=True)."""
    c = _c(col)
    mu = F.avg(c)
    m2 = F.avg(c * c) - mu * mu
    m3 = F.avg(c * c * c) - 3 * mu * F.avg(c * c) + 2 * mu * mu * mu
    return m3 / F.pow(m2, 1.5)


def kurtosis_pop(col) -> Column:
    """Population excess kurtosis m4/m2² − 3."""
    c = _c(col)
    mu = F.avg(c)
    m2 = F.avg(c * c) - mu * mu
    m4 = (
        F.avg(c * c * c * c)
        - 4 * mu * F.avg(c * c * c)
        + 6 * mu * mu * F.avg(c * c)
        - 3 * mu * mu * mu * mu
    )
    return m4 / (m2 * m2) - F.lit(3.0)


def linregress_aggs(x, y) -> list[Column]:
    """slope / intercept / r (Pearson) / r² as closed-form aggregates —
    the scipy.stats.linregress surface the reference reports."""
    xc, yc = _c(x), _c(y)
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum(xc), F.sum(yc)
    sxx, syy, sxy = F.sum(xc * xc), F.sum(yc * yc), F.sum(xc * yc)
    cov = sxy - sx * sy / n
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    slope = cov / varx
    intercept = (sy - slope * sx) / n
    r = cov / F.sqrt(varx * vary)
    return [
        slope.alias("slope"),
        intercept.alias("intercept"),
        r.alias("r"),
        (r * r).alias("r2"),
    ]


def rmsle(y_true, y_pred) -> Column:
    """sqrt(mean((log1p(y)-log1p(ŷ))²)) — lab2 nb cell 28."""
    return F.sqrt(F.avg(F.pow(F.log1p(_c(y_true)) - F.log1p(_c(y_pred)), 2)))


def three_sigma_bounds(df: DataFrame, col: str) -> tuple[float, float]:
    """Two-phase scalar-stat filter support (F11): compute μ±3σ once and
    inject as literals into the downstream filter. One tiny job; the
    filter itself then pushes down to the scan."""
    row = df.agg(
        F.avg(col).alias("mu"), F.stddev_pop(col).alias("sigma")
    ).first()
    return row["mu"] - 3 * row["sigma"], row["mu"] + 3 * row["sigma"]
