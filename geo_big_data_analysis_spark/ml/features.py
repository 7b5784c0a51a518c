"""Feature-engineering operators (SURVEY §2.9 M5/M6, §2.2 F15/F16).

Column-expression implementations (JVM-side, whole-stage codegen) of the
reference's feature steps: one-hot dummies with fixed category lists
(lab2 nb cell 24 `pd.get_dummies`), standard scaling (lab4 nb cell 18
`StandardScaler` before DBSCAN), deterministic positional and seeded
random splits (lab2 nb cell 3 `np.split`; lx_lightgbmTest.py:67-68).

The scaler follows the fit/apply split the reference implements manually
(fit statistics on train, apply to all splits — SURVEY §3.2): ``fit_*``
returns a plain dict of artifacts, ``apply_*`` is a pure column
transform, so artifacts broadcast for free as literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def one_hot(df: DataFrame, col: str, categories: list[str], prefix: str | None = None) -> DataFrame:
    """One-hot 0/1 dummies with a FIXED category list (pd.get_dummies
    parity needs deterministic column names; unseen values → all zeros).
    Pure when/otherwise — no shuffle, no StringIndexer fit pass."""
    prefix = prefix if prefix is not None else col
    out = df
    for c in categories:
        safe = c.replace(" ", "_").replace("-", "_")
        out = out.withColumn(
            f"{prefix}_{safe}", F.when(F.col(col) == c, 1).otherwise(0)
        )
    return out


def fit_standard_scaler(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """Fit (mean, stddev_samp) per column in ONE aggregate pass."""
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"__mu_{c}"), F.stddev_samp(c).alias(f"__sd_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__mu_{c}"], row[f"__sd_{c}"] or 0.0) for c in cols}


def apply_standard_scaler(df: DataFrame, stats: dict[str, tuple[float, float]]) -> DataFrame:
    """(x-μ)/σ into ``<col>_z`` as literal column exprs (σ=0 → 0,
    avoiding inf)."""
    out = df
    for c, (mu, sd) in stats.items():
        scaled = (F.col(c) - F.lit(mu)) / F.lit(sd) if sd else F.lit(0.0)
        out = out.withColumn(f"{c}_z", scaled)
    return out


def positional_split(df: DataFrame, order_col: str, frac: float = 0.7) -> DataFrame:
    """Deterministic positional split (np.split parity, F15): rows in
    ``order_col`` order, first ``frac`` → split 0, rest → split 1.

    Row numbering is the two-phase range-partitioned kind
    (`operators/two_phase.global_row_number`) — a naive
    ``Window.orderBy`` would single-partition the whole table, which at
    the reference's 1.4 M taxi rows is survivable and at 100 TB is not.
    ``order_col`` must be a total order (fixtures carry ``row_id``,
    SURVEY §7.3).
    """
    from ..operators.two_phase import global_row_number

    n = df.count()
    cut = int(n * frac)
    numbered = global_row_number(df, [F.col(order_col).asc()], out="__pos_rn")
    return numbered.withColumn(
        "split",
        F.when(F.col("__pos_rn") <= cut, F.lit(0)).otherwise(F.lit(1)),
    ).drop("__pos_rn")


def log1p_target(df: DataFrame, col: str) -> DataFrame:
    """log(1+x) target transform into ``log_<col>`` (lab2 cell 7;
    lx_lightgbmTest.py:64)."""
    return df.withColumn(f"log_{col}", F.log1p(F.col(col)))
