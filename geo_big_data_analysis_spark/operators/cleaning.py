"""Cleaning operators with audit side-outputs.

The reference's cleaning steps drop rows *and keep the removed rows for
bias auditing* (lab4 nb cell 6 saves removed businesses;
analyze_data_bias.py:589-675 consumes them). `clean_with_audit` returns
both streams from one predicate so neither requires a second scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def clean_with_audit(df: DataFrame, keep: Column) -> tuple[DataFrame, DataFrame]:
    """Split df into (kept, rejected) on a predicate.

    Both results are lazy filters over the same scan; Catalyst pushes
    each predicate down independently, so at scale this is two
    pushed-down scans, not a full materialization.
    """
    return df.filter(keep), df.filter(~F.coalesce(keep, F.lit(False)))


def drop_null_subset(df: DataFrame, cols: list[str]) -> DataFrame:
    """F1 — dropna(subset=...) (test.py:47)."""
    return df.na.drop(subset=cols)


def dedup_by_key(df: DataFrame, keys: list[str], order_col: str | None = None) -> DataFrame:
    """F2 — drop_duplicates(subset=keys) (test.py:49-50).

    pandas keeps the *first* row in file order; Spark's dropDuplicates
    keeps an arbitrary row. When ``order_col`` is given we pin
    first-by-order semantics via min_by-style aggregation (deterministic,
    single shuffle); otherwise plain dropDuplicates (fastest, adequate
    when duplicate rows are identical).
    """
    if order_col is None:
        return df.dropDuplicates(keys)
    w_cols = [c for c in df.columns if c not in keys]
    agg = [F.min_by(F.struct(*w_cols), F.col(order_col)).alias("_row")]
    out = df.groupBy(*keys).agg(*agg)
    return out.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in w_cols])


def replace_values(df: DataFrame, col: str, mapping: dict) -> DataFrame:
    """F10 — .replace({0:1, 7:6, ...}) (lab2 nb cell 5)."""
    if not mapping:
        return df
    items = list(mapping.items())
    expr = F.when(F.col(col) == items[0][0], F.lit(items[0][1]))
    for old, new in items[1:]:
        expr = expr.when(F.col(col) == old, F.lit(new))
    return df.withColumn(col, expr.otherwise(F.col(col)))
