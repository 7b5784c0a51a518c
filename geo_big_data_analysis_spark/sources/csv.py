"""CSV sources (SURVEY §2.1 S1/S2/S3).

- S1 header CSV scan with row limit: 实习一/实习一代码/test.py:25-33
  (``clip_csv`` — nrows cap) → ``spark.read.csv(header=True)`` +
  ``limit(n)`` (Catalyst pushes the limit into the scan).
- S2 CSV scan with date parsing: lab2 nb (cell 3, json 104)
  ``read_csv(parse_dates=[…])`` → declared schema + ``to_timestamp``
  with an explicit format (schema-on-read, no inference pass).
- S3 custom delimiter: lab2 nb (cell 3, json 104) ``sep=';'``
  (holidays table) → ``option('sep', …)``.

Scale notes: a declared ``StructType`` avoids the extra full-file
inference scan pandas does implicitly; CSV scans parallelize per file
split. Timestamp parsing happens as a column expression (JVM-side,
codegen) — never a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sep: str = ",",
    limit: int | None = None,
    ts_formats: dict[str, str] | None = None,
) -> DataFrame:
    """Declared-schema CSV scan with optional row cap and per-column
    timestamp parsing (``ts_formats``: col → Spark datetime pattern).
    Columns listed in ``ts_formats`` should be STRING in the schema;
    they are parsed with ``to_timestamp`` after the scan."""
    reader = (
        spark.read.option("header", "true")
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    for col, fmt in (ts_formats or {}).items():
        df = df.withColumn(col, F.to_timestamp(F.col(col), fmt))
    if limit is not None:
        df = df.limit(limit)
    return df


def read_csv_with_rejects(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """CSV scan with a malformed-row side output (the NDJSON reader's
    audit contract, S4, applied to CSV): rows that fail the declared
    schema land in a rejects DataFrame carrying the raw line, instead
    of silently nulling out — the reference's cleaning pipelines keep
    removed rows for bias audits (SURVEY §7.3), so ingest must too.

    PERMISSIVE mode + ``columnNameOfCorruptRecord`` routes each bad
    line's raw text into ``_corrupt_record``; the pair of returned
    frames partitions the input exactly.

    The parsed input is cached only while both halves materialize
    (Spark requires a cache to query ``_corrupt_record`` reliably):
    each returned frame is localCheckpoint()ed and the scratch cache
    unpersisted, so repeated ingests don't pin executor storage for
    the session lifetime."""
    from pyspark.sql.types import StringType, StructField

    # fresh StructType — StructType.add mutates the caller's schema
    # in place (appends to self), which would leak a phantom
    # _corrupt_record column into later reads using the same object
    aug = StructType(list(schema.fields) + [StructField("_corrupt_record", StringType())])
    df = (
        spark.read.option("header", "true")
        .option("sep", ",")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(aug)
        .csv(path)
        .cache()
    )
    try:
        good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record").localCheckpoint()
        rejects = (
            df.filter(F.col("_corrupt_record").isNotNull())
            .select(F.col("_corrupt_record").alias("raw_line"))
            .localCheckpoint()
        )
    finally:
        df.unpersist()
    return good, rejects
