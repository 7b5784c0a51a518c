"""Table reads and driver-built frames: how rows enter Spark.

Parquet reads keep the inferred schema per input (``read_parquet``), and
rows computed on the driver enter Spark as Arrow batches
(``local_frame``). ``_t`` reads a fixture table through
``read_parquet`` and normalises its nanosecond timestamp columns; the
query registry and the stored indexes both read their inputs with it.

``spark.read.parquet(path)`` infers the schema on every call, and Spark
does it with a Spark job (``SchemaMergeUtils.mergeSchemasInParallel``)
that schedules a task to read the footers. A query that reads four
tables fires four such jobs while its plan is still being built, and a
session that runs the same queries again pays them again on inputs
that have not changed.

``read_parquet`` infers an input's schema through Spark the first time
and passes the stored ``StructType`` to ``spark.read.schema(...)`` on
every later read, which skips the job. An entry is keyed by

- the absolute path, and
- the session's ``spark.sql.legacy.parquet.nanosAsLong`` value, because
  the inferred type of a TIMESTAMP(NANOS) column depends on it,

and is served only while the input's file signature is unchanged: the
``(relative name, size, mtime_ns)`` of every non-hidden data file,
walking the tree when the path is a directory. A rewritten or appended
file changes the signature, so its schema is inferred again and a stale
one is never served. Paths are local (the signature is read with
``os.stat``).

Only the schema is kept, never a DataFrame: every call builds a fresh
relation with new attribute IDs, so self-joins and ``df["col"]``
references resolve as they do with a plain read, and the plan is the
same as with an inferred schema.

The graph, clustering and BPE kernels and the audit queries compute
small results on the driver. ``spark.createDataFrame(list, schema)``
hands such rows to Spark as a PythonRDD (``parallelize`` plus a
``map(lambda x: x)`` re-serialization), so every job that scans the
frame (each adaptive stage, each ``orderBy`` range-bound sample, the
final write) starts Python-worker tasks to replay the pickled rows;
that cost does not shrink as the JVM warms. ``local_frame`` converts
the rows to an Arrow table with the DDL's Arrow schema instead and
passes it to ``createDataFrame(pa.Table, schema)``: the JVM decodes the
batches once (``PythonSQLUtils.toDataFrame``, a local relation below
``spark.sql.execution.arrow.localRelationThreshold``), and no Python
worker runs when the frame is scanned. The rows and the schema are the
same as with the list path.

Per-item Python over a distributed frame (the codec round-trips, the
multimodal feature and resize kernels) goes through ``map_rows``: the
kernel is a plain function of one row that returns one tuple, and
``map_rows`` runs it inside one Arrow-batched ``mapInPandas``. The
output columns are named by the schema alone. Kernels that work on a
whole batch at once (numpy matmuls, skyline passes, ``pandas_udf``s)
call ``mapInPandas`` themselves.
"""

from __future__ import annotations

import os
import stat

from collections.abc import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, LongType, StructType

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: (absolute path, nanosAsLong) -> (file signature, inferred schema)
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def _hidden(name: str) -> bool:
    # Spark's file index skips the same names (_SUCCESS, .crc files,
    # _temporary/ and staging directories)
    return name.startswith(("_", "."))


def _signature(path: str) -> tuple:
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    sig = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for name in sorted(files):
            if _hidden(name):
                continue
            full = os.path.join(root, name)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sig)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet input at ``path``,
    inferred once per unchanged input. The returned ``StructType`` is
    the cached object: read it, do not ``add`` to it."""
    abspath = os.path.abspath(path)
    key = (abspath, spark.conf.get(_NANOS_AS_LONG))
    # the signature is taken before inference: a file rewritten in
    # between leaves an old signature, so the next call infers again
    sig = _signature(abspath)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (sig, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    once the input has been read in this process."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


# Columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanos type, so
# the loader reads them as long (legacy conf) and truncates to microseconds,
# matching what DuckDB does natively when it reads TIMESTAMP_NS.
_NANO_TS_COLS = {
    "events": ["ts"],
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture table ``name`` of ``sf_dir`` through ``read_parquet``,
    its nanosecond timestamp columns normalised to microseconds."""
    spark.conf.set(_NANOS_AS_LONG, "true")
    path = f"{sf_dir}/{name}.parquet"
    df = read_parquet(spark, path)
    types = {f.name: f.dataType for f in parquet_schema(spark, path)}
    for c in _NANO_TS_COLS.get(name, []):
        if isinstance(types.get(c), LongType):
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def local_frame(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """The DataFrame ``spark.createDataFrame(list(rows), ddl)`` gives,
    sent to the JVM as Arrow batches so that scanning it runs no Python
    worker. ``ddl`` is a top-level struct such as ``"id bigint, pr
    double"``; each row is a tuple (or ``Row``) in its field order, with
    ``None`` for null."""
    struct = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(struct)
    # strict: a row of the wrong width raises, as the list path does
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def map_rows(df: DataFrame, fn: Callable[..., tuple], schema: str | StructType) -> DataFrame:
    """``fn(*row)`` on every row of ``df`` inside one Arrow-batched
    ``mapInPandas``: one output row per input row, ``fn`` returning a
    tuple in ``schema`` order. ``schema`` is what ``mapInPandas``
    takes, a DDL string or a ``StructType``, and alone names the output
    columns. ``fn`` receives the values pandas iterates a batch with
    (Python scalars for numbers, ``bytes`` for binary, dicts for
    structs, numpy arrays for arrays); an exception it raises fails the
    job with its message."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [fn(*row) for row in pdf.itertuples(index=False, name=None)]
            if rows:
                # integer column labels: Spark assigns them by position
                yield pd.DataFrame(rows)

    return df.mapInPandas(gen, schema)
