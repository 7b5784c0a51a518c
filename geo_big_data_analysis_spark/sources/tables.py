"""Parquet table reads with the inferred schema kept per input.

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
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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
