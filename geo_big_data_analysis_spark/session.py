"""SparkSession bootstrap with engine defaults.

Defaults are tuned for correctness-parity with the DuckDB oracle (UTC
session timezone, ANSI off), for scale (AQE on, partition coalescing,
skew-join handling) and for sessions that run the same queries again and
again (a codegen cache sized to hold their generated classes). The
``WindowExec`` "No Partition Defined" warning is silenced; unpartitioned
windows are counted at plan level by ``tools/planaudit.py`` and
``tools/plansnapshot.py``. On a real cluster only ``master`` and memory
sizing change — the SQL-level behavior is identical. ``get_spark``
applies these defaults only to a session it creates; a running session
is returned unchanged.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: ``spark.sql.codegen.cache.maxEntries``: Spark's LRU of compiled
#: whole-stage classes. Spark's default of 100 is below one pass of a
#: modest query set: at sf0.1 the 8 TPC-H/window queries of
#: ``perfbench``'s relational workload need 117-128 classes and its 5
#: lab pipelines 139-150 (``near_dup_probe_stored`` alone 70). Cycling
#: through more entries than an LRU holds never hits: every call would
#: recompile every class with Janino, and HotSpot JIT-compile it again.
CODEGEN_CACHE_ENTRIES = 4096

#: ``spark.driver.memory`` ceiling, in GiB, when ``SPARK_DRIVER_MEMORY``
#: is unset. A local-mode driver is the whole engine, but a heap near
#: the machine's RAM lets the collector grow the JVM until the kernel
#: kills it, so the default is half of physical memory up to this.
MAX_DRIVER_MEMORY_GB = 16


def default_driver_memory(meminfo: str) -> str:
    """``spark.driver.memory`` for a host whose ``/proc/meminfo`` reads
    ``meminfo``: half of ``MemTotal`` in whole GiB, at most
    ``MAX_DRIVER_MEMORY_GB`` and at least 1g."""
    kb = int(re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.M).group(1))
    return f"{max(1, min(MAX_DRIVER_MEMORY_GB, kb // 2 // 2**20))}g"


def _host_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as fh:
            return default_driver_memory(fh.read())
    except OSError:  # no procfs (not Linux): keep the ceiling
        return f"{MAX_DRIVER_MEMORY_GB}g"


def get_spark(
    app_name: str = "geo_big_data_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create a SparkSession with engine defaults, or return the running
    one unchanged.

    The settings below apply only when this call creates the session. A
    session that is already running (an earlier ``get_spark``, a test
    fixture, a caller's own session) is returned as it is: no argument
    or default is applied to it, so a tool driven from inside another
    session leaves that session's partitioning and confs alone.

    Notes on the defaults:
    - ``spark.sql.session.timeZone=UTC``: parquet fixtures carry naive
      timestamps; UTC makes Spark's timestamp semantics match DuckDB's.
      Pipelines that need the reference's America/New_York semantics
      (SURVEY §2.8) apply `functions.temporal` helpers explicitly.
    - AQE enabled: runtime coalescing of shuffle partitions and skew-join
      splitting — the 100 TB story for uneven keys.
    - Arrow enabled: pandas_udf / toPandas use columnar transfer.
    - ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``
      so a session that returns to its queries reuses their compiled
      code. The setting is static: it must be set here, before the JVM
      compiles its first class.
    - The ``WindowExec`` logger is set to ERROR: its per-plan "No
      Partition Defined" warning buried real errors in bench logs.
    - ``spark.driver.memory`` is ``SPARK_DRIVER_MEMORY`` if set, else
      ``default_driver_memory`` of this host: half its RAM, 1g-16g.
    """
    running = SparkSession.getActiveSession()
    if running is not None:
        # builder.getOrCreate() would apply the builder's runtime SQL
        # settings to it
        return running
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # SPARK_GRAFT_ANSI=true validates the suite under Spark 4's
        # default strict mode (the driver's vanilla session has it on)
        .config(
            "spark.sql.ansi.enabled",
            os.environ.get("SPARK_GRAFT_ANSI", "false"),
        )
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
