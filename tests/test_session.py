"""Engine session defaults that change cost, not results: the codegen
cache holds a repeated query set's compiled classes, the WindowExec
warning logger is quiet, and the default driver heap fits the host.
``get_spark`` applies them only to a session it creates."""

from __future__ import annotations

import pytest

from geo_big_data_analysis_spark import session
from geo_big_data_analysis_spark.plans.registry import REGISTRY
from geo_big_data_analysis_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    default_driver_memory,
)

#: the TPC-H/window queries of perfbench's relational workload. In a
#: fresh session at sf0.001 one cycle compiles 131 classes; under
#: Spark's old default of 100 cache entries every later cycle
#: recompiles 123 of them.
CYCLE = (
    "pricing_summary",
    "top_revenue_customers",
    "region_nation_rollup",
    "custdist_orders",
    "top_customers_per_nation",
    "window_suite_orders",
    "cohort_retention",
    "user_sessions",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_defaults(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    jvm = spark.sparkContext._jvm
    logger = jvm.org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.window.WindowExec"
    )
    assert logger.getLevel().toString() == "ERROR"


def test_get_spark_leaves_running_session_unchanged(spark, monkeypatch):
    """A second ``get_spark`` returns the running session as it is: a
    tool started from inside a test or another tool does not reset the
    caller's shuffle partitions to its own default."""
    # a default unlike the suite's 8, whatever SPARK_GRAFT_CPUS is
    monkeypatch.setattr(session, "DEFAULT_SHUFFLE_PARTITIONS", 3)
    key = "spark.sql.shuffle.partitions"
    a = session.get_spark("a", shuffle_partitions=8)
    assert a.conf.get(key) == "8"
    b = session.get_spark("b")
    assert b is a is spark
    assert spark.conf.get(key) == "8"


def test_repeated_cycle_compiles_nothing(spark, sf_dir):
    """The second cycle finds every class in the cache. A non-zero count
    means the cache is too small or some plan's generated source changes
    from call to call."""
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        for name in CYCLE:
            REGISTRY[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts.append(_compiles(spark) - before)
    assert counts[1] == 0, counts


@pytest.mark.parametrize(
    "mem_total_kb, heap",
    [
        (16479424, "7g"),  # a 16 GB box: half its RAM, rounded down
        (2**26, "16g"),  # 64 GiB: the 16g ceiling
        (1048576, "1g"),  # 1 GiB: the 1g floor
        (3 * 2**20, "1g"),  # 3 GiB: 1.5 GiB rounds down to 1g
    ],
)
def test_default_driver_memory(mem_total_kb, heap):
    meminfo = (
        f"MemTotal:       {mem_total_kb} kB\n"
        "MemFree:         1000000 kB\n"
        "MemAvailable:    2000000 kB\n"
    )
    assert default_driver_memory(meminfo) == heap
