from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_big_data_analysis_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The suite shares one JVM for its whole run. Under get_spark's 16g default
# heap the collector lets that JVM grow toward the machine's RAM instead of
# collecting, and on a 16 GB box the kernel OOM-kills it part way through,
# failing every later Spark test with ConnectionRefused. The fixtures are
# sf0.001; the benchmark runs sf0.1 in 2g.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
