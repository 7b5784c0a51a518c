from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_big_data_analysis_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The suite shares one JVM for its whole run. With a heap near the
# machine's RAM the collector lets that JVM grow instead of collecting
# until the kernel OOM-kills it, failing every later Spark test with
# ConnectionRefused. The fixtures are sf0.001 and the benchmark runs sf0.1
# in 2g, so the suite caps its heap below get_spark's default (half the
# host's RAM).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def force_distributed(monkeypatch):
    """Return a function that, once called, makes every size dispatch
    in the package (`operators/dispatch`) report "too big", so each
    operator takes its distributed branch for the rest of the test. A
    test runs the default path first, calls it, then runs the forced
    path and compares the two."""
    from geo_big_data_analysis_spark.operators import dispatch

    def force():
        monkeypatch.setattr(dispatch, "driver_rows", lambda df, cap: None)
        monkeypatch.setattr(dispatch, "fits", lambda df, cap: False)

    return force
