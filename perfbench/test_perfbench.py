"""Checks of the benchmark's own arithmetic. No Spark needed:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import attribute_jobs, layer_metrics  # noqa: E402
from stats import (  # noqa: E402
    PROBE_REF_S,
    agreement,
    fingerprint,
    host_probe_s,
    host_scaled,
    quartile_spread,
    self_times,
    tail_percentile,
)


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
    samples = samples[::2] + samples[1::2]
    pct, value = tail_percentile(samples)
    assert pct == 90.0
    assert value == 90.0
    assert sum(s > value for s in samples) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    pct, value = tail_percentile([5.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 10.0, 11.0])
    assert value == 1.0
    assert pct == pytest.approx(100 / 11)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    # exclusive quartiles of these ten values: 9.725, 10.0, 10.275
    assert quartile_spread(vals) == pytest.approx((10.275 - 9.725) / 10.0)


def test_agreement_flags_drift_in_the_worse_direction_only():
    first = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0, 1.0, 1.01, 0.99]
    slower = [x * 1.2 for x in first]
    assert agreement(first, slower, 0.1, "lower")
    assert not agreement(slower, first, 0.1, "lower")
    assert agreement(slower, first, 0.1, "higher")
    assert not agreement(first, slower, 0.25, "lower")


def test_agreement_flags_a_wide_spread_unless_exempt():
    wide = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
    assert agreement(wide, wide, 0.25, "lower")
    assert not agreement(wide, wide, 0.25, "lower", check_spread=False)


def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"k": ["x", "y", "z"], "v": [1.5, 2.0, None]})
    b = pd.DataFrame({"v": [float("nan"), 1.5, 2.0], "k": ["z", "x", "y"]})
    assert fingerprint(a) == fingerprint(b)


def test_fingerprint_equates_integral_floats_with_ints():
    a = pd.DataFrame({"n": pd.array([3, 4], dtype="int32")})
    b = pd.DataFrame({"n": [4.0, 3.0]})
    assert fingerprint(a) == fingerprint(b)


def test_fingerprint_sees_values_and_multiplicity():
    a = pd.DataFrame({"k": ["x", "x", "y"]})
    assert fingerprint(a) != fingerprint(pd.DataFrame({"k": ["x", "y", "y"]}))
    assert fingerprint(a) != fingerprint(pd.DataFrame({"k": ["x", "y"]}))
    assert fingerprint(pd.DataFrame({"v": [0.1]})) != fingerprint(pd.DataFrame({"v": [0.1000001]}))


def _span(sid, parent, start, end, layer="operators", name="operators.x.f"):
    return {"id": sid, "parent": parent, "start": start, "end": end,
            "layer": layer, "name": name, "phase": "build", "query": "q"}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps child 1: union 1..6
        _span(3, 1, 2.0, 3.0),  # grandchild: not subtracted from span 0
        _span(4, 0, 8.0, 12.0),  # clipped at the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.0)


def _job(jid, group, submit, **kw):
    j = {"job": jid, "group": group, "submit": submit, "stages": {jid}, "ran": {jid},
         "tasks": 1, "failed_tasks": 0, "busy_ms": 100, "gc_ms": 0, "shuffle_read": 0,
         "shuffle_write": 0, "spill": 0, "output_bytes": 0, "python_sent": 0}
    j.update(kw)
    return j


def test_jobs_go_to_their_group_span_else_the_innermost_open_span():
    spans = [_span(0, None, 0.0, 10.0, "plans", "plans.q"),
             _span(1, 0, 2.0, 5.0, "streaming", "streaming.windows.f")]
    jobs = [_job(0, "pb0", 1.0), _job(1, "pb1", 3.0), _job(2, "stream-run", 4.0),
            _job(3, "stream-run", 6.0), _job(4, None, 20.0)]
    by_span = attribute_jobs(spans, jobs)
    assert [j["job"] for j in by_span[0]] == [0, 3]
    assert [j["job"] for j in by_span[1]] == [1, 2]


def test_layer_metrics_split_build_and_action():
    spans = [
        _span(0, None, 0.0, 3.0, "plans", "plans.q"),
        _span(1, 0, 1.0, 2.0, "sources", "sources.ann_index.ensure_minhash_index"),
        _span(2, None, 3.0, 4.0, "spark", "spark.action"),
    ]
    jobs = [_job(0, "pb1", 1.5, output_bytes=7), _job(1, "pb2", 3.5, stages={1, 9}, ran={1})]
    m = layer_metrics(spans, jobs, passes=1)
    assert m["plans.build_s"] == pytest.approx(3.0)
    assert m["plans.build_jobs"] == 1
    assert m["plans.build_share"] == pytest.approx(0.75)
    assert m["sources.jobs"] == 1
    assert m["sources.self_s"] == pytest.approx(1.0)
    assert m["sources.index_hit_ratio"] == 1.0
    assert m["sources.bytes_written"] == 7
    assert m["spark.action_jobs"] == 1
    assert m["spark.stages_skipped_ratio"] == pytest.approx(0.5)
    assert m["spark.parallelism"] == pytest.approx(0.1)


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def test_tracer_wraps_layer_functions_and_restores_them():
    pytest.importorskip("pyspark")
    from pyspark import cloudpickle

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from geo_big_data_analysis_spark.ml import pipeline
    from geo_big_data_analysis_spark.plans import registry  # noqa: F401 - the client imports it first
    from spans import Tracer

    original = pipeline.deterministic_centers
    tracer = Tracer(_FakeContext())
    tracer.install()
    try:
        wrapped = pipeline.deterministic_centers
        assert wrapped is not original
        assert wrapped(3, 0.0, 1.0, 0.0, 1.0) == original(3, 0.0, 1.0, 0.0, 1.0)
        # shipped to Python workers by reference, so they run the original
        assert len(cloudpickle.dumps(wrapped)) < 200
    finally:
        tracer.uninstall()
    assert pipeline.deterministic_centers is original
    [span] = tracer.spans
    assert span["layer"] == "ml"
    assert span["name"] == "ml.pipeline.deterministic_centers"
    assert span["parent"] is None and span["end"] >= span["start"]
    assert tracer.sc.groups == ["pb0", None, None]  # tagged, then untagged


def test_session_cpu_counts_a_reaped_child():
    from client import session_cpu_s

    before = session_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert session_cpu_s() - before >= 0.28


def test_host_scaling_cancels_a_uniformly_slower_host():
    assert host_scaled(3.0, PROBE_REF_S) == pytest.approx(3.0)
    # twice the CPU time on a host where the probe also takes twice as long
    assert host_scaled(6.0, 2 * PROBE_REF_S) == pytest.approx(3.0)
    assert 0 < host_probe_s(1000) < host_probe_s(200_000)
