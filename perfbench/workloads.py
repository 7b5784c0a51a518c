"""Workloads and deployment settings of the benchmark.

Each workload is a fixed list of registry queries run at one scale
factor on inputs that ``tools/scalegen.generate`` makes from the run's
seed. Why each exists is in ``BENCHMARK.json``; the query lists are
sized so that set-up, the correctness check and the timed loop of one
run fit the benchmark's time budget on a 4-core box.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]


WORKLOADS = {
    # Driver-side kernels, eager build-time jobs, a pandas UDF and a
    # probe of a stored index primed in set-up: plan build is a large
    # share of a call.
    "pipelines_sf0.1": Workload(0.1, (
        "lab1_noise_pipeline",
        "lab2_taxi_features",
        "pagerank_mod",
        "raster_sample_stats",
        "near_dup_probe_stored",
    )),
    # TPC-H-shaped SQL and window analytics, no Python kernels: most of
    # a call is the action. The bypass workload for dispatch and kernel
    # changes.
    "relational_sf0.1": Workload(0.1, (
        "pricing_summary",
        "top_revenue_customers",
        "region_nation_rollup",
        "custdist_orders",
        "top_customers_per_nation",
        "window_suite_orders",
        "cohort_retention",
        "user_sessions",
    )),
}

#: deployment settings: the session runs ``local[nproc]`` with this
#: much driver memory, well under the box's physical RAM
DRIVER_MEMORY = "2g"
