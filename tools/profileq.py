"""Per-query optimization profiler (guide §1): noop-sink timing +
`.explain("formatted")` capture for a set of registry queries.

For each named query:
  - builds the DataFrame once and writes plans/r08/<name>_<tag>.txt with
    the formatted physical plan,
  - times `df.write.format("noop")` (eagerly computes every column —
    guide §1.4) for N iterations, reporting the median,
  - labels jobs with a job group per phase (plan build, timed write) so
    build-time jobs are counted and any captured UI/eventlog data is
    attributable.

Usage:
  python tools/profileq.py [--sf SF_DIR] [--tag before|after] [--iters N]
                           [--plans-dir DIR] query [query ...]

Prints one line per query: `<median_sec>  <iqr>  <compiles>  <jobs>  <name>`
and a total. `compiles` is the number of classes Janino compiled across
the timed iterations (Spark's `CodegenMetrics`). After the warm run it
should be 0; a non-zero count points to a plan whose generated code
changes on every call. `jobs` is the most Spark jobs any timed iteration
fired while `fn(spark, sf)` built the plan, before the write: eager
probes, checkpoints and collects (a schema-inference job would show here
too). This is a measurement tool: it never touches the bench contract.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_big_data_analysis_spark.plans.registry import REGISTRY  # noqa: E402
from geo_big_data_analysis_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default="before")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--plans-dir", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r08"))
    ap.add_argument("--no-plan", action="store_true", help="skip plan capture (timing only)")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    os.makedirs(args.plans_dir, exist_ok=True)
    spark = get_spark("profileq")
    spark.range(10).count()  # JVM warm
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    total = 0.0
    for name in args.queries:
        fn, _ = REGISTRY[name]
        sc = spark.sparkContext
        # plan capture (once, pre-timing)
        if not args.no_plan:
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
        # warm run (codegen compile) then timed noop iterations
        sc.setJobDescription(f"profileq warm: {name}")
        try:
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - the timed runs below raise it again
            print(f"warm run failed: {name}: {type(e).__name__}: {e}", file=sys.stderr, flush=True)
        compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
        runs, jobs = [], 0
        for i in range(args.iters):
            build = f"profileq {name} build {i}"
            sc.setJobGroup(build, build)
            t0 = time.time()
            df = fn(spark, args.sf)
            sc.setJobGroup(f"profileq {name} iter {i}", f"profileq {name} iter {i}")
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
            # job-start events reach the status tracker through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = max(jobs, len(sc.statusTracker().getJobIdsForGroup(build)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles0
        runs.sort()
        med = statistics.median(runs)
        iqr = (runs[-1] - runs[0]) if len(runs) > 1 else 0.0
        total += med
        print(f"{med:8.3f} {iqr:7.3f} {compiles:5d} {jobs:5d}  {name}", flush=True)
    print(f"{total:8.3f}                      TOTAL ({len(args.queries)} queries)")


if __name__ == "__main__":
    main()
