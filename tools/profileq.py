"""Per-query optimization profiler (guide §1): noop-sink timing +
`.explain("formatted")` capture for a set of registry queries.

For each named query:
  - with `--plans-dir DIR`, builds the DataFrame once and writes
    DIR/<name>_<tag>.txt with the formatted physical plan (no plan is
    written without it, so a timing run leaves committed plans alone),
  - times `df.write.format("noop")` (eagerly computes every column —
    guide §1.4) for N iterations, reporting the median,
  - labels jobs with a job group per phase (plan build, timed write) so
    build-time jobs are counted and any captured UI/eventlog data is
    attributable.

Usage:
  python tools/profileq.py [--sf SF_DIR] [--tag before|after] [--iters N]
                           [--plans-dir DIR] query [query ...]

Prints one line per query:
`<median_sec> <iqr> <compiles> <jobs> <paths> <py_s> <jit_s> <gc_s> <task_s> <other_s>  <name>`
and a total. `compiles` is the number of classes Janino compiled across
the timed iterations (Spark's `CodegenMetrics`). After the warm run it
should be 0; a non-zero count points to a plan whose generated code
changes on every call. `jobs` is the most Spark jobs any timed iteration
fired while `fn(spark, sf)` built the plan, before the write: eager
probes, checkpoints and collects (a schema-inference job would show here
too).

`paths` counts the size-dispatch choices (`operators/dispatch`) one
timed call made: `d3/x0` is 3 driver-kernel paths and 0 distributed
ones (the most any timed call made of each). The tool wraps the two
dispatch helpers to count them; the package has no hook for it.

The `*_s` columns are CPU seconds per timed iteration (the mean), read
from `/proc` (Linux only):
  - `py_s`: Python-worker processes of the session, i.e. every
    descendant of the JVM (pyspark's daemon and its forked workers; a
    reaped worker's CPU is counted in the daemon's children's time);
  - `jit_s`, `gc_s`, `task_s`: live JVM threads named `C1/C2
    CompilerThread*`, `GC Thread*`/`G1 *`, and `Executor task launch
    worker*`;
  - `other_s`: the JVM process's CPU minus those three. Besides the
    driver, scheduler and Netty threads it holds the CPU of every
    thread that exited between the snapshots (HotSpot's dynamic
    compiler threads, per-task Python-runner threads), which a sum over
    live threads misses.
The driver's own Python process is not counted. This is a measurement
tool: it never touches the bench contract.
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_big_data_analysis_spark.operators import dispatch  # noqa: E402
from geo_big_data_analysis_spark.plans.registry import REGISTRY  # noqa: E402
from geo_big_data_analysis_spark.session import get_spark  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")
#: JVM thread name (the 15-byte ``comm``) -> CPU class
_THREAD_CLASSES = (
    ("jit", re.compile(r"C[12] CompilerThre")),
    ("gc", re.compile(r"GC Thread|G1 ")),
    ("task", re.compile(r"Executor task l")),
)


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields from 3 on) of a /proc stat file, None if it is gone."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    return head.partition("(")[2], rest.split()


def _cpu_snapshot(jvm_pid: int) -> dict:
    """CPU ticks of the JVM process, of each live JVM thread by class
    (keyed by thread id and start time, so a reused id is a new thread),
    and of the JVM's descendant processes together (Python workers)."""
    st = _stat(f"/proc/{jvm_pid}/stat")
    snap = {"jvm": int(st[1][11]) + int(st[1][12]), "threads": {}, "py": 0}
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        st = _stat(f"{task_dir}/{tid}/stat")
        if st is None:
            continue
        comm, f = st
        cls = next((c for c, pat in _THREAD_CLASSES if pat.match(comm)), None)
        if cls:
            snap["threads"][(tid, f[19])] = (cls, int(f[11]) + int(f[12]))
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(f"/proc/{pid}/stat")) is not None:
            procs[pid] = st[1]
    children: dict[str, list[str]] = {}
    for pid, f in procs.items():
        children.setdefault(f[1], []).append(pid)
    todo = list(children.get(str(jvm_pid), []))
    while todo:
        pid = todo.pop()
        f = procs[pid]
        # own time plus reaped children's: a worker that exits moves
        # into its parent's cutime/cstime, so the total stays whole
        snap["py"] += sum(int(x) for x in f[11:15])
        todo.extend(children.get(pid, []))
    return snap


def _cpu_split(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds between two snapshots: py, jit, gc, task and other."""
    out = {"py": after["py"] - before["py"], "jit": 0, "gc": 0, "task": 0}
    for key, (cls, ticks) in after["threads"].items():
        out[cls] += ticks - before["threads"].get(key, (cls, 0))[1]
    out["other"] = after["jvm"] - before["jvm"] - out["jit"] - out["gc"] - out["task"]
    return {k: v / _TICK for k, v in out.items()}


#: dispatch choices since the last reset: "d" driver, "x" distributed
_PATHS = {"d": 0, "x": 0}


def _count_paths() -> None:
    """Wrap the two dispatch helpers so every choice is counted."""
    driver_rows, fits = dispatch.driver_rows, dispatch.fits

    def counted_rows(df, cap):
        tbl = driver_rows(df, cap)
        _PATHS["x" if tbl is None else "d"] += 1
        return tbl

    def counted_fits(df, cap):
        ok = fits(df, cap)
        _PATHS["d" if ok else "x"] += 1
        return ok

    dispatch.driver_rows, dispatch.fits = counted_rows, counted_fits


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default="before")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--plans-dir", help="write each query's formatted plan here")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
    _count_paths()
    spark = get_spark("profileq")
    spark.range(10).count()  # JVM warm
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    total = 0.0
    for name in args.queries:
        fn, _ = REGISTRY[name]
        sc = spark.sparkContext
        # plan capture (once, pre-timing)
        if args.plans_dir:
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
        cpu0 = _cpu_snapshot(jvm_pid)
        runs, jobs, paths = [], 0, {"d": 0, "x": 0}
        for i in range(args.iters):
            _PATHS.update(d=0, x=0)
            build = f"profileq {name} build {i}"
            sc.setJobGroup(build, build)
            t0 = time.time()
            df = fn(spark, args.sf)
            sc.setJobGroup(f"profileq {name} iter {i}", f"profileq {name} iter {i}")
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
            paths = {k: max(v, _PATHS[k]) for k, v in paths.items()}
            # job-start events reach the status tracker through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = max(jobs, len(sc.statusTracker().getJobIdsForGroup(build)))
        cpu = _cpu_split(cpu0, _cpu_snapshot(jvm_pid))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles0
        runs.sort()
        med = statistics.median(runs)
        iqr = (runs[-1] - runs[0]) if len(runs) > 1 else 0.0
        total += med
        split = " ".join(
            f"{cpu[k] / args.iters:7.3f}" for k in ("py", "jit", "gc", "task", "other")
        )
        path_col = f"d{paths['d']}/x{paths['x']}"
        print(
            f"{med:8.3f} {iqr:7.3f} {compiles:5d} {jobs:5d} {path_col:>7} {split}  {name}",
            flush=True,
        )
    print(f"{total:8.3f}{'':71}TOTAL ({len(args.queries)} queries)")


if __name__ == "__main__":
    main()
