"""The benchmark's one client: a closed loop that issues a workload's
registry queries back to back on one ``local[nproc]`` session.

Started by ``run.py`` in a fresh working directory the run owns (stored
indexes and stream sinks land in ``spark-warehouse/`` under it), with
``PYTHONPATH`` at the repository so Python workers import the package.

  1. Set up, timed from process start: start the session, run the
     check pass, each query once with its result collected, which also
     builds the stored artifacts the queries read, then one untimed pass
     of the timed loop's calls, so that the JIT compilation the first
     noop writes set off is not charged to the timed calls. The results
     are fingerprinted after the set-up clock stops.
  2. Timed loop: whole passes over the queries until ``--seconds`` have
     elapsed. One call runs from invoking the registry function until a
     noop-sink write of the result returns, so every output column is
     computed (``count()`` would let Catalyst prune them). Each call
     records its wall time, the CPU time the client's whole process
     session (this process, its JVM and the Python workers) spent in it,
     and the mean of the host probes (``stats.host_probe_s``) run just
     before and just after it, outside its timing. The loop makes at
     least two passes, so that the number of timed passes, which the
     still-warming JVM makes cheaper one after another, does not change
     with the host's speed.
  3. ``--trace 1``: half the time untraced, then the layer wrappers go
     in and the other half runs traced, with a Spark event log.

Writes one JSON document to ``--out``; prints nothing.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from stats import fingerprint, host_probe_s  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds (user and system, reaped children included) spent so
    far by every process in this client's session: the client, the JVM
    it launched and the JVM's Python workers. The kernel leaves time
    stolen by the hypervisor out of these counters, so they do not grow
    when a shared host runs other guests' work."""
    sid, ticks = os.getsid(0), 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                f = fh.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        # after the command: state ppid pgrp session ... utime stime cutime cstime
        if int(f[3]) == sid:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def _timed_passes(spark, fns, sf_dir, seconds, min_passes=1, tracer=None):
    """Whole passes until ``seconds`` have elapsed and at least
    ``min_passes`` passes were made.
    Returns (calls, wall seconds, passes); a call is
    ``[query, wall seconds, CPU seconds, error or None, probe seconds]``."""
    calls, passes = [], 0
    t_start = time.time()
    probe = host_probe_s()
    while True:
        passes += 1
        for name, fn in fns:
            err = None
            cpu0 = session_cpu_s()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                else:
                    tracer.query = name
                    sid = tracer.begin(f"plans.{name}", "plans", "build")
                    try:
                        df = fn(spark, sf_dir)
                    finally:
                        tracer.end(sid)
                    sid = tracer.begin("spark.action", "spark", "action")
                    try:
                        df.write.format("noop").mode("overwrite").save()
                    finally:
                        tracer.end(sid)
            except Exception as e:  # noqa: BLE001 - a failed call is counted, the loop goes on
                err = f"{type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc()
            wall = time.perf_counter() - t0
            cpu = session_cpu_s() - cpu0
            after = host_probe_s()
            calls.append([name, wall, cpu, err, (probe + after) / 2])
            probe = after
        if time.time() - t_start >= seconds and passes >= min_passes:
            return calls, time.time() - t_start, passes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    from geo_big_data_analysis_spark.plans.registry import REGISTRY
    from geo_big_data_analysis_spark.session import get_spark

    fns = [(q, REGISTRY[q][0]) for q in wl.queries]
    conf = {}
    if args.trace:
        os.makedirs("eventlog", exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath("eventlog"),
            "spark.eventLog.compress": "false",
        }

    # set-up: session start, the check pass, which also primes the
    # stored artifacts the queries read, and one warm pass of the timed
    # calls; timed from process start
    t_session = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    t_warm = time.time()
    session_s = t_warm - t_session
    results, probes = {}, [host_probe_s()]
    for name, fn in fns:
        try:
            results[name] = fn(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - recorded as this query's check failure
            results[name] = f"{type(e).__name__}: {str(e)[:300]}"
            traceback.print_exc()
        probes.append(host_probe_s())
    warm, _, _ = _timed_passes(spark, fns, args.sf_dir, 0)
    setup_end = time.time()
    setup_cpu_s = session_cpu_s()
    setup_probe_s = statistics.mean(probes + [c[4] for c in warm])
    setup_s, warm_s = setup_end - T_PROCESS_START, setup_end - t_warm
    # a fingerprint, or the error the query raised
    checks = {
        name: "error: " + res if isinstance(res, str) else fingerprint(res)
        for name, res in results.items()
    }
    del results

    doc = {"setup_s": setup_s, "setup_cpu_s": setup_cpu_s, "setup_probe_s": setup_probe_s,
           "session_start_s": session_s,
           "warm_s": warm_s, "checks": checks}
    if not args.trace:
        calls, wall, passes = _timed_passes(
            spark, fns, args.sf_dir, args.seconds, min_passes=2
        )
        doc.update(calls=calls, wall_s=wall, passes=passes)
        spark.stop()
    else:
        from spans import Tracer, layer_metrics, per_query, read_jobs

        calls, wall, passes = _timed_passes(spark, fns, args.sf_dir, args.seconds / 2)
        tracer = Tracer(spark.sparkContext)
        tracer.install()
        try:
            t_calls, t_wall, t_passes = _timed_passes(
                spark, fns, args.sf_dir, args.seconds / 2, tracer=tracer
            )
        finally:
            tracer.uninstall()
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes the event log
        jobs = read_jobs("eventlog", app_id)
        doc.update(
            calls=calls, wall_s=wall, passes=passes,
            traced={"calls": t_calls, "wall_s": t_wall, "passes": t_passes},
            layers=layer_metrics(tracer.spans, jobs, t_passes),
            per_query=per_query(tracer.spans, jobs, t_passes),
        )
    with open(args.out, "w") as fh:
        json.dump(doc, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
