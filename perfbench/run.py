"""Repository benchmark: one seeded, oracle-checked workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from ``--seed`` with
``tools/scalegen.generate`` (cached under ``.perfbench/inputs``), runs
``client.py`` in a fresh working directory under ``.perfbench/run``,
checks every query's result against a fingerprint of its DuckDB oracle
computed on the same inputs, and prints one JSON line last on stdout:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything else (progress, Spark's log summary) goes to
stderr; the full record of the run is written to ``.perfbench/results``.

The end-to-end metrics are CPU time of the client's process session
(client, JVM and Python workers), scaled to a reference host speed:
``setup_s`` from process start to the first timed call, the median of
one query call (``query_cpu_s_p50``), and query calls completed per
scaled CPU second (``queries_per_cpu_s``). On a shared host, wall time
moves by more than a factor of two between runs with what other guests
run; CPU time leaves out the time the hypervisor gives to them but still
grows when they share the cores' caches, hyperthreads and clock. So each
call's CPU time is multiplied by ``stats.PROBE_REF_S`` over the time a
fixed pure-Python loop took just before and after it, a measure of the
host's speed that no change to the program moves. The unscaled CPU and
wall-time figures (``setup_cpu_s``, ``setup_wall_s``, ``query_s_p50``,
``queries_per_s``, ...) are logged and kept in the run's detail file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import TAIL_BEYOND, fingerprint, host_scaled, tail_percentile  # noqa: E402
from workloads import DRIVER_MEMORY, WORKLOADS  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
#: a run must end within this many seconds
RUN_LIMIT_S = 175


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def inputs(sf: float, seed: int) -> str:
    """Inputs for (sf, seed), generated once and cached."""
    out = os.path.join(STATE, "inputs", f"sf{sf:g}-seed{seed}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import scalegen

    scalegen.SEED = seed  # generate() reads the module seed at call time
    shutil.rmtree(out, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        scalegen.generate(sf, out)
    open(os.path.join(out, ".done"), "w").close()
    return out


def oracle_fingerprints(sf_dir: str, queries) -> dict[str, str]:
    """DuckDB oracle fingerprint per query on ``sf_dir``, cached beside
    the inputs."""
    path = os.path.join(sf_dir, "oracle.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
    missing = [q for q in queries if q not in cached]
    if missing:
        import duckdb

        from geo_big_data_analysis_spark.plans.registry import REGISTRY
        from geo_big_data_analysis_spark.session import TPCH_TABLES

        con = duckdb.connect()
        for t in TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for q in missing:
            cached[q] = fingerprint(con.execute(REGISTRY[q][1]).fetchdf())
        con.close()
        with open(path, "w") as fh:
            json.dump(cached, fh)
    return {q: cached[q] for q in queries}


class TreeRss:
    """High-water resident memory of a process and its descendants
    (client Python, its JVM and the Python workers), sampled from
    /proc every quarter second. Used in traced runs only: the scan of
    /proc costs CPU that untraced timings must not pay."""

    def __init__(self, pid: int):
        self.pid, self.peak_kb = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _tree_kb(root: int) -> int:
        kids: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{d}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            rss[int(d)] = int(line.split()[1])
                            break
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(kids.get(p, []))
        return total

    def _run(self) -> None:
        while not self._stop.wait(0.25):
            self.peak_kb = max(self.peak_kb, self._tree_kb(self.pid))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def run_client(workload: str, sf_dir: str, seconds: float, trace: int,
               run_dir: str, deadline: float) -> tuple[dict, float]:
    """Run the client in ``run_dir``, its output in ``spark.log`` there;
    returns (its record, peak RSS MB when traced). Stops the client's
    whole process group at the deadline or on exit, and waits until
    every process in it has ended."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # every JVM, the launcher's too: temp files in the run directory
        # and no /tmp/hsperfdata entry
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    out = os.path.join(run_dir, "client.json")
    log_path = os.path.join(run_dir, "spark.log")
    cmd = [sys.executable, os.path.join(HERE, "client.py"), "--workload", workload,
           "--sf-dir", sf_dir, "--seconds", str(seconds), "--trace", str(trace),
           "--out", out]
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        rss = TreeRss(proc.pid) if trace else None
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("client over its time limit; stopping it")
        finally:
            _end_group(proc)
            peak = rss.stop() if rss else None
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"client exited with {proc.returncode}; see its log in {STATE}/results")
    with open(out) as fh:
        return json.load(fh), peak


def _end_group(proc: subprocess.Popen) -> None:
    """Terminate what is left of the client's process group (its JVM and
    Python workers) and wait until all of it has ended."""
    def alive() -> bool:
        proc.poll()  # reap the leader, or its zombie keeps the group alive
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return False
        return True

    for sig in (signal.SIGTERM, signal.SIGKILL):
        t_end = time.time() + 5.0
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, sig)
        while alive() and time.time() < t_end:
            time.sleep(0.05)
        if not alive():
            break
    proc.wait()


def log_health(log_path: str) -> dict[str, int]:
    """Counts of ERROR and WindowExec lines in the client's Spark log."""
    n_err = n_win = 0
    with open(log_path, errors="replace") as fh:
        for line in fh:
            n_err += " ERROR " in line
            n_win += "WindowExec" in line
    return {"log_error_lines": n_err, "log_windowexec_lines": n_win}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.time()
    # on SIGTERM, unwind so the client's process group is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("BENCHMARK.json", "geo_big_data_analysis_spark",
                 os.path.join("tools", "scalegen.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found: run from the repository root")
            return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    t0 = time.time()
    sf_dir = inputs(wl.sf, args.seed)
    oracle = oracle_fingerprints(sf_dir, wl.queries)
    log(f"inputs and oracle for seed {args.seed} ready in {time.time() - t0:.1f}s")

    run_dir = os.path.join(STATE, "run", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    try:
        rec, peak_mb = run_client(
            args.workload, sf_dir, args.seconds, args.trace, run_dir,
            deadline=t_begin + RUN_LIMIT_S,
        )
    finally:
        log_path = os.path.join(run_dir, "spark.log")
        if os.path.exists(log_path):
            shutil.copy(log_path, stem + ".log")
        shutil.rmtree(run_dir, ignore_errors=True)
    health = log_health(stem + ".log")

    # correctness: each query's set-up result must match its oracle
    bad_query = {}
    for q, r in rec["checks"].items():
        if r != oracle[q]:
            bad_query[q] = r if r.startswith("error: ") else f"fingerprint {r} != oracle {oracle[q]}"
    calls = rec["calls"]  # [query, wall s, CPU s, error or None, probe s]
    all_calls = calls + rec.get("traced", {}).get("calls", [])
    failed = [c for c in all_calls if c[3] is not None or c[0] in bad_query]
    ok = [c for c in calls if c[3] is None and c[0] not in bad_query]
    lat = [c[1] for c in calls if c[3] is None]
    pct, tail = tail_percentile(lat) if len(lat) > TAIL_BEYOND else (None, None)
    # gated: host-scaled CPU time of the client's process session
    e2e = {
        "setup_s": host_scaled(rec["setup_cpu_s"], rec["setup_probe_s"]),
        "query_cpu_s_p50": statistics.median(
            host_scaled(c[2], c[4]) for c in calls if c[3] is None),
        "queries_per_cpu_s": len(ok) / sum(host_scaled(c[2], c[4]) for c in calls),
    }
    # reported beside them: the same unscaled, and in wall time
    raw = {
        "setup_cpu_s": rec["setup_cpu_s"],
        "query_raw_cpu_s_p50": statistics.median(c[2] for c in calls if c[3] is None),
        "setup_wall_s": rec["setup_s"],
        "query_s_p50": statistics.median(lat),
        "queries_per_s": len(ok) / rec["wall_s"],
        "setup_probe_s": rec["setup_probe_s"],
        "probe_s": statistics.median(c[4] for c in calls),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": wl.sf,
        "seconds": args.seconds, "trace": args.trace,
        "attempted": len(all_calls), "failed": len(failed),
        "failed_frac": len(failed) / len(all_calls),
        "failed_queries": bad_query,
        "call_errors": sorted({f"{c[0]}: {c[3]}" for c in all_calls if c[3]}),
        # with a few dozen calls per run this percentile is at or below
        # the median, so it is recorded here but not gated
        "query_s_tail": tail, "tail_percentile": pct, "tail_samples": len(lat),
        "passes": rec["passes"],
        "end_to_end": e2e, "unscaled": raw,
        "calls": calls,
        "health": health, "run_s": time.time() - t_begin,
    }
    if args.trace:
        layers = dict(rec["layers"])
        layers["session.start_s"] = rec["session_start_s"]
        layers["session.warm_s"] = rec["warm_s"]
        layers["session.peak_rss_mb"] = peak_mb
        # CPU seconds per pass, like the gated end-to-end metrics
        untraced = sum(c[2] for c in calls) / rec["passes"]
        traced = sum(c[2] for c in rec["traced"]["calls"]) / rec["traced"]["passes"]
        layers["trace.untraced_pass_cpu_s"] = untraced
        layers["trace.traced_pass_cpu_s"] = traced
        layers["trace.overhead_share"] = traced / untraced - 1.0
        detail.update(layers=layers, per_query=rec["per_query"])
        values, specs = layers, bench["per_layer"]
    else:
        values, specs = e2e, bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1)
    tail_note = f"tail p{pct:.1f} of {len(lat)} = {tail:.3f}s, " if tail else ""
    log(f"{args.workload} seed {args.seed}: {len(all_calls)} calls, {len(failed)} failed "
        f"({', '.join(sorted(bad_query)) or 'none'}), {tail_note}"
        + "".join(f"{k} {v:.3f}, " for k, v in {**e2e, **raw}.items()) +
        f"health {health}, run {detail['run_s']:.1f}s")
    print(json.dumps({"correct": not failed, "attempted": len(all_calls),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
