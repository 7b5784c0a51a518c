"""Traced run support: spans around every public function of each
layer module, one Spark job group per span, and the Spark event log
parsed into per-layer counters.

The program is not edited. ``Tracer.install`` replaces each public
function of a layer module (and every name ``plans/registry.py``
imported from one) with a wrapper that records a span and tags the
Spark jobs fired inside it; ``Tracer.uninstall`` puts the originals
back. A wrapper carries its function's ``__module__`` and
``__qualname__`` and is what the module attribute resolves to, so
cloudpickle still ships the function to Python workers by reference and
the worker runs the original.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import time
from collections import defaultdict

from stats import self_times

PACKAGE = "geo_big_data_analysis_spark"

#: the program's layer packages; every public function of each of their
#: modules is wrapped in the traced passes
LAYERS = ("operators", "functions", "sources", "graph", "ml", "streaming")


class Tracer:
    """Spans kept in memory; written out by the client when the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.query = None
        self._saved: list[tuple[object, str, object]] = []

    def begin(self, name: str, layer: str, phase: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "layer": layer, "phase": phase,
            "query": self.query,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.time(), "end": None,
        })
        self.stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", f"{self.query}|{phase}|{name}")
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self.stack.pop()
        if self.stack:
            parent = self.spans[self.stack[-1]]
            self.sc.setJobGroup(
                f"pb{parent['id']}",
                f"{parent['query']}|{parent['phase']}|{parent['name']}",
            )
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, layer: str):
        name = f"{fn.__module__.removeprefix(PACKAGE + '.')}.{fn.__qualname__}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            phase = tracer.spans[tracer.stack[-1]]["phase"] if tracer.stack else "other"
            sid = tracer.begin(name, layer, phase)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sid)

        return wrapper

    def install(self) -> None:
        wrapped: dict[int, object] = {}
        for layer in LAYERS:
            pkg = importlib.import_module(f"{PACKAGE}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or not inspect.isfunction(obj):
                        continue
                    if obj.__module__ != mod.__name__:
                        continue
                    w = self._wrap(obj, layer)
                    wrapped[id(obj)] = w
                    self._saved.append((mod, attr, obj))
                    setattr(mod, attr, w)
        registry = importlib.import_module(f"{PACKAGE}.plans.registry")
        for attr, obj in list(vars(registry).items()):
            if id(obj) in wrapped:
                self._saved.append((registry, attr, obj))
                setattr(registry, attr, wrapped[id(obj)])

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._saved):
            setattr(mod, attr, obj)
        self._saved.clear()


# -- event log -----------------------------------------------------------

def _event_log_lines(log_dir: str, app_id: str):
    """Lines of an application's event log: one file, or (Spark's
    rolling format) a directory of numbered ``events_<n>_`` files."""
    for name in os.listdir(log_dir):
        if app_id not in name:
            continue
        path = os.path.join(log_dir, name)
        files = [path]
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            files = [os.path.join(path, f)
                     for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
        for f in files:
            with open(f) as fh:
                yield from fh
        return
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_jobs(log_dir: str, app_id: str) -> list[dict]:
    """One record per Spark job: group, submit time and the task
    counters summed over the stages it ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _event_log_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            stage_ids = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            jobs[jid] = {
                "job": jid, "group": props.get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1000.0,
                "stages": set(stage_ids), "ran": set(),
                "tasks": 0, "failed_tasks": 0, "busy_ms": 0, "gc_ms": 0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                "output_bytes": 0, "python_sent": 0,
            }
            for sid in stage_ids:
                stage_job[sid] = jid
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]]["ran"].add(sid)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            j = jobs[jid]
            j["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                j["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            j["busy_ms"] += m.get("Executor Run Time", 0)
            j["gc_ms"] += m.get("JVM GC Time", 0)
            j["spill"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            j["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == "data sent to Python workers":
                    j["python_sent"] += int(acc.get("Update") or 0)
    return list(jobs.values())


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """Jobs per span: by job group where the group is a span's, else
    (streaming micro-batches run under their own group) the innermost
    span whose interval holds the job's submission."""
    by_span: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        g = j["group"] or ""
        sid = int(g[2:]) if g.startswith("pb") and g[2:].isdigit() else None
        if sid is None or sid >= len(spans):
            sid = None
            for s in spans:
                if s["start"] <= j["submit"] <= s["end"]:
                    if sid is None or s["start"] >= spans[sid]["start"]:
                        sid = s["id"]
        if sid is not None:
            by_span[sid].append(j)
    return by_span


def layer_metrics(spans: list[dict], jobs: list[dict], passes: int) -> dict[str, float]:
    """Per-layer metrics per traced pass (sums divided by ``passes``)."""
    selft = self_times(spans)
    by_span = attribute_jobs(spans, jobs)
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])

    def subtree(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children[cur])
        return out

    def jobs_under(sid: int) -> list[dict]:
        return [j for x in subtree(sid) for j in by_span.get(x, [])]

    out: dict[str, float] = defaultdict(float)
    for layer in LAYERS:
        for stat in ("calls", "self_s", "jobs"):
            out[f"{layer}.{stat}"] = 0.0
        for s in spans:
            if s["layer"] == layer:
                out[f"{layer}.calls"] += 1
                out[f"{layer}.self_s"] += selft[s["id"]]
                out[f"{layer}.jobs"] += len(by_span.get(s["id"], []))

    ensure = [s for s in spans if s["name"].startswith("sources.ann_index.ensure_")]
    hits = sum(
        1 for s in ensure
        if not any(
            spans[x]["name"].startswith(("sources.ann_index.build_", "sources.ann_index.upsert_"))
            for x in subtree(s["id"])
        )
    )
    out["sources.ensure_calls"] = len(ensure)
    out["sources.index_hit_ratio"] = hits / len(ensure) if ensure else 0.0

    build = [s for s in spans if s["layer"] == "plans"]
    action = [s for s in spans if s["layer"] == "spark"]
    out["plans.build_s"] = sum(s["end"] - s["start"] for s in build)
    out["plans.build_jobs"] = sum(len(jobs_under(s["id"])) for s in build)
    out["spark.action_s"] = sum(s["end"] - s["start"] for s in action)
    total = out["plans.build_s"] + out["spark.action_s"]
    out["plans.build_share"] = out["plans.build_s"] / total if total else 0.0

    action_jobs = [j for s in action for j in jobs_under(s["id"])]
    stages = sum(len(j["stages"]) for j in action_jobs)
    ran = sum(len(j["ran"]) for j in action_jobs)
    out["spark.action_jobs"] = len(action_jobs)
    out["spark.stages"] = ran
    out["spark.stages_skipped_ratio"] = (stages - ran) / stages if stages else 0.0
    out["spark.tasks"] = sum(j["tasks"] for j in action_jobs)
    out["spark.failed_tasks"] = sum(j["failed_tasks"] for j in action_jobs)
    out["spark.shuffle_read_bytes"] = sum(j["shuffle_read"] for j in action_jobs)
    out["spark.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in action_jobs)
    out["spark.spill_bytes"] = sum(j["spill"] for j in action_jobs)
    out["spark.task_busy_s"] = sum(j["busy_ms"] for j in action_jobs) / 1000.0
    out["spark.gc_s"] = sum(j["gc_ms"] for j in action_jobs) / 1000.0
    out["spark.python_bytes_sent"] = sum(j["python_sent"] for j in action_jobs)
    out["spark.parallelism"] = (
        out["spark.task_busy_s"] / out["spark.action_s"] if out["spark.action_s"] else 0.0
    )
    out["sources.bytes_written"] = sum(
        j["output_bytes"] for js in by_span.values() for j in js)

    ratios = {"sources.index_hit_ratio", "plans.build_share",
              "spark.stages_skipped_ratio", "spark.parallelism"}
    return {k: (v if k in ratios else v / passes) for k, v in out.items()}


def per_query(spans: list[dict], jobs: list[dict], passes: int) -> dict[str, dict]:
    """Per query: build and action seconds and jobs, and the jobs fired
    inside each layer's spans, per pass — the breakdown the detail file
    keeps for reading a workload's design off the trace."""
    by_span = attribute_jobs(spans, jobs)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        q = out[s["query"]]
        n_jobs = len(by_span.get(s["id"], []))
        if s["layer"] == "plans":
            q["build_s"] += (s["end"] - s["start"]) / passes
        elif s["layer"] == "spark":
            q["action_s"] += (s["end"] - s["start"]) / passes
        q[f"{s['layer']}.jobs"] += n_jobs / passes
    return {k: dict(v) for k, v in out.items()}
