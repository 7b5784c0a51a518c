"""Run the benchmark over several seeds and judge its steadiness.

    python3 perfbench/repeat.py --seeds 1-10 [--workloads a,b] [--trace 0|1]
                                [--tag NAME] [--compare OTHER_TAG]

Runs ``run.py`` once per (workload, seed), in sequence, and prints for
each end-to-end metric its median and its quartile spread (as a share
of the median) against the bound in ``BENCHMARK.json``. The values are
saved as ``.perfbench/repeat-<tag>.json``; ``--compare`` then applies
the two-set agreement test (each set's spread within the bound, except
``setup_s``, and the second median no worse than the first by more
than the bound) against an earlier set.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import agreement, quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tag", default="last")
    ap.add_argument("--compare")
    args = ap.parse_args()
    specs = bench["per_layer"] if args.trace else bench["end_to_end"]

    values: dict[str, dict[str, list[float]]] = {}
    for wl in args.workloads.split(","):
        values[wl] = {m["name"]: [] for m in specs}
        for seed in _seeds(args.seeds):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(args.trace)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if out.returncode != 0:
                print(f"{wl} seed {seed}: exit {out.returncode}", flush=True)
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            for name, m in res["metrics"].items():
                values[wl].setdefault(name, []).append(m["value"])
            print(f"{wl} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}{v['unit']}" for k, v in res["metrics"].items()),
                  flush=True)
    with open(os.path.join(".perfbench", f"repeat-{args.tag}.json"), "w") as fh:
        json.dump(values, fh, indent=1)

    earlier = None
    if args.compare:
        with open(os.path.join(".perfbench", f"repeat-{args.compare}.json")) as fh:
            earlier = json.load(fh)
    ok = True
    for wl, metrics in values.items():
        for m in specs:
            vals = metrics.get(m["name"], [])
            if len(vals) < 2:
                continue
            line = (f"{wl:18s} {m['name']:28s} median {statistics.median(vals):12.5g} "
                    f"spread {quartile_spread(vals) if len(vals) > 2 and statistics.median(vals) else 0:.4f}")
            if "bound" in m:
                line += f" bound {m['bound']}"
                if earlier is not None:
                    problems = agreement(earlier[wl][m["name"]], vals, m["bound"], m["better"],
                                         check_spread=m["name"] != "setup_s")
                    ok &= not problems
                    line += "  " + ("; ".join(problems) or "agrees")
            print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
