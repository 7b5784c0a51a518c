"""Assemble SELFCHECK_SF1_r{N}.txt from one or more sf1check logs.

The full sf1 sweep runs in parallel shards (and heavy queries get
re-runs after golden collection); this stitches the per-query result
lines back into one record in REGISTRY order. Later logs win (a
re-run after a fix or golden supersedes the first attempt). The
output carries the same PASS/PASSg line grammar the gating test
(tests/test_selfcheck_record.py::test_sf1_full_record) parses, plus a
tally and ALL GREEN marker only when nothing failed.

Usage: python tools/sf1stitch.py OUT.txt LOG [LOG ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_big_data_analysis_spark.plans.registry import REGISTRY  # noqa: E402

LINE = re.compile(
    r"^(PASS|PASSg|FAIL|SPARK_TIMEOUT|ORACLE_TIMEOUT)\s+(\w+): (.*)$"
)


GREEN = ("PASS", "PASSg")


def main() -> int:
    out_path, logs = sys.argv[1], sys.argv[2:]
    best: dict[str, tuple[str, str]] = {}
    for log in logs:
        # green-over-red precedence holds only WITHIN one log (a retry
        # loop in the same sweep); across logs the LATER log genuinely
        # wins, red included — otherwise a regression seen in a re-run
        # is silently dropped and the stitched record still reads ALL
        # GREEN (ADVICE r6).
        this_log: dict[str, tuple[str, str]] = {}
        with open(log) as f:
            for line in f:
                m = LINE.match(line.rstrip("\n"))
                if m:
                    tag, name, rest = m.groups()
                    prev = this_log.get(name)
                    if prev and prev[0] in GREEN and tag not in GREEN:
                        continue
                    this_log[name] = (tag, rest)
        for name, (tag, rest) in this_log.items():
            prev = best.get(name)
            if prev and prev[0] in GREEN and tag not in GREEN:
                print(
                    f"WARNING: {name} was {prev[0]} in an earlier log, "
                    f"superseded by {tag} from {log}",
                    file=sys.stderr,
                )
            best[name] = (tag, rest)
    lines = []
    n_green = n_bad = 0
    for name in REGISTRY:
        if name not in best:
            continue
        tag, rest = best[name]
        if tag in GREEN:
            n_green += 1
        else:
            n_bad += 1
        lines.append(f"{tag} {name}: {rest}")
    missing = [n for n in REGISTRY if n not in best]
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
        if missing:
            f.write(f"\nNOT RUN ({len(missing)}): {' '.join(missing)}\n")
        f.write(f"\n{n_green} green, {n_bad} red, {len(missing)} not run\n")
        if n_bad == 0 and not missing:
            f.write("ALL GREEN\n")
    print(f"{out_path}: {n_green} green, {n_bad} red, {len(missing)} not run")
    return 0 if (n_bad == 0 and not missing) else 1


if __name__ == "__main__":
    sys.exit(main())
