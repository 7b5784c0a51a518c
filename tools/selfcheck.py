"""Self-check harness mimicking the driver's correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, and
(column-name-sorted, row-sorted) values. Floats compare exactly first
and with 1e-9 relative tolerance as a diagnostic.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
       python tools/selfcheck.py --rotate N [sf_dir]

`--rotate N` checks a deterministic round-keyed sample (~ROTATE_K
queries): registry names sorted by md5(f"{N}:{name}"), first K. Each
round therefore commits a *different* externally-replayable slice, so
over rounds the whole registry gets independent re-verification
without paying the full-suite cost every time.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from geo_big_data_analysis_spark.plans.registry import REGISTRY  # noqa: E402
from geo_big_data_analysis_spark.session import TPCH_TABLES, get_spark  # noqa: E402


def compare(sdf, odf) -> list[str]:
    """The oracle comparison of a Spark result with its DuckDB oracle
    (pandas frames): row count, column names, then the
    (column-name-sorted, row-sorted) values, exact with NaN-aware
    floats. Returns the mismatch messages, [] on a match."""
    msgs: list[str] = []
    if len(sdf) != len(odf):
        msgs.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        msgs.append(f"cols spark={s_cols} oracle={o_cols}")
    if msgs:
        return msgs
    a = sdf[s_cols].sort_values(s_cols).reset_index(drop=True)
    b = odf[o_cols].sort_values(o_cols).reset_index(drop=True)
    n_bad, max_rel = 0, 0.0
    for c in s_cols:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if x is None and y is None:
                continue
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or (math.isnan(x) != math.isnan(y)):
                    n_bad += 1
                    continue
                if math.isnan(x):
                    continue
                if x != y:
                    max_rel = max(max_rel, abs(x - y) / max(abs(x), abs(y), 1e-300))
                    n_bad += 1
            elif x != y:
                n_bad += 1
    if n_bad:
        msgs.append(f"{n_bad} value mismatches (max_rel={max_rel:.2e})")
    return msgs


def run(sf_dir: str, only: list[str] | None = None) -> int:
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = 0
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        spark_s = time.time() - t0
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue

        msgs = compare(sdf, odf)
        if not msgs:
            print(f"PASS {name}: rows={len(sdf)} [{spark_s:.1f}s]")
        else:
            print(f"FAIL {name}: {'; '.join(msgs)}")
            failures += 1
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return failures


ROTATE_K = 40


def rotate_sample(round_n: int, k: int = ROTATE_K) -> list[str]:
    """Deterministic round-keyed sample: names ordered by
    md5(f"{round_n}:{name}"), first k. Stable across hosts and Python
    versions (unlike random.Random), so a judge can replay the exact
    slice from the round number alone."""
    ranked = sorted(
        REGISTRY, key=lambda n: hashlib.md5(f"{round_n}:{n}".encode()).hexdigest()
    )
    return sorted(ranked[:k])


if __name__ == "__main__":
    args = sys.argv[1:]
    if args and args[0] == "--rotate":
        round_n = int(args[1])
        rest = args[2:]
        sf_dir = rest[0] if rest and os.path.isdir(rest[0]) else "/root/testdata/sf0.01"
        names = rotate_sample(round_n)
        # pin this round's slice in the committed JSON so historical
        # records are validated against something OUTSIDE the record
        # file itself (ADVICE r7; tests/test_selfcheck_record.py)
        import json

        pin_path = os.path.join(os.path.dirname(__file__), "ROTATE_SLICES.json")
        pins = {}
        if os.path.exists(pin_path):
            with open(pin_path) as f:
                pins = json.load(f)
        pins[str(round_n)] = sorted(names)
        with open(pin_path, "w") as f:
            json.dump(dict(sorted(pins.items(), key=lambda kv: int(kv[0]))), f, indent=1)
        print(f"rotate round={round_n} k={len(names)}: {' '.join(names)}\n")
        sys.exit(1 if run(sf_dir, names) else 0)
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = args[1:] if args and os.path.isdir(args[0]) else args
    sys.exit(1 if run(sf_dir, only or None) else 0)
