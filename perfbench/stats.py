"""Pure statistics for the benchmark: latency summaries, the two-run
agreement test, result fingerprints and span self time.

Nothing here touches Spark, so the benchmark's own arithmetic is tested
in isolation (``perfbench/test_perfbench.py``).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import statistics
import time

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10

#: the host probe's median CPU time on the 4-vCPU Xeon VM this benchmark
#: was defined on, with nothing else of the benchmark running
PROBE_REF_S = 0.045


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    above it: the ``TAIL_BEYOND + 1``-th largest sample, at percentile
    ``100 * (n - TAIL_BEYOND) / n``. Returns ``(percentile, value)``;
    raises ``ValueError`` when there are too few samples."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples cannot leave {TAIL_BEYOND} beyond a percentile")
    ordered = sorted(samples)
    return 100.0 * (n - TAIL_BEYOND) / n, ordered[n - TAIL_BEYOND - 1]


def host_probe_s(steps: int = 500_000) -> float:
    """CPU seconds a fixed pure-Python loop takes on this host now. On a
    shared host it grows with what other guests run on the same cores
    (shared caches, sibling hyperthreads, clock speed), as the program's
    own CPU time does."""
    t0 = time.process_time()
    x = 0
    for i in range(steps):
        x = (x * 31 + i) & 0xFFFF
    return time.process_time() - t0


def host_scaled(cpu_s: float, probe_s: float) -> float:
    """CPU seconds scaled to the reference host speed: what ``cpu_s``
    would have been had the probe taken ``PROBE_REF_S``."""
    return cpu_s * PROBE_REF_S / probe_s


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def agreement(first: list[float], second: list[float], bound: float, better: str,
              check_spread: bool = True) -> list[str]:
    """The two-run agreement test for one metric: each set's quartile
    spread within ``bound`` (unless ``check_spread`` is off) and the
    second median no worse than the first by more than ``bound``.
    Returns the violations (empty = agree)."""
    problems = []
    if check_spread:
        for label, vals in (("first", first), ("second", second)):
            spread = quartile_spread(vals)
            if spread > bound:
                problems.append(f"{label} spread {spread:.4f} > {bound}")
    m1, m2 = statistics.median(first), statistics.median(second)
    drift = ((m2 - m1) if better == "lower" else (m1 - m2)) / m1
    if drift > bound:
        problems.append(f"second median worse by {drift:.4f} > {bound}")
    return problems


def _canon(v):
    """One value in an engine-neutral form: integral floats and ints
    compare equal, NaN and NULL both read as None, timestamps as ISO
    text, containers element-wise."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, str):
        return v
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat") and hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return v.to_pydatetime().isoformat()
    if hasattr(v, "tolist"):  # numpy scalar or array
        v = v.tolist()
        if isinstance(v, list):
            return tuple(_canon(x) for x in v)
        return _canon(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    return repr(v)


def fingerprint(df) -> str:
    """Order-insensitive value fingerprint of a pandas frame: column
    names sorted, every value canonicalised, rows hashed in sorted
    order. Two engines' results for one query hash equal exactly when
    they hold the same multiset of rows."""
    cols = sorted(df.columns)
    rows = sorted(
        repr(tuple(_canon(v) for v in row))
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5("|".join(cols).encode())
    h.update(str(len(rows)).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its direct
    children's intervals (children of one parent run one after another
    in this single-threaded client, but overlap is still merged)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
