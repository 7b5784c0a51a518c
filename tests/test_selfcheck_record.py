"""Gate on the committed full-suite selfcheck record and the generated
surface counts.

The driver's per-round correctness gate samples ~50 queries; the
committed ``SELFCHECK_r{N}.txt`` is the only artifact proving the other
~220 (VERDICT r3 "Next" #8). These tests make that artifact load-bearing:
a silently-skipped registry query can't claim coverage, and the
README/COVERAGE counts can't drift from ``len(REGISTRY)`` again
(VERDICT r3 "What's wrong" #3).
"""

from __future__ import annotations

import glob
import os
import re

from geo_big_data_analysis_spark.plans.registry import REGISTRY

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_record() -> str:
    records = sorted(glob.glob(os.path.join(ROOT, "SELFCHECK_r*.txt")))
    assert records, "no SELFCHECK_r{N}.txt committed"
    return records[-1]


def test_selfcheck_record_names_every_registry_query():
    path = _latest_record()
    with open(path) as f:
        text = f.read()
    passed = set(re.findall(r"^PASS (\w+):", text, re.MULTILINE))
    missing = sorted(set(REGISTRY) - passed)
    assert not missing, (
        f"{os.path.basename(path)} does not cover {len(missing)} registry "
        f"queries (stale record — rerun tools/selfcheck.py and commit): "
        f"{missing[:10]}"
    )


def test_selfcheck_record_all_green():
    path = _latest_record()
    with open(path) as f:
        text = f.read()
    fails = re.findall(r"^FAIL .*$", text, re.MULTILINE)
    assert not fails, f"{os.path.basename(path)} records failures: {fails[:5]}"
    assert "ALL GREEN" in text


def test_doc_counts_match_registry():
    total = len(REGISTRY)
    with open(os.path.join(ROOT, "README.md")) as f:
        readme = f.read()
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        coverage = f.read()
    assert f"{total} registry queries (each" in readme, (
        "README.md surface counts drifted — run `python tools/counts.py write`"
    )
    assert f"{total} registry queries, each oracle-checked" in coverage, (
        "COVERAGE.md surface counts drifted — run `python tools/counts.py write`"
    )


def test_rotate_sample_deterministic_and_round_varying():
    import sys
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from selfcheck import ROTATE_K, rotate_sample

    r5, r6 = rotate_sample(5), rotate_sample(6)
    assert r5 == rotate_sample(5)                 # deterministic
    assert len(r5) == ROTATE_K
    assert set(r5) <= set(REGISTRY)
    assert r5 != r6                               # rotation actually rotates
    # consecutive rounds must re-verify a substantially different slice
    assert len(set(r5) & set(r6)) < ROTATE_K // 2


def test_rotate_record_matches_its_round():
    """If a SELFCHECK_ROTATE_r{N}.txt is committed, its query set must be
    exactly rotate_sample(N) and all green. The sf1 twin
    SELFCHECK_SF1_r{N}.txt is the same rotate slice run on the scalegen
    sf1 fixtures MINUS oracle-heavy entries (the DuckDB replay of
    LSH/minhash/tokenizer-training pipelines is super-linear in SQL at
    sf1 even where the Spark side is linear — see COVERAGE.md header):
    it must be a ≥25-query SUBSET of rotate_sample(N), all green."""
    import sys
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from selfcheck import rotate_sample

    def parse(path):
        with open(path) as f:
            text = f.read()
        passed = set(re.findall(r"^(?:PASS|ok\? ) (\w+):", text, re.MULTILINE))
        assert not re.findall(r"^FAIL ", text, re.MULTILINE), path
        assert "ALL GREEN" in text, path
        return passed

    rotate_paths = sorted(glob.glob(os.path.join(ROOT, "SELFCHECK_ROTATE_r*.txt")))
    import json
    with open(os.path.join(ROOT, "tools", "ROTATE_SLICES.json")) as f:
        pinned = {int(k): set(v) for k, v in json.load(f).items()}
    for path in rotate_paths:
        n = int(re.search(r"_r(\d+)\.txt$", path).group(1))
        # HISTORICAL records are pinned to the slice committed in
        # tools/ROTATE_SLICES.json — rotate_sample(n) is computed over
        # the CURRENT registry, and adding a query can retroactively
        # reshuffle an old round's md5 ranking (r7's srp_near_dup_split
        # displaced a name from round 6's slice). The pin lives OUTSIDE
        # the record file (ADVICE r7: a record whose header and body
        # were edited consistently must not self-certify). Only the
        # LATEST record must match the live registry's sample.
        with open(path) as f:
            header = f.readline()
        m = re.match(r"rotate round=(\d+) k=(\d+): (.*)", header)
        assert m and int(m.group(1)) == n, path
        stamped = set(m.group(3).split())
        assert n in pinned, (
            f"round {n} rotate record has no pinned slice — add it to "
            "tools/ROTATE_SLICES.json when committing the record"
        )
        assert stamped == pinned[n], os.path.basename(path)
        assert parse(path) == stamped, os.path.basename(path)
        if path == rotate_paths[-1]:
            assert stamped == set(rotate_sample(n)), os.path.basename(path)
    for path in sorted(glob.glob(os.path.join(ROOT, "SELFCHECK_SF1_r*.txt"))):
        n = int(re.search(r"_r(\d+)\.txt$", path).group(1))
        passed = parse(path)
        if n <= 5:
            # r5 convention: a rotate-slice subset
            assert passed <= set(rotate_sample(n)), os.path.basename(path)
            assert len(passed) >= 25, os.path.basename(path)


def test_sf10_rotate_record():
    """r8+ (VERDICT r7 "Next" #5): SELFCHECK_SF10_r{N}.txt is a
    rotating ~15-query cross-engine slice at sf10 (tools/sf1check.py
    --rotate-sf10), accumulating second-decade coverage round over
    round the way rotate slices did for sf0.01. Slices are pinned in
    tools/SF10_SLICES.json (outside the record file); every record
    must be all green with zero timeouts."""
    import json
    import sys
    sys.path.insert(0, os.path.join(ROOT, "tools"))

    paths = sorted(glob.glob(os.path.join(ROOT, "SELFCHECK_SF10_r*.txt")))
    assert paths, "no SELFCHECK_SF10_r{N}.txt committed (r8+ gate)"
    with open(os.path.join(ROOT, "tools", "SF10_SLICES.json")) as f:
        pinned = {int(k): set(v) for k, v in json.load(f).items()}
    for path in paths:
        n = int(re.search(r"_r(\d+)\.txt$", path).group(1))
        with open(path) as f:
            text = f.read()
        assert "ALL GREEN" in text, path
        assert not re.findall(
            r"^(FAIL|SPARK_TIMEOUT|ORACLE_TIMEOUT) ", text, re.MULTILINE
        ), path
        m = re.match(r"rotate-sf10 round=(\d+) k=(\d+): (.*)", text.splitlines()[0])
        assert m and int(m.group(1)) == n, path
        stamped = set(m.group(3).split())
        assert n in pinned and stamped == pinned[n], os.path.basename(path)
        green = set(
            re.findall(r"^(?:PASS|PASSg|ok\?)\s+(\w+):", text, re.MULTILINE)
        )
        assert green == stamped, (
            f"{os.path.basename(path)}: green {sorted(green ^ stamped)} "
            "differs from stamped slice"
        )
        if path == paths[-1]:
            from sf1check import rotate_sf10_sample

            assert stamped == set(rotate_sf10_sample(n)), os.path.basename(path)


def test_sf1_full_record():
    """Round 6+ closes the sf1 verification gap (VERDICT r5 "Next"
    #1): SELFCHECK_SF1_r{N}.txt for N ≥ 6 is a FULL-SUITE sf1 sweep
    from tools/sf1check.py — ≥150 green queries, the bulk
    oracle-checked cross-engine at sf1, the super-linear-oracle
    families pinned by committed goldens (PASSg), zero failures, and
    the dedup/ANN families present by name."""
    paths = [
        p
        for p in sorted(glob.glob(os.path.join(ROOT, "SELFCHECK_SF1_r*.txt")))
        if int(re.search(r"_r(\d+)\.txt$", p).group(1)) >= 6
    ]
    assert paths, "no round-6+ sf1 record committed"
    for path in paths:
        with open(path) as f:
            text = f.read()
        assert "ALL GREEN" in text, path
        assert not re.findall(
            r"^(FAIL|SPARK_TIMEOUT|ORACLE_TIMEOUT) ", text, re.MULTILINE
        ), path
        oracle = set(re.findall(r"^PASS (\w+):", text, re.MULTILINE))
        golden = set(re.findall(r"^PASSg (\w+):", text, re.MULTILINE))
        green = oracle | golden
        assert len(green) >= 150, f"{path}: only {len(green)} green"
        assert len(oracle) >= 120, f"{path}: only {len(oracle)} oracle-checked"
        n = int(re.search(r"_r(\d+)\.txt$", path).group(1))
        if n >= 7:
            # r7+: a golden alone proves stability, not correctness —
            # every PASSg row must also carry its linear invariant
            # oracle (tools/sf1invariants.py; VERDICT r6 "Next" #4)
            bare = set(
                re.findall(r"^PASSg (\w+):(?!.*\+invariant)", text, re.MULTILINE)
            )
            assert not bare, f"{path}: PASSg without invariant: {sorted(bare)}"
        if n >= 8:
            # r8+: the goldened LSH/shingle queries additionally carry
            # the sampled-subcorpus completeness proof (VERDICT r7
            # "Next" #1; tools/sf1complete.py) — a full cross-engine
            # replay on the ~3% md5-cut corpus that catches MISSED
            # pairs, which the invariant oracles cannot.
            import sys
            sys.path.insert(0, os.path.join(ROOT, "tools"))
            from sf1complete import COMPLETE

            incomplete = set(
                re.findall(
                    r"^PASSg (\w+):(?!.*\+sample-complete)", text, re.MULTILINE
                )
            ) & set(COMPLETE)
            assert not incomplete, (
                f"{path}: goldened queries without sample-complete proof: "
                f"{sorted(incomplete)}"
            )
            # ...and the sampled-anchor embedding_near_dup keeps its
            # full-output golden pin alongside (ADVICE r7)
            assert re.search(
                r"^PASS embedding_near_dup:.*\+full-golden", text, re.MULTILINE
            ), f"{path}: embedding_near_dup missing the full-golden rider"
        for name in (
            "exact_dedup_docs",
            "minhash_index_build",
            "near_dup_probe_stored",
            "minhash_index_upsert",
            "ivfpq_index_build",
            "ivfpq_index_upsert",
            "ivfpq_probe_stored",
            "simhash_docs",
            "semdedup_embeddings",
            "minhash_near_dup_docs",
        ):
            assert name in green, f"{path}: dedup/ANN family member {name} missing"
