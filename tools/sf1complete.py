"""Sampled-subcorpus COMPLETENESS proof for the sf1-goldened queries
(VERDICT r7 "Next" #1).

The six goldened LSH/shingle queries are pinned at sf1 by golden hash +
linear invariant oracles (tools/sf1invariants.py), which verify every
*reported* value exactly but — by their own docstring — cannot catch a
*missed* pair. This module closes that gap: full cross-engine replay of
each query on a deterministic ~3% hash-cut of the sf1 documents, where
the quadratic DuckDB oracle IS tractable (≈1,560 docs → ~1.2M pairs vs
1.25B on the full corpus).

Two checks per query, both against the committed registry oracle SQL
run over the SAMPLE corpus:

1. **engine-on-sample** — the Spark query over the sample directory
   must match the oracle exactly (rows + columns + values): the
   standard selfcheck compare, i.e. a real cross-engine PASS of the
   full pipeline at sf1 text statistics.
2. **full-run restriction** (pair queries only) — the FULL-sf1 Spark
   output already computed by the sweep, restricted to pairs with BOTH
   endpoints in the sample, must equal the oracle's pair set. The
   three pair queries' membership predicates are pair-local (exact
   Jaccard / containment thresholds; MinHash-LSH recall >1-1e-13 at
   the 0.8 threshold per the registry docstring), so a pair inside the
   sample is reported by the full run iff it is reported by the
   sample run — a pair the full run MISSED surfaces here as a
   rowcount/value mismatch. This is the completeness proof for the
   actual full-corpus run, not just the sample rerun.

The sample is the md5 cut ``substr(md5(doc_id::VARCHAR), 1, 2) < '08'``
(8/256 ≈ 3.1%), materialized once per sweep into
``scaledata/sf1sample/documents.parquet``; every other table is
symlinked from the parent fixture so registry loaders resolve.

Used by tools/sf1check.py: a goldened query whose invariant passed
gains ``+sample-complete`` on its PASSg line only when BOTH checks
hold; tests/test_selfcheck_record.py gates the r8+ records on it.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from geo_big_data_analysis_spark.plans.registry import REGISTRY  # noqa: E402
from geo_big_data_analysis_spark.session import TPCH_TABLES  # noqa: E402

#: the goldened-at-sf1 queries this module proves complete on a sample
COMPLETE = (
    "minhash_near_dup_docs",
    "ngram_jaccard_pairs",
    "shingle_containment_pairs",
    "near_dup_clusters_docs",
    "split_leakage_audit",
    "training_corpus_pipeline",
)

#: subset whose output rows are (doc_a, doc_b, …) pairs with pair-local
#: membership predicates — eligible for the full-run restriction check
PAIR_QUERIES = (
    "minhash_near_dup_docs",
    "ngram_jaccard_pairs",
    "shingle_containment_pairs",
)

SAMPLE_PRED = "substr(md5(doc_id::VARCHAR), 1, 2) < '08'"

#: CTEs to materialize per query when replaying the committed oracle
#: on the sample: DuckDB inlines a multiply-referenced CTE, so e.g.
#: near_dup_clusters' `pairs` (referenced twice by edges2, which is
#: itself referenced twice by the recursive closure) re-ran the
#: quadratic shingle join 4x — the exact re-evaluation trap the sf1
#: invariant oracles and hex_density's override already fix with
#: MATERIALIZED. Pure execution hint; the math is byte-identical.
MATERIALIZE_CTES = {
    "minhash_near_dup_docs": ("sh",),
    "ngram_jaccard_pairs": ("sh",),
    "shingle_containment_pairs": ("sh",),
    "near_dup_clusters_docs": ("sh", "pairs", "edges2"),
    "split_leakage_audit": ("sh", "pairs", "assign"),
    "training_corpus_pipeline": ("docs0", "uniq", "sh", "dup_pairs"),
}


def _materialize(sql: str, names: tuple[str, ...]) -> str:
    for n in names:
        sql = sql.replace(f"{n} AS (", f"{n} AS MATERIALIZED (")
    return sql


def ensure_sample_dir(
    sf_dir: str, sample_dir: str | None = None, pred: str = SAMPLE_PRED
) -> str:
    """Materialize the deterministic ~3% documents sample next to the
    fixture (re-written every call — cheap, and never stale). Other
    tables are symlinked so registry table loaders resolve. ``pred``
    widens the cut for tiny test fixtures."""
    sf_dir = os.path.abspath(sf_dir)
    if sample_dir is None:
        sample_dir = sf_dir.rstrip("/") + "sample"
    os.makedirs(sample_dir, exist_ok=True)
    con = duckdb.connect()
    out = os.path.join(sample_dir, "documents.parquet")
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE {pred} ORDER BY doc_id) TO '{out}' (FORMAT PARQUET)"
    )
    con.close()
    for t in TPCH_TABLES:
        if t == "documents":
            continue
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(sample_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)
    return sample_dir


def _sample_connection(sample_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        p = os.path.join(sample_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def check(name: str, spark, sf_dir: str, full_sdf, ctx: dict) -> list[str]:
    """Run both completeness checks for ``name``. ``full_sdf`` is the
    full-sf1 Spark output (pandas) the sweep already computed; ``ctx``
    caches the sample dir, its doc_id set, and per-query oracle frames
    across calls within one sweep. Returns [] on pass."""
    from selfcheck import compare

    if "sample_dir" not in ctx:
        ctx["sample_dir"] = ensure_sample_dir(sf_dir)
        con = duckdb.connect()
        ids = con.execute(
            f"SELECT doc_id FROM read_parquet('{ctx['sample_dir']}/documents.parquet')"
        ).fetchall()
        con.close()
        ctx["sample_ids"] = {r[0] for r in ids}
    sample_dir = ctx["sample_dir"]
    msgs: list[str] = []

    # oracle on the sample corpus (committed registry SQL, with the
    # multiply-referenced CTEs materialized — execution hint only)
    sql = _materialize(REGISTRY[name][1], MATERIALIZE_CTES.get(name, ()))
    con = _sample_connection(sample_dir)
    try:
        odf = con.execute(sql).fetchdf()
    finally:
        con.close()

    # check 1: engine-on-sample vs oracle-on-sample (full cross-engine)
    sdf_sample = REGISTRY[name][0](spark, sample_dir).toPandas()
    for m in compare(sdf_sample, odf):
        msgs.append(f"engine-on-sample: {m}")

    # check 2 (pair queries): the FULL run restricted to sample
    # endpoints must equal the sample oracle — catches missed pairs
    if name in PAIR_QUERIES:
        ids = ctx["sample_ids"]
        restricted = full_sdf[
            full_sdf["doc_a"].isin(ids) & full_sdf["doc_b"].isin(ids)
        ].reset_index(drop=True)
        for m in compare(restricted, odf):
            msgs.append(f"full-run-restricted: {m}")
    return msgs


if __name__ == "__main__":
    # standalone: run all six checks against a fixture ladder point
    from geo_big_data_analysis_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "scaledata/sf1"
    only = sys.argv[2:] or list(COMPLETE)
    spark = get_spark("sf1complete")
    ctx: dict = {}
    failures = 0
    import time

    for name in only:
        t0 = time.time()
        full_sdf = REGISTRY[name][0](spark, sf_dir).toPandas()
        t1 = time.time()
        msgs = check(name, spark, sf_dir, full_sdf, ctx)
        dt = time.time() - t1
        if msgs:
            failures += 1
            print(f"FAIL {name}: {'; '.join(msgs)} [{t1 - t0:.1f}s+{dt:.1f}s]")
        else:
            tag = "both checks" if name in PAIR_QUERIES else "engine-on-sample"
            print(f"PASS {name}: sample-complete ({tag}) [{t1 - t0:.1f}s+{dt:.1f}s]")
    print("ALL GREEN" if failures == 0 else f"{failures} FAILURES")
    sys.exit(1 if failures else 0)
