"""Empirical scale-proof: per-query scaling curves sf0.01 → sf0.1 → sf1
over the scalegen fixture ladder (VERDICT r4 "Next" #1).

Every 100 TB claim in SCALE.md was design-verified until round 5; this
harness measures it. All three ladder points come from the SAME
generator (tools/scalegen.py) so the data-generating process is
identical and only volume changes (driver testdata stops at sf0.1).
For each query in SCALE_SET (the ~25 most expensive headline queries —
the dedup/ANN/graph/codec/session families — plus cheap anchors), it
times `iters` runs per sf (MIN of runs: the scaling ratio wants the
least-noise estimate, and medians at 2 iters are maxima), then grades

    r_mid = t(sf0.1) / t(sf0.01)     (10× data)
    r_top = t(sf1)   / t(sf0.1)      (10× data)

A query FLAGS when r_top > FLAG_RATIO (default 14 ≈ 10× data × n·log n
shuffle growth + margin): super-linear growth that would compound at
100 TB. r_mid is reported but not gated — at sf0.01 fixed overhead
(plan build, task launch) dominates real work, so r_mid ≪ 10 is
expected and uninformative. Writes SCALING.json (gated by
tests/test_scaling_record.py) and prints one line per query.

Usage: python tools/scalebench.py [--iters N] [--out SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_big_data_analysis_spark.plans.registry import REGISTRY  # noqa: E402
from geo_big_data_analysis_spark.session import get_spark  # noqa: E402

#: ladder: (sf label, dir) — all from tools/scalegen.py
LADDER = [
    (0.01, "scaledata/sf0.01"),
    (0.1, "scaledata/sf0.1"),
    (1.0, "scaledata/sf1"),
]

#: the ~25 costliest headline queries (BENCH_DETAIL.json round-4
#: slowest, one per family) + cheap anchors with known-linear plans
SCALE_SET = [
    # dedup / text family
    "near_dup_clusters_docs",
    "minhash_near_dup_docs",
    "dup_ngram_share_docs",
    "split_leakage_audit",
    "ngram_jaccard_capped",   # the DF-capped production path; the
    # uncapped ngram_jaccard_pairs is the exactness anchor and is
    # quadratic on hot shingles BY CONSTRUCTION (fixed 31-word vocab)
    "dup_span_islands_docs",
    "exact_dedup_docs",
    "jw_entity_resolution",
    "wordpiece_merges_docs",
    "bpe_encode_docs",
    "sentiment_pattern_docs",
    "training_corpus_pipeline",
    # ANN / embedding family
    "kcenter_coreset_embeddings",
    "semdedup_embeddings",
    "lloyd_kmeans_clusters",
    "knn_embeddings_pandas",
    "silhouette_by_label",
    # graph / spatial family
    "scc_mod",
    "kcore_mod",
    "dbscan_event_clusters",
    "distance_band_pairs",
    "road_density_grid",
    # sessions / SQL anchors
    "user_sessions",
    "pricing_summary",
    "pareto_user_share",
    # codec (bounded probe set by design — must stay ~linear in probes)
    "jpeg_roundtrip_stats",
    # index-as-artifact (r5 second session): the stored-LSH incremental
    # dedup probe — base corpus never re-sketched, delta ∝ n, candidate
    # join against the persisted band table; the production ingest shape
    "near_dup_probe_stored",
    "minhash_index_build",
]

#: FIXED-PARAM registry queries measured but NOT gated: their oracle
#: SQL bakes index parameters in as literals (16 SRP buckets, 10 IVF
#: cells, query set ∝ n), so per-10x growth is quadratic BY THE QUERY'S
#: OWN DEFINITION — the replayable-oracle price. The production-shaped
#: configurations of the same operators (VARIANTS below) are gated.
FIXED_PARAM = {
    "srp_near_dup_pairs": "4-bit buckets fixed for oracle replay; "
    "bucket size ∝ n → candidates ∝ n²/16. Scaled variant: "
    "srp_near_dup_scaled",
    "ivf_topk_embeddings": "10 label-centroid cells + query set ∝ n "
    "(vec_id %% 25) → probe pairs ∝ n²·nprobe/cells. Scaled variant: "
    "ivf_topk_fixed_batch",
    "ivfpq_probe_stored": "same cell/query growth as ivf_topk; the "
    "stored-index scan itself is linear. Scaled variant: "
    "ivfpq_probe_fixed_batch",
    "hard_negative_mining_ivf": "grading query: its EXACT recall anchor "
    "is brute-force over (queries ∝ n) × n by definition, and the IVF "
    "side pins 10 cells for oracle replay. Scaled variant: "
    "hard_negative_fixed_batch",
}

FLAG_RATIO = 14.0
#: work-normalized gate for density-bound queries: wall seconds per
#: matched pair may grow at most this much per 10x data
WORK_RATIO = 3.0

#: density-bound queries: the fixture keeps the bbox FIXED across sf,
#: so point density — and true DWithin pair count — grows ∝ n²/area
#: (at 100 TB real geodata, area grows with data instead). Gate on
#: seconds per OUTPUT PAIR via the named count column.
WORK_NORMALIZED = {"distance_band_pairs": "n_pairs"}


def _variant_srp_scaled(spark, sf_dir):
    """embedding_near_dup_pairs with the plane count scaling as
    log2(n/64) AND the skew-adaptive bucket cap on: clustered fixtures
    pile into a few signatures regardless of plane count (sf10: max
    occupancy 3,325 → 169M candidates/table → the verify shuffle
    spilled out a 78 GB disk), so the production configuration splits
    hot buckets with extra signature bits — candidates ∝ n·cap — the
    way the registry query can't (it pins 4 planes so its DuckDB
    oracle can replay signatures)."""
    import math

    from geo_big_data_analysis_spark.plans.registry import _srp_planes, _t
    from geo_big_data_analysis_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    n = emb.count()
    n_planes = max(2, math.ceil(math.log2(max(n, 128) / 64)))
    flat = _srp_planes(4 * n_planes, 64)
    tables = [flat[t * n_planes : (t + 1) * n_planes] for t in range(4)]
    return embedding_near_dup_pairs(
        emb, threshold=0.8, tables=tables, bucket_cap=128
    )


def _variant_ivf_fixed_batch(spark, sf_dir):
    """cosine_topk_ivf with a FIXED 64-query batch: per-probe candidate
    volume is linear in n (n/cells · nprobe) and the batch does not
    grow with the corpus — the production search shape."""
    from geo_big_data_analysis_spark.plans.registry import _t
    from geo_big_data_analysis_spark.operators.similarity import (
        cosine_topk_ivf,
        label_centroids,
    )
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centers = label_centroids(emb, "embedding", "label")
    queries = emb.filter(F.col("vec_id") < 64)
    return cosine_topk_ivf(queries, emb, k=5, centers=centers, nprobe=3)


def _variant_ivfpq_fixed_batch(spark, sf_dir):
    """Stored-index IVF-PQ probe with a FIXED 64-query batch — the
    build-once/probe-many shape at its real query load."""
    from geo_big_data_analysis_spark.plans.registry import (
        _PQ_DIM, _PQ_ITERS, _PQ_K, _PQ_M, _PQ_SCALE, _t,
    )
    from geo_big_data_analysis_spark.operators.similarity import ivfpq_probe
    from geo_big_data_analysis_spark.sources.ann_index import ensure_ivfpq_index
    from pyspark.sql import functions as F

    codes, centers, cbs, _ = ensure_ivfpq_index(
        spark, sf_dir, dim=_PQ_DIM, m=_PQ_M, k=_PQ_K,
        iters=_PQ_ITERS, scale=_PQ_SCALE,
    )
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 64)
    return ivfpq_probe(queries, codes, cbs, centers, k=5, nprobe=3, scale=_PQ_SCALE)


def _variant_hard_negative_fixed_batch(spark, sf_dir):
    """Index-driven hard-negative mining at its production query load —
    a FIXED 64-probe batch against the IVF cells, no exact anchor (the
    anchor exists only to grade recall, not to mine)."""
    from geo_big_data_analysis_spark.plans.registry import _t
    from geo_big_data_analysis_spark.operators.similarity import (
        hard_negatives_ivf,
        label_centroids,
    )
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centers = label_centroids(emb, "embedding", "label")
    queries = emb.filter(F.col("vec_id") < 64)
    return hard_negatives_ivf(queries, emb, k=8, centers=centers, nprobe=3)


def _variant_near_dup_probe_fixed_batch(spark, sf_dir):
    """Stored-dedup-index probe at its production load: a FIXED ~5k-doc
    ingest batch screened against the growing persisted index (base
    never re-sketched). Candidate volume is batch × bucket-occupancy —
    linear in corpus size under the fixture's fixed vocab, constant
    under a real growing vocabulary."""
    from pyspark.sql import functions as F

    from geo_big_data_analysis_spark.plans.registry import _t
    from geo_big_data_analysis_spark.sources.ann_index import (
        _MH_IDX_BANDS,
        _MH_IDX_HASHES,
        _MH_IDX_MOD,
        _mh_probe_pairs,
        ensure_minhash_index,
    )

    bands, base_sets, _ = ensure_minhash_index(
        spark, sf_dir, num_hashes=_MH_IDX_HASHES, bands=_MH_IDX_BANDS,
        split_mod=_MH_IDX_MOD,
    )
    delta = (
        _t(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % _MH_IDX_MOD == 0)
            & (F.col("doc_id") < 5000 * _MH_IDX_MOD)
        )
        .select("doc_id", "source", "text")
    )
    return _mh_probe_pairs(delta, bands, base_sets)


#: production-shaped configurations of the fixed-param operators,
#: gated like registry queries
VARIANTS = {
    "srp_near_dup_scaled": _variant_srp_scaled,
    "ivf_topk_fixed_batch": _variant_ivf_fixed_batch,
    "ivfpq_probe_fixed_batch": _variant_ivfpq_fixed_batch,
    "hard_negative_fixed_batch": _variant_hard_negative_fixed_batch,
    "near_dup_probe_fixed_batch": _variant_near_dup_probe_fixed_batch,
}


#: Decade-2 set (VERDICT r5 "Next" #3): the index/dedup families get a
#: second measured decade, sf1 → sf10, over scalegen fixtures
#: (documents 500k, embeddings 200k, events 10M at sf10). Gated at the
#: same FLAG_RATIO. distance_band_pairs is deliberately NOT here: its
#: output is ∝ n² by fixture construction (fixed bbox → density grows
#: with sf; 431M pairs at sf1 → ~43G at sf10), so a sf10 run would
#: materialize tens of billions of rows to measure a ratio the
#: work-normalized sf1 gate (0.83x sec/pair) already bounds.
#: Grown-delta probes are NOT in the set: scalegen's fixed 31-word
#: vocabulary caps the shingle universe at 961, so LSH bucket
#: occupancy — and with it candidate-pair density — grows ∝ n² in the
#: fixture (measured 38.6k → 4.12M pairs per decade to sf1; the sf10
#: full-delta probe materializes ~40× sf1's pairs and spills out the
#: disk). Real 100 TB corpora grow their vocabulary with size. The
#: production ingest shape — a FIXED batch probed against the growing
#: stored index — is what near_dup_probe_fixed_batch measures, and
#: minhash_index_upsert (whose admission step runs the full-delta
#: probe) is gated through that same fixed-batch proxy.
SF10_SET = [
    "near_dup_probe_fixed_batch",
    "minhash_index_build",
    "ivfpq_index_build",
    "ivfpq_index_upsert",
    "ivfpq_probe_fixed_batch",
    "srp_near_dup_scaled",
    "ivf_topk_fixed_batch",
    "hard_negative_fixed_batch",
    "ngram_jaccard_capped",
    "exact_dedup_docs",
    # r7 (VERDICT r6 "Next" #7): the 5 heaviest NON-index plans carry a
    # measured second decade too — permutation inference, inverted-index
    # dedup share, iterative graph peeling, the sentiment state machine,
    # and grid-join DBSCAN
    "lisa_perm_band_dist",
    "dup_ngram_share_docs",
    "kcore_mod",
    "sentiment_pattern_docs",
    "dbscan_event_clusters",
    # r7 second batch: the core SQL/session/ML anchors at sf10 —
    # 61M-row lineitem scan+agg, 10M-event sessionization window,
    # 6-iteration exact Lloyd over 200k vectors, line∩cell overlay
    "pricing_summary",
    "user_sessions",
    "lloyd_kmeans_clusters",
    "road_density_grid",
]

SF10_DIR = "scaledata/sf10"


def cpu_marker() -> float:
    import numpy as np

    a = np.ones((1200, 1200))
    runs = []
    for _ in range(5):
        t0 = time.time()
        a @ a
        runs.append(time.time() - t0)
    return round(statistics.median(runs), 4)


def run_decade2(iters: int, out_path: str, only: list[str] | None = None) -> int:
    """sf1 → sf10 second decade for SF10_SET, merged into the existing
    SCALING.json entries as sec_d2 / r_top2 / flagged2. Both points are
    timed fresh in THIS session so the ratio is same-host-same-load.
    ``only`` limits to a subset and MERGES — shuffle files live until
    session GC, so the disk-heavy sf10 shapes are best run one per
    process (the shell loops; each process starts with a clean
    spark.local.dir)."""
    if not os.path.isdir(SF10_DIR):
        print(f"missing {SF10_DIR} — run tools/scalegen.py 10 first")
        return 2
    todo = [n for n in SF10_SET if not only or n in only]
    spark = get_spark("scalebench-d2")
    spark.range(10).count()

    def resolve(name):
        return VARIANTS[name] if name in VARIANTS else REGISTRY[name][0]

    for name in todo:
        try:
            resolve(name)(spark, LADDER[0][1]).count()  # codegen warmup
        except Exception as e:  # noqa: BLE001
            print(f"WARMUP-FAIL {name}: {e}")
    with open(out_path) as f:
        record = json.load(f)
    flags: list[str] = []
    for name in todo:
        fn = resolve(name)
        sec: dict[str, float] = {}
        rows: dict[str, int] = {}
        for sf, d in [(1.0, "scaledata/sf1"), (10.0, SF10_DIR)]:
            runs = []
            n = -1
            for _ in range(iters):
                t0 = time.time()
                n = fn(spark, d).count()
                runs.append(time.time() - t0)
                # drop the run's shuffle files NOW: sf10 shapes spill
                # tens of GB per pass and the ContextCleaner only GCs
                # them when the Python refs die — two un-GC'd passes
                # filled the disk (r6 srp death)
                import gc

                gc.collect()
                try:
                    spark._jvm.System.gc()
                except Exception:  # noqa: BLE001
                    pass
            sec[str(sf)] = round(min(runs), 3)
            rows[str(sf)] = int(n)
        r_top2 = sec["10.0"] / max(sec["1.0"], 1e-9)
        flagged = r_top2 > FLAG_RATIO
        if flagged:
            flags.append(name)
        entry = record["queries"].setdefault(name, {})
        entry["sec_d2"] = sec
        entry["rows_d2"] = rows
        entry["r_top2"] = round(r_top2, 2)
        entry["flagged2"] = flagged
        print(
            f"{'FLAG' if flagged else 'ok  '} {name}: "
            f"{sec['1.0']}s -> {sec['10.0']}s (r_top2 {r_top2:.1f}x)"
        )
        # Same-point reconciliation (VERDICT r7 "Next" #3): the record
        # must never carry two sf1 numbers for one query that disagree
        # >1.5x with no explanation. If the existing decade-1 sf1 point
        # (an EARLIER session/epoch) disagrees with the one just
        # measured, re-measure the whole decade-1 ladder IN THIS
        # session so the entry is single-epoch end to end.
        d1_sf1 = entry.get("sec", {}).get("1.0")
        if d1_sf1 is not None:
            ratio = max(d1_sf1, sec["1.0"]) / max(min(d1_sf1, sec["1.0"]), 1e-9)
            if ratio > 1.5:
                print(
                    f"     decade-1 sf1 point {d1_sf1}s disagrees "
                    f"{ratio:.2f}x with this session's {sec['1.0']}s — "
                    "re-measuring decade-1 in-session"
                )
                entry.pop("sec", None)  # trigger the backfill below
        if "sec" not in entry:
            # backfill the decade-1 ladder (ADVICE r6): a decade-2 entry
            # must never violate the decade-1 gate's full-ladder
            # invariant. sf1 reuses the point just measured above.
            sec1: dict[str, float] = {"1.0": sec["1.0"]}
            rows1: dict[str, int] = {"1.0": rows["1.0"]}
            for sf, d in LADDER[:2]:
                runs = []
                n = -1
                for _ in range(iters):
                    t0 = time.time()
                    n = fn(spark, d).count()
                    runs.append(time.time() - t0)
                sec1[str(sf)] = round(min(runs), 3)
                rows1[str(sf)] = int(n)
            r_mid = sec1["0.1"] / max(sec1["0.01"], 1e-9)
            r_top = sec1["1.0"] / max(sec1["0.1"], 1e-9)
            entry["sec"] = sec1
            entry["rows"] = rows1
            entry["r_mid"] = round(r_mid, 2)
            entry["r_top"] = round(r_top, 2)
            entry["flagged"] = r_top > FLAG_RATIO
            if entry["flagged"]:
                flags.append(name)
            print(
                f"     backfilled decade-1: {sec1['0.01']}s -> "
                f"{sec1['0.1']}s -> {sec1['1.0']}s (r_top {r_top:.1f}x)"
            )
    prev_flags = set(record.get("decade2", {}).get("flags", []))
    record["decade2"] = {
        "ladder": [1.0, 10.0],
        "set": SF10_SET,
        "iters": iters,
        "flags": sorted((prev_flags - set(todo)) | set(flags)),
        "excluded": {
            "distance_band_pairs": (
                "output ∝ n² by fixture construction (fixed bbox); sf1 "
                "work-normalized gate (sec/pair 0.83x) bounds it"
            ),
            "near_dup_probe_stored": (
                "full-delta probe: candidate pairs ∝ n² under the "
                "fixture's fixed 31-word vocab (961-shingle universe; "
                "~40x sf1's 4.12M pairs at sf10 spills out the disk). "
                "Production shape gated as near_dup_probe_fixed_batch"
            ),
            "minhash_index_upsert": (
                "admission runs the full-delta probe above; gated "
                "through the fixed-batch proxy + its own sf1 point"
            ),
        },
    }
    # recompute from the current per-query fields (ADVICE r6: a monotone
    # union keeps stale flags forever after a clearing re-run)
    record["flags"] = sorted(
        n
        for n, q in record["queries"].items()
        if q.get("flagged") or q.get("flagged2")
    )
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"\ndecade2: {len(flags)} flagged / {len(SF10_SET)} -> {out_path}")
    return 1 if flags else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--out", default="SCALING.json")
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--decade2", action="store_true")
    args = ap.parse_args()
    if args.decade2:
        return run_decade2(args.iters, args.out, only=args.queries)
    queries = args.queries or (
        SCALE_SET + list(VARIANTS) + list(FIXED_PARAM)
    )

    for _, d in LADDER:
        if not os.path.isdir(d):
            print(f"missing ladder dir {d} — run tools/scalegen.py first")
            return 2

    spark = get_spark("scalebench")
    spark.range(10).count()

    def resolve(name):
        return VARIANTS[name] if name in VARIANTS else REGISTRY[name][0]

    # warm codegen caches on the smallest ladder point
    for name in queries:
        try:
            resolve(name)(spark, LADDER[0][1]).count()
        except Exception as e:  # noqa: BLE001
            print(f"WARMUP-FAIL {name}: {e}")

    marker = cpu_marker()
    results: dict[str, dict] = {}
    flags: list[str] = []
    for name in queries:
        fn = resolve(name)
        work_col = WORK_NORMALIZED.get(name)
        per_sf: dict[str, float] = {}
        rows: dict[str, int] = {}
        work: dict[str, int] = {}
        for sf, d in LADDER:
            runs = []
            n = -1
            for _ in range(args.iters):
                t0 = time.time()
                if work_col:
                    out = fn(spark, d).collect()
                    n = len(out)
                    work[str(sf)] = int(out[0][work_col])
                else:
                    n = fn(spark, d).count()
                runs.append(time.time() - t0)
            per_sf[str(sf)] = round(min(runs), 3)
            rows[str(sf)] = int(n)
        r_mid = per_sf["0.1"] / max(per_sf["0.01"], 1e-9)
        r_top = per_sf["1.0"] / max(per_sf["0.1"], 1e-9)
        entry = {
            "sec": per_sf,
            "rows": rows,
            "r_mid": round(r_mid, 2),
            "r_top": round(r_top, 2),
        }
        if work_col:
            # density-bound: gate seconds-per-output-pair, not wall time
            spp = {
                k: per_sf[k] / max(work.get(k, 1), 1) for k in per_sf
            }
            r_work = spp["1.0"] / max(spp["0.1"], 1e-12)
            entry["work"] = work
            entry["r_top_per_work"] = round(r_work, 2)
            flagged = r_work > WORK_RATIO
            detail = f"sec/pair ratio {r_work:.2f}x (pairs {work})"
        elif name in FIXED_PARAM:
            flagged = False
            entry["fixed_param_reason"] = FIXED_PARAM[name]
            detail = "fixed-param, not gated"
        else:
            flagged = r_top > FLAG_RATIO
            detail = ""
        if flagged:
            flags.append(name)
        entry["flagged"] = flagged
        results[name] = entry
        print(
            f"{'FLAG' if flagged else 'ok  '} {name}: "
            f"{per_sf['0.01']}s -> {per_sf['0.1']}s -> {per_sf['1.0']}s "
            f"(r_mid {r_mid:.1f}x, r_top {r_top:.1f}x) {detail}"
        )

    prev: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            prev = json.load(f)
    # merge refreshed decade-1 fields ONTO existing entries so the
    # decade-2 fields (sec_d2/rows_d2/r_top2/flagged2) measured by
    # --decade2 survive a decade-1 re-run; recompute flags from the
    # current per-query fields (no monotone union — ADVICE r6)
    merged = dict(prev.get("queries", {}))
    for name, entry in results.items():
        old = dict(merged.get(name, {}))
        old.update(entry)
        merged[name] = old
    results = merged
    flags = sorted(
        n for n, q in results.items() if q.get("flagged") or q.get("flagged2")
    )
    out = {
        "ladder": [sf for sf, _ in LADDER],
        "iters": args.iters,
        "flag_ratio": FLAG_RATIO,
        "cpu_marker_sec": marker,
        "queries": results,
        "flags": flags,
        "n_queries": len(results),
    }
    if "decade2" in prev:
        out["decade2"] = prev["decade2"]
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"\n{len(flags)} flagged / {len(results)} queries -> {args.out}")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
