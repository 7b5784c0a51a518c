"""LISA — local Moran's I with KNN weights (M12).

Reference semantics: lab4 nb (cell 21, json 5926)
``analyze_local_spatial_autocorrelation`` — libpysal KNN(k=5)
row-standardized weights + esda Moran_Local (999 conditional
permutations), quadrants HH/LL/LH/HL at α=0.05.

Formulation (esda Moran_Local):
    z_i  = v_i − v̄
    m2   = Σ z² / n
    lag_i = Σ_j w_ij z_j          (w row-standardized: 1/k)
    I_i  = (z_i / m2) · lag_i

Spark-first plan: global (v̄, m2) are a one-row aggregate collected and
injected as literals (two-phase scalar pattern, SURVEY §4); neighbors
come from the KNN join (J10 — broadcast brute-force when one side is
small, grid-bucketed at scale); lag is a groupBy over the k neighbor
rows. Everything stays in whole-stage codegen — no UDF.

Permutation p-values use conditional randomization: for point i, draw
its k neighbor z-values from z \\ {z_i} uniformly, 999 times, and count
permuted I_i at least as extreme (same tail) as observed. That is a
per-point numpy loop over a broadcast z-vector → Arrow-batched
mapInPandas, seeded per point id for determinism. The z-vector is the
rows of one bounded probe (`operators/dispatch.driver_rows`, at most
``Z_POOL_CAP``); past the cap the draws run as a distributed join.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dispatch
from .knn import knn_join
from .spread import spread


def local_morans_i(
    points: DataFrame,
    value_col: str,
    k: int = 5,
) -> DataFrame:
    """Analytic LISA: (id, z, lag, i_stat, quadrant) per (id, x, y) point.

    quadrant: HH (z>0, lag>0), LL (z<0, lag<0), LH (z<0, lag>0),
    HL (z>0, lag<0) — significance is NOT applied here (see
    lisa_permutation_pvalues for p_sim); ties (z or lag exactly 0)
    classify as the non-positive side, matching numpy sign conventions.
    """
    pts = points.select(
        F.col("id").alias("id"),
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.col(value_col).cast("double").alias("v"),
    )
    row = pts.agg(
        F.avg("v").alias("mu"),
        (F.sum(F.pow(F.col("v"), 2)) / F.count(F.lit(1))
         - F.pow(F.avg("v"), 2)).alias("m2"),
    ).collect()[0]
    mu, m2 = float(row["mu"]), float(row["m2"])
    _check_m2_nonzero(m2)

    z = pts.select("id", "x", "y", (F.col("v") - F.lit(mu)).alias("z"))
    nbrs = knn_join(z, z, k=k)
    lag = (
        nbrs.join(
            z.select(F.col("id").alias("neighbor_id"), F.col("z").alias("zj")),
            "neighbor_id",
        )
        .groupBy(F.col("query_id").alias("id"))
        .agg(F.avg("zj").alias("lag"))
    )
    out = z.join(lag, "id")
    i_stat = (F.col("z") / F.lit(m2)) * F.col("lag")
    quad = (
        F.when((F.col("z") > 0) & (F.col("lag") > 0), "HH")
        .when((F.col("z") <= 0) & (F.col("lag") <= 0), "LL")
        .when((F.col("z") <= 0) & (F.col("lag") > 0), "LH")
        .otherwise("HL")
    )
    return out.select("id", "z", "lag", i_stat.alias("i_stat"), quad.alias("quadrant"))


#: Above this row count the permutation draw switches from the
#: broadcast-pool numpy path (one driver probe of all (id, z) rows,
#: ≤ 16 MB at the cap; `operators/dispatch.driver_rows`) to
#: :func:`lisa_permutation_pvalues_dist` — the distributed EXACT-pool
#: variant where draws are hash-indexed join rows and nothing
#: driver-side grows with n.
Z_POOL_CAP = 1_000_000

#: In the distributed exact-pool path, the indexed z-table is sent as a
#: broadcast-join side while it fits, so the n·permutations·k draw rows
#: never shuffle for the lookup: the join is map-side and the partial
#: aggregate collapses k slots per (id, perm) in place before the only
#: shuffle. Past the cap the same plan degrades to a shuffle hash join —
#: the asymptotic shape; nothing else changes.
#:
#: Cap sizing (ADVICE r5): the broadcast is NOT ~16 B/row — Spark
#: materializes UnsafeRows plus a LongHashedRelation on the driver and
#: every executor, ≈3–5× the raw two-column payload, so budget ~80 B/row.
#: 2M rows → ≈160 MB resident, safe on a default 2g driver while still
#: covering every test/bench scale (sf1 ≈ 10⁶ points). The choice reads
#: the row count the draw hash needs anyway, so it fires no probe.
BCAST_POOL_CAP = 2_000_000


def lisa_permutation_pvalues(
    lisa: DataFrame,
    k: int,
    permutations: int = 999,
    seed: int = 42,
) -> DataFrame:
    """p_sim via conditional randomization (esda convention: one-sided,
    (extreme_count + 1) / (permutations + 1), same-tail as observed I;
    999 permutations WITHOUT replacement from z \\ {z_i}, matching lab4
    nb cell 21's esda Moran_Local call).

    ``lisa`` is local_morans_i output. m2 comes from a distributed
    aggregate over the full data; the draw pool is the full z-vector
    when n ≤ ``Z_POOL_CAP`` (one bounded probe of the (id, z) rows,
    sorted by id on the driver; self-value excluded per point via an
    index shift over that pool, broadcast once, per-point numpy draws
    in Arrow batches). Beyond the cap the size dispatch
    switches to :func:`lisa_permutation_pvalues_dist` — the
    EXACT-AT-ANY-N distributed variant: the full z-vector stays a
    table, draws become integer-keyed join rows, and no driver
    collect/broadcast grows with n (VERDICT r4 "Next" #8; supersedes
    the sampled-pool fallback this function used through round 4).
    Per-point draws are seeded by point id — deterministic under any
    partitioning — in both regimes.
    """
    tbl = dispatch.driver_rows(lisa.select("id", "z"), Z_POOL_CAP)
    if tbl is None:
        return lisa_permutation_pvalues_dist(
            lisa, k, permutations=permutations, seed=seed
        )
    m2 = float(
        lisa.agg((F.sum(F.col("z") * F.col("z")) / F.count(F.lit(1))).alias("m2"))
        .collect()[0]["m2"]
    )
    pool = sorted(dispatch.tuples(tbl), key=lambda r: r[0])
    sc = lisa.sparkSession.sparkContext
    bz = sc.broadcast(([int(i) for i, _ in pool], [float(z) for _, z in pool]))

    schema = "id bigint, i_stat double, p_sim double"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ids_arr = np.asarray(bz.value[0], dtype=np.int64)
        zv = np.asarray(bz.value[1])
        n = len(zv)

        for pdf in batches:
            out_rows = []
            for pid, zi, lag in zip(pdf["id"], pdf["z"], pdf["lag"]):
                rng = np.random.default_rng(seed + int(pid))
                idx = _draw_wo_replacement(rng, permutations, k, n - 1)
                self_pos = int(np.searchsorted(ids_arr, int(pid)))
                idx = idx + (idx >= self_pos)  # skip self in the pool
                obs_i = (zi / m2) * lag
                perm_lag = zv[idx].mean(axis=1)
                perm_i = (zi / m2) * perm_lag
                if obs_i >= 0:
                    extreme = int((perm_i >= obs_i).sum())
                else:
                    extreme = int((perm_i <= obs_i).sum())
                out_rows.append(
                    (int(pid), float(obs_i), (extreme + 1) / (permutations + 1))
                )
            yield pd.DataFrame(out_rows, columns=["id", "i_stat", "p_sim"])

    # The per-point permutation loop amplifies each input row into
    # 999×k numpy draws — compute density AQE's byte-based coalescing
    # cannot see. Spread to cluster parallelism before the Python
    # boundary; per-point results are seeded by id, so the output is
    # partitioning-independent (guide §2.5).
    return spread(lisa.select("id", "z", "lag")).mapInPandas(gen, schema)


def lisa_permutation_pvalues_dist(
    lisa: DataFrame,
    k: int,
    permutations: int = 999,
    seed: int = 42,
) -> DataFrame:
    """Conditional-randomization p_sim with an EXACT pool at ANY n —
    the fully distributed variant behind the size dispatch (VERDICT r4
    "Next" #8). Nothing driver-side grows with n: the z-vector stays a
    table carrying a dense index (two-phase global row_number,
    `operators/two_phase.py`), each of the n·permutations·k draws is a
    deterministic hash index ``pmod(xxhash64(id, perm, slot, seed),
    n-1)`` shifted past the point's own position (exact self-exclusion),
    and drawn z-values arrive through an integer equi-join against the
    indexed z-table instead of a broadcast *numpy* pool. While the
    indexed table fits ``BCAST_POOL_CAP`` the equi-join side is
    broadcast (map-side lookup — the draw rows never shuffle for it and
    the k-slot partial average collapses in place); beyond the cap the
    identical plan runs as a shuffle join. perm-lag, tail counts, and
    p_sim are plain hash aggregates — the whole plan is codegen,
    shuffles keyed on small ints.

    Deviation from esda, documented: slots within one permutation draw
    independently (with replacement), where esda draws k WITHOUT
    replacement. A within-draw collision has probability ≈ k(k−1)/2(n−1)
    per permutation — at the n > Z_POOL_CAP sizes this path serves
    (n > 10⁶, k = 5) that is < 10⁻⁵, far inside the Monte-Carlo error
    of 999 permutations (the band oracle covers the small-n regime
    too, where the bound is looser but the statistic is still
    band-stable). Cost shape: n·permutations·k join rows — the honest
    price of exact permutation inference; it distributes instead of
    concentrating on the driver.
    """
    from .two_phase import global_row_number

    m2 = float(
        lisa.agg((F.sum(F.col("z") * F.col("z")) / F.count(F.lit(1))).alias("m2"))
        .collect()[0]["m2"]
    )
    idx = global_row_number(
        lisa.select("id", "z", "lag"), [F.col("id").asc()], out="_pos"
    ).withColumn("_pos", F.col("_pos") - 1)  # dense 0-based position
    n = idx.count()
    zpool = idx.select(F.col("_pos").alias("_draw"), F.col("z").alias("_zj"))

    # One fused explode over perm×slot (hash inputs — int _perm, int
    # _slot — are bit-identical to the former nested explodes, verified
    # by stream comparison), so the n·permutations·k rows are generated
    # in a single codegen'd pass.
    # Each input row explodes into permutations×k draw rows and the
    # broadcast lookup + partial average run in the SAME stage — its
    # parallelism is fixed by the pre-amplification partitioning, which
    # byte-based AQE coalescing leaves tiny on small inputs. Spread the
    # n-row side before the explode (draws are keyed by (id, perm,
    # slot) hashes, so placement cannot change any value).
    draws = (
        spread(idx.select("id", "_pos"))
        .withColumn(
            "_ps", F.explode(F.sequence(F.lit(0), F.lit(permutations * k - 1)))
        )
        .withColumn("_perm", (F.col("_ps") / F.lit(k)).cast("int"))
        .withColumn("_slot", F.col("_ps") % F.lit(k))
        .withColumn(
            "_draw",
            F.pmod(
                F.xxhash64(F.col("id"), F.col("_perm"), F.col("_slot"), F.lit(seed)),
                F.lit(n - 1).cast("bigint"),
            ),
        )
        # exact self-exclusion: draws land in [0, n-2]; indices at or
        # past the point's own position shift up by one
        .withColumn("_draw", F.col("_draw") + (F.col("_draw") >= F.col("_pos")).cast("bigint"))
        .select("id", "_perm", "_draw")
    )
    lookup = F.broadcast(zpool) if n <= BCAST_POOL_CAP else zpool
    perm_lag = (
        draws.join(lookup, "_draw")
        .groupBy("id", "_perm")
        .agg(F.avg("_zj").alias("_plag"))
    )
    obs = lisa.select(
        "id", (F.col("z") / F.lit(m2) * F.col("lag")).alias("_obs_i"),
        (F.col("z") / F.lit(m2)).alias("_zm"),
    )
    tails = (
        perm_lag.join(F.broadcast(obs) if n <= BCAST_POOL_CAP else obs, "id")
        .withColumn("_perm_i", F.col("_zm") * F.col("_plag"))
        .groupBy("id")
        .agg(
            F.first("_obs_i").alias("i_stat"),
            F.sum(
                F.when(
                    (F.col("_obs_i") >= 0) & (F.col("_perm_i") >= F.col("_obs_i")), 1
                )
                .when(
                    (F.col("_obs_i") < 0) & (F.col("_perm_i") <= F.col("_obs_i")), 1
                )
                .otherwise(0)
            ).alias("_extreme"),
        )
    )
    return tails.select(
        "id",
        "i_stat",
        ((F.col("_extreme") + 1) / F.lit(float(permutations + 1))).alias("p_sim"),
    )


def lisa_summary(lisa_p: DataFrame, lisa: DataFrame, alpha: float = 0.05) -> DataFrame:
    """Quadrant census with significance (lab4 cell 21 output shape:
    HH/LL/LH/HL counts + n.s. at α)."""
    j = lisa.select("id", "quadrant").join(lisa_p.select("id", "p_sim"), "id")
    cat = F.when(F.col("p_sim") > alpha, F.lit("ns")).otherwise(F.col("quadrant"))
    return (
        j.select(cat.alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("category")
    )


def morans_i_global(lisa: DataFrame) -> DataFrame:
    """Global Moran's I = mean of local I (row-standardized weights make
    ΣI_i / n equal the global statistic) — cross-check scalar."""
    return lisa.agg(F.avg("i_stat").alias("mean_i"), F.count(F.lit(1)).alias("n"))


def sig_hotspots(lisa_p: DataFrame, lisa: DataFrame) -> DataFrame:
    """Significant (p_sim ≤ 0.05) HH/LL points (the reference's hot/cold
    spot output)."""
    return (
        lisa.join(lisa_p.select("id", "p_sim"), "id")
        .filter((F.col("p_sim") <= 0.05) & F.col("quadrant").isin("HH", "LL"))
        .select("id", "quadrant", "i_stat", "p_sim")
    )


def _draw_wo_replacement(rng, permutations: int, k: int, space: int):
    """(permutations, k) matrix of DISTINCT indices in [0, space) per
    row — k draws without replacement, vectorized: sample with
    replacement, redraw only rows containing duplicates (collision
    probability ~k²/space ⇒ O(1) expected rounds for space ≫ k²; for
    small space the loop is still finite a.s. and cheap at these sizes).
    """
    import numpy as np

    if k > space:
        raise ValueError(f"cannot draw {k} distinct values from {space}")
    idx = rng.integers(0, space, size=(permutations, k))
    while True:
        s = np.sort(idx, axis=1)
        bad = (s[:, 1:] == s[:, :-1]).any(axis=1)
        if not bad.any():
            return idx
        idx[bad] = rng.integers(0, space, size=(int(bad.sum()), k))


def _check_m2_nonzero(m2: float) -> None:
    if not math.isfinite(m2) or m2 <= 0:
        raise ValueError("LISA undefined: zero variance in value column")
