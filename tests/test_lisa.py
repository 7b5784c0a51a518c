"""LISA tests (M12): local Moran's I on planted spatial structure.

Reference: lab4 nb cell 21 — esda Moran_Local with libpysal KNN(k=5),
999 conditional permutations, HH/LL/LH/HL at α=0.05.
"""

from __future__ import annotations

import pytest

from geo_big_data_analysis_spark.operators.lisa import (
    lisa_permutation_pvalues,
    lisa_summary,
    local_morans_i,
    morans_i_global,
    sig_hotspots,
)


def _planted(spark):
    """16×16 unit grid: a 4×4 high-value block (v=10) in one corner, a
    4×4 low-value block (v=-10) in the opposite corner, v=0 elsewhere."""
    rows = []
    for gy in range(16):
        for gx in range(16):
            v = 0.0
            if gx < 4 and gy < 4:
                v = 10.0
            elif gx >= 12 and gy >= 12:
                v = -10.0
            rows.append((gy * 16 + gx, float(gx), float(gy), v))
    return spark.createDataFrame(rows, "id bigint, x double, y double, value double")


def test_lisa_quadrants_on_planted_blocks(spark):
    lisa = local_morans_i(_planted(spark), "value", k=5)
    got = {r["id"]: (r["quadrant"], r["i_stat"]) for r in lisa.collect()}
    # interior of the high block (1,1): all 5 NN are high -> HH, I > 0
    assert got[1 * 16 + 1][0] == "HH" and got[1 * 16 + 1][1] > 0
    # interior of the low block (14,14): neighbors low -> LL, I > 0
    assert got[14 * 16 + 14][0] == "LL" and got[14 * 16 + 14][1] > 0
    # far-away background point (8,8): z slightly != 0, lag ~ 0 -> |I| small
    assert abs(got[8 * 16 + 8][1]) < abs(got[1 * 16 + 1][1]) / 10


def test_lisa_global_mean_positive_for_clustered(spark):
    lisa = local_morans_i(_planted(spark), "value", k=5)
    mean_i = morans_i_global(lisa).collect()[0]["mean_i"]
    assert mean_i > 0.2  # strong positive autocorrelation by construction


def test_lisa_permutations_flag_planted_spots(spark):
    lisa = local_morans_i(_planted(spark), "value", k=5).localCheckpoint()
    p = lisa_permutation_pvalues(lisa, k=5, permutations=199, seed=42)
    hot = {r["id"] for r in sig_hotspots(p, lisa).collect()}
    # block interiors must be significant
    assert 1 * 16 + 1 in hot and 14 * 16 + 14 in hot
    # summary categories partition all 256 points
    summ = lisa_summary(p, lisa)
    assert sum(r["n"] for r in summ.collect()) == 256


def test_lisa_permutations_deterministic(spark):
    lisa = local_morans_i(_planted(spark), "value", k=5).localCheckpoint()
    p1 = sorted(
        (r["id"], r["p_sim"])
        for r in lisa_permutation_pvalues(lisa, k=5, permutations=99, seed=7).collect()
    )
    p2 = sorted(
        (r["id"], r["p_sim"])
        for r in lisa_permutation_pvalues(lisa, k=5, permutations=99, seed=7).collect()
    )
    assert p1 == p2


def test_lisa_zero_variance_raises(spark):
    from geo_big_data_analysis_spark.operators.lisa import _check_m2_nonzero

    with pytest.raises(ValueError):
        _check_m2_nonzero(0.0)


def test_lisa_pool_cap_bounds_driver_collect(spark, force_distributed):
    """Beyond Z_POOL_CAP the size dispatch routes to the DISTRIBUTED
    exact-pool variant (no driver collect grows with n) and still
    produces valid, deterministic p-values (VERDICT r1 #3 → r4 #8),
    equal in coverage to the broadcast pool's."""
    lisa = local_morans_i(_planted(spark), "value", k=5).localCheckpoint()
    pool_ids = {
        r["id"] for r in lisa_permutation_pvalues(lisa, k=5, permutations=99, seed=7).collect()
    }
    force_distributed()
    p_cap = sorted(
        (r["id"], r["p_sim"])
        for r in lisa_permutation_pvalues(lisa, k=5, permutations=99, seed=7).collect()
    )
    p_cap2 = sorted(
        (r["id"], r["p_sim"])
        for r in lisa_permutation_pvalues(lisa, k=5, permutations=99, seed=7).collect()
    )
    assert p_cap == p_cap2  # deterministic under the capped pool too
    assert {i for i, _ in p_cap} == pool_ids
    assert all(0 < p <= 1 for _, p in p_cap)
    # planted block interiors stay significant even with the capped pool
    pmap = dict(p_cap)
    assert pmap[1 * 16 + 1] <= 0.05 and pmap[14 * 16 + 14] <= 0.05


def test_lisa_draws_without_replacement():
    """Every permutation row holds k DISTINCT pool indices (esda's
    conditional randomization draws without replacement), even when the
    draw space barely exceeds k, and the draw is seed-deterministic."""
    import numpy as np

    from geo_big_data_analysis_spark.operators.lisa import _draw_wo_replacement

    for space in (5, 6, 50, 10_000):
        idx = _draw_wo_replacement(np.random.default_rng(7), 199, 5, space)
        assert idx.shape == (199, 5)
        assert idx.min() >= 0 and idx.max() < space
        assert all(len(set(row)) == 5 for row in idx)
    a = _draw_wo_replacement(np.random.default_rng(11), 99, 4, 77)
    b = _draw_wo_replacement(np.random.default_rng(11), 99, 4, 77)
    assert (a == b).all()
    with pytest.raises(ValueError):
        _draw_wo_replacement(np.random.default_rng(1), 10, 6, 5)


def test_lisa_dist_variant_agrees_with_broadcast(spark):
    """The distributed exact-pool variant is the same statistic as the
    broadcast-pool path: identical coverage, valid p-values, planted
    spots significant, and census-level agreement within Monte-Carlo
    error (independent RNG streams, so per-point equality is not
    expected)."""
    from geo_big_data_analysis_spark.operators.lisa import (
        lisa_permutation_pvalues_dist,
    )

    lisa = local_morans_i(_planted(spark), "value", k=5).localCheckpoint()
    p_b = lisa_permutation_pvalues(lisa, k=5, permutations=199, seed=42)
    p_d = lisa_permutation_pvalues_dist(lisa, k=5, permutations=199, seed=42)
    rows_b = {r["id"]: r for r in p_b.collect()}
    rows_d = {r["id"]: r for r in p_d.collect()}
    assert set(rows_b) == set(rows_d)
    assert all(0 < r["p_sim"] <= 1 for r in rows_d.values())
    # i_stat is deterministic (not Monte-Carlo): must agree exactly-ish
    for i in rows_b:
        assert abs(rows_b[i]["i_stat"] - rows_d[i]["i_stat"]) < 1e-9
    # planted interiors significant under both
    for i in (1 * 16 + 1, 14 * 16 + 14):
        assert rows_d[i]["p_sim"] <= 0.05
    # census agreement within MC error
    mean_b = sum(r["p_sim"] for r in rows_b.values()) / len(rows_b)
    mean_d = sum(r["p_sim"] for r in rows_d.values()) / len(rows_d)
    assert abs(mean_b - mean_d) < 0.05
