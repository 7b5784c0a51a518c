"""DBSCAN contract tests vs a pure-python reference implementation.

Contract (SURVEY §7.3): identical core set, identical noise set, and
cluster partition equal up to relabeling.
"""

from __future__ import annotations

import math
import random

from geo_big_data_analysis_spark.operators.dbscan import cluster_census, dbscan


def _ref_dbscan(pts, eps, min_samples):
    """O(n²) textbook DBSCAN: returns dict id → cluster (−1 noise).

    Cluster ids are normalized to the min member id of each cluster's
    core set for comparability with the engine's labeling.
    """
    ids = [p[0] for p in pts]
    coord = {p[0]: (p[1], p[2]) for p in pts}
    nbrs = {
        i: [j for j in ids if math.dist(coord[i], coord[j]) <= eps]
        for i in ids
    }
    core = {i for i in ids if len(nbrs[i]) >= min_samples}
    # union-find over core-core edges
    parent = {i: i for i in core}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in core:
        for j in nbrs[i]:
            if j in core:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    labels = {}
    for i in ids:
        if i in core:
            labels[i] = find(i)
        else:
            core_nb = sorted(find(j) for j in nbrs[i] if j in core)
            labels[i] = core_nb[0] if core_nb else -1
    # normalize cluster ids to min member id (core points only define it)
    clusters = {}
    for i, lab in labels.items():
        if lab != -1:
            clusters.setdefault(lab, []).append(i)
    remap = {lab: min(m for m in members if find(m) == lab and m in core) if False else min(members)
             for lab, members in clusters.items()}
    return {i: (remap[lab] if lab != -1 else -1) for i, lab in labels.items()}


def _partitions_equal(a: dict, b: dict) -> bool:
    """Same noise set + same cluster partition up to relabeling."""
    assert set(a) == set(b)
    if {i for i, v in a.items() if v == -1} != {i for i, v in b.items() if v == -1}:
        return False
    ga, gb = {}, {}
    for i, v in a.items():
        if v != -1:
            ga.setdefault(v, set()).add(i)
    for i, v in b.items():
        if v != -1:
            gb.setdefault(v, set()).add(i)
    return sorted(map(sorted, ga.values())) == sorted(map(sorted, gb.values()))


def _planted_points():
    rnd = random.Random(42)
    pts = []
    pid = 0
    # three dense blobs (radius ~0.3, eps 0.5 connects them internally)
    for cx, cy in [(0.0, 0.0), (10.0, 10.0), (10.0, 0.0)]:
        for _ in range(20):
            pts.append((pid, cx + rnd.uniform(-0.3, 0.3), cy + rnd.uniform(-0.3, 0.3)))
            pid += 1
    # sparse noise
    for _ in range(15):
        pts.append((pid, rnd.uniform(-5, 15), rnd.uniform(-5, 15)))
        pid += 1
    return pts


def test_dbscan_matches_reference_partition(spark):
    pts = _planted_points()
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = {r.id: r.cluster for r in dbscan(df, eps=0.5, min_samples=5).collect()}
    ref = _ref_dbscan(pts, eps=0.5, min_samples=5)
    # noise sets identical
    assert {i for i, v in got.items() if v == -1} == {i for i, v in ref.items() if v == -1}
    assert _partitions_equal(got, ref)


def test_dbscan_min_samples_boundary(spark):
    # exactly min_samples points within eps of each other → all core
    pts = [(i, 0.01 * i, 0.0) for i in range(5)]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = {r.id: r.cluster for r in dbscan(df, eps=1.0, min_samples=5).collect()}
    assert set(got.values()) == {0}
    got2 = {r.id: r.cluster for r in dbscan(df, eps=1.0, min_samples=6).collect()}
    assert set(got2.values()) == {-1}


def test_dbscan_cross_cell_cluster(spark):
    # chain spanning many eps-grid cells must land in ONE component
    pts = [(i, 0.9 * i, 0.0) for i in range(30)]  # spacing 0.9 < eps=1.0
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = {r.id: r.cluster for r in dbscan(df, eps=1.0, min_samples=3).collect()}
    # endpoints (0, 29) have only 2 eps-neighbors → border, not core; the
    # cluster label is the min CORE id (=1) and covers the whole chain
    assert set(got.values()) == {1}
    assert len(got) == 30


def test_cluster_census(spark):
    pts = _planted_points()
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    labels = dbscan(df, eps=0.5, min_samples=5)
    ref = _ref_dbscan(pts, eps=0.5, min_samples=5)
    n_clusters_ref = len({v for v in ref.values() if v != -1})
    n_noise_ref = sum(1 for v in ref.values() if v == -1)
    row = cluster_census(labels).first()
    assert (row.n_clusters, row.n_noise) == (n_clusters_ref, n_noise_ref)


def test_cc_distributed_matches_driver(spark, force_distributed):
    from geo_big_data_analysis_spark.operators.dbscan import connected_components

    # two chains + one singleton-free triangle, min-id labels
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "a_id bigint, b_id bigint",
    )
    want = {r.id: r.comp for r in connected_components(edges).collect()}
    force_distributed()
    got = {r.id: r.comp for r in connected_components(edges).collect()}
    assert want == got
    assert want[3] == 1 and want[11] == 10 and want[22] == 20
