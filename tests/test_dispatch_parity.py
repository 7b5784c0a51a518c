"""Oracle parity of the distributed branches.

At the fixture sizes every size dispatch (`operators/dispatch`) takes
its driver path, so the distributed branches are never compared with
the oracle in the unforced selfcheck. Here every registry query that
reaches a dispatch helper runs with all dispatches forced distributed,
through `tools/selfcheck.run`, against its DuckDB oracle.

The committed record at sf0.01 is `SELFCHECK_DISTRIBUTED_r10.txt`:
``SPARK_GRAFT_SLOW=1 SPARK_GRAFT_TEST_SF_DIR=<sf0.01 fixture dir>
python -m pytest tests/test_dispatch_parity.py -s``.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The registry queries that reach a dispatch helper, found by wrapping
#: both helpers over an unforced selfcheck of all 301 queries at
#: sf0.001. The test fails when this set goes stale.
DISPATCHING = (
    "avg_rank_suppliers",
    "bias_audit_summary",
    "bpe_encode_docs",
    "bpe_merges_docs",
    "dbscan_event_clusters",
    "gbt_band_lab2",
    "importances_band",
    "isochrone_hull_geometry",
    "isochrone_poi_access",
    "kcenter_coreset_embeddings",
    "kcore_mod",
    "kdist_curve_stats",
    "kmeans_event_clusters",
    "lab2_pipeline",
    "label_propagation_mod",
    "lisa_moran_events",
    "lisa_perm_band",
    "lisa_perm_band_dist",
    "lloyd_kmeans_clusters",
    "near_dup_clusters_docs",
    "pagerank_mod",
    "pareto_user_share",
    "positional_split_stats",
    "rank_suppliers",
    "scc_mod",
    "semdedup_embeddings",
    "shortest_path_route_grid",
    "sssp_grid",
    "wordpiece_merges_docs",
)


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SLOW"),
    reason="~4 min forced-distributed selfcheck of the dispatching queries — SPARK_GRAFT_SLOW=1",
)
def test_forced_distributed_matches_oracle(spark, sf_dir, force_distributed, monkeypatch):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck

    from geo_big_data_analysis_spark.operators import dispatch

    force_distributed()
    forced_rows, forced_fits = dispatch.driver_rows, dispatch.fits
    reached: set[str] = set()
    current = [None]

    def rows(df, cap):
        reached.add(current[0])
        return forced_rows(df, cap)

    def fits(df, cap):
        reached.add(current[0])
        return forced_fits(df, cap)

    monkeypatch.setattr(dispatch, "driver_rows", rows)
    monkeypatch.setattr(dispatch, "fits", fits)

    def tagged(name, fn):
        def run(spark, sf):
            current[0] = name
            return fn(spark, sf)

        return run

    monkeypatch.setattr(
        selfcheck,
        "REGISTRY",
        {n: (tagged(n, fn), sql) for n, (fn, sql) in selfcheck.REGISTRY.items()},
    )
    assert selfcheck.run(sf_dir, only=list(DISPATCHING)) == 0
    assert reached == set(DISPATCHING)
