"""Builders hand back one lazy plan, within a build-job budget.

`triangle_count`, `kcore_peel` and the registry builders of
`graph_triangle_suppliers`, `graph_kcore_suppliers`,
`graph_bfs_reachability` and `events_chi2_type_weekday` compute their
answer inside the returned frame: no driver-side count and no result
frame built from Python values. What building still runs is the table
read and the pins' shuffle map stages; the budget below holds it there.
The builders over the distributed prefix pass (`operators/scale.py`)
run one bounded partials collect each by design; the budget holds them
at that, so a second driver action in the shared pass fails all twelve.
"""

from __future__ import annotations

import pytest

import pin_runs
from social_and_media_data_ingestion_spark.operators.graph import (
    kcore_peel,
    triangle_count,
)
from social_and_media_data_ingestion_spark.plans.queries import registry

# Build jobs at sf0.001, the same on 2, 4 and 8 cores. Each count is
# the table read plus one job per shuffle map stage under the builder's
# lazy pins. Computing the answers on the driver took 18, 23, 27 and 8.
_BUILD_JOBS = {
    "graph_triangle_suppliers": 6,
    "graph_kcore_suppliers": 12,
    "graph_bfs_reachability": 18,
    "events_chi2_type_weekday": 2,
    # the prefix pass: the pin's range-shuffle map stage plus its
    # partials collect, on top of each builder's own reads and pins
    "docs_quality_deciles": 5,
    "events_max_concurrent": 5,
    "lineitem_abc_pareto": 6,
    "orders_rfm_segmentation": 8,
    "part_price_skyline": 7,
    "stats_kruskal_wallis_returnflag": 6,
    "stats_ks_two_sample": 6,
    "stats_mann_whitney_status": 6,
    "stats_spearman_qty_price": 11,
    "supplier_revenue_gini": 6,
    "text_rrf_fusion": 11,
    "window_ntile_quartiles": 5,
}
# the answers of the lazy graph and chi-square builders; the oracles
# (tools/verify_local.py) cover the others
_ROWS = {
    "graph_triangle_suppliers": [[10, 67, 0.447761]],
    "graph_kcore_suppliers": [[1, 3, 3], [2, 0, 0], [3, 0, 0]],
    "graph_bfs_reachability": [[1, 10], [2, 10], [3, 10]],
    "events_chi2_type_weekday": [[23.493663, 24]],
}


@pytest.mark.parametrize("name", sorted(_BUILD_JOBS))
def test_builder_build_job_budget(spark, name):
    sc = spark.sparkContext
    group = f"lazy-builder-{name}"
    try:
        sc.setJobGroup(group, f"{name} build")
        df = registry()[name].spark(spark, pin_runs.SF)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    if name in _ROWS:
        assert pin_runs.rows(df) == _ROWS[name]
    assert 0 < jobs <= _BUILD_JOBS[name], jobs


def _triangles(spark, edges):
    df = pin_runs.frame(spark, edges, "src bigint, dst bigint")
    return pin_runs.rows(triangle_count(df))


def test_triangle_count_degenerate_graphs(spark):
    # no edge, or self-loops only: no node has a degree, so the wedge
    # SUM is NULL and so is the ratio, as in SQL
    assert _triangles(spark, []) == [[0, None, None]]
    assert _triangles(spark, [(3, 3), (5, 5)]) == [[0, None, None]]
    # one edge: two nodes of degree 1, no wedge, clustering 0.0
    assert _triangles(spark, [(1, 2), (2, 1)]) == [[0, 0, 0.0]]


def test_kcore_peel_zero_rounds_is_empty_and_typed(spark):
    df = pin_runs.frame(spark, [(1, 2), (2, 3)], "src bigint, dst bigint")
    out = kcore_peel(df, k=2, rounds=0)
    assert out.dtypes == [
        ("round", "bigint"),
        ("n_nodes", "bigint"),
        ("n_edges", "bigint"),
    ]
    assert out.collect() == []
