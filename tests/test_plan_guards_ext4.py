"""Plan guards for the ext4 batch (BM25, count-min, Adamic-Adar,
gap-fill, winsorized stats, DQ report, k-NN audit): pin the scale
properties — map-only scoring, broadcast of tiny stat frames, no
nested-loop/cartesian joins — so refactors can't silently regress them."""

from __future__ import annotations

from social_and_media_data_ingestion_spark.plans.queries import registry

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = registry()[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_score_is_map_side(spark):
    plan = _plan(spark, "text_bm25_scores")
    # corpus stats reduce to ONE row (single-partition exchange is fine);
    # the per-document score must never shuffle on doc_id
    assert "hashpartitioning(doc_id" not in plan
    assert "SortMergeJoin" not in plan
    # the 1-row stats frame comes back via a broadcast, not a shuffle join
    assert "BroadcastExchange" in plan


def test_winsorized_percentiles_broadcast_back(spark):
    plan = _plan(spark, "stats_winsorized_prices")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_countmin_no_smj_no_cartesian(spark):
    plan = _plan(spark, "agg_countmin_audit")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gapfill_grid_join_is_equi(spark):
    plan = _plan(spark, "events_resample_gapfill")
    # per-user grids join daily aggregates on (user_id, day) — an equi
    # join, never a nested-loop range probe
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_adamic_adar_wedge_join_is_equi(spark):
    plan = _plan(spark, "graph_adamic_adar_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dq_report_anti_join_broadcasts(spark):
    plan = _plan(spark, "dq_constraint_report")
    assert "SortMergeJoin" not in plan
    # FK-orphan check: anti join with the dim side broadcast
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_knn_audit_probes_broadcast(spark):
    plan = _plan(spark, "emb_knn_label_audit")
    # probes and label dims ride broadcasts against the corpus scan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan


def test_abc_pareto_distributed_prefix_sum(spark):
    # the cumulative-revenue ranking rides global_running_sum (range
    # partition + per-partition offsets over a checkpointed frame), not
    # a single-partition window sort. Since the r13 opt round the
    # prefix is a MAP-ONLY Arrow pass over the pre-sorted pinned frame:
    # no window node at all, and no re-exchange of the frame by the
    # partition id. The scalar total is a broadcast, and it reads the
    # SAME pinned frame (the old spelling re-scanned lineitem).
    plan = _plan(spark, "lineitem_abc_pareto")
    assert "ExistingRDD" in plan
    assert "MapInArrow" in plan
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan
    # BOTH consumers (prefix pass and scalar total) read the pinned
    # frame: the one lineitem scan lives in the pin-materialization job,
    # so the final plan re-scans nothing (pre-r13 the total branch
    # re-scanned and re-aggregated lineitem)
    assert plan.count("Scan parquet") == 0


def test_bloom_audit_all_probes_broadcast(spark):
    # the three position probes and the exact-truth dim all ride
    # broadcast hash joins against the single orders scan — the filter
    # itself is never shuffled
    plan = _plan(spark, "join_bloom_filter_audit")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_rrf_fusion_no_smj(spark):
    # the two ranked lists are candidate-set-sized (matched docs only);
    # their full-outer merge must not fall into a sort-merge join of the
    # full corpus. (The per-list rank is an ORDER BY over the candidate
    # list — bounded by retrieval fan-out, not corpus size.)
    plan = _plan(spark, "text_rrf_fusion")
    assert "SortMergeJoin" not in plan


def test_kwic_is_map_only(spark):
    # positions + context windows are in-row array ops; the whole query
    # is scan + generate (flatMap) — zero shuffle
    plan = _plan(spark, "text_kwic_contexts")
    assert "Exchange" not in plan


def test_leakage_audit_no_smj(spark):
    plan = _plan(spark, "ml_split_leakage_audit")
    assert "SortMergeJoin" not in plan


def test_daily_trend_min_date_broadcast(spark):
    # the min-orderdate scalar rides a broadcast back onto the scan;
    # everything else is two partial-aggregable groupBys
    plan = _plan(spark, "orders_daily_trend")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_chi2_margins_broadcast(spark):
    plan = _plan(spark, "events_chi2_type_weekday")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 2
