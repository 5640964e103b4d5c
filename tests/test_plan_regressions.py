"""Physical-plan regression guards: the scale-critical plan properties
(shuffle-freedom, broadcast choice, pushdown) asserted as tests so a
refactor can't silently regress them."""

from __future__ import annotations

from social_and_media_data_ingestion_spark.plans.queries import registry

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = registry()[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_is_broadcast_no_smj(spark):
    plan = _plan(spark, "flagship_submission_extract")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q6_scan_side_pushdown_no_join(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "Join" not in plan
    # the band predicates must reach the parquet reader (the plan string
    # truncates the PushedFilters list, so match its visible prefix)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # and the scan must prune to the 4 referenced columns
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_orderkey" not in scan_line


def test_minhash_signatures_map_only(spark):
    plan = _plan(spark, "dedup_minhash_signatures")
    assert "Exchange" not in plan  # signatures are row-local: zero shuffle


def test_simhash_map_only(spark):
    plan = _plan(spark, "dedup_simhash")
    assert "Exchange" not in plan


def test_topk_uses_take_ordered_not_global_window(spark):
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan


def test_small_dims_broadcast_in_q5(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    # every join in the chain broadcasts its small side at this SF
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "agg_pricing_summary")
    # lineitem has 11 columns; the scan must read only the 7 used
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_orderkey" not in scan_line
    assert "l_partkey" not in scan_line
    assert "l_quantity" in scan_line


def test_pii_redaction_map_only(spark):
    # corpus scrubbing must scale linearly: no shuffle, no join
    plan = _plan(spark, "pii_redact_documents")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_chunking_map_only(spark):
    # stride-window chunking is row-local (generate over arrays)
    plan = _plan(spark, "text_chunk_documents")
    assert "Exchange" not in plan


def test_packing_single_shard_shuffle(spark):
    # context packing shuffles once (by source shard), never globally
    plan = _plan(spark, "doc_pack_contexts")
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


def test_q12_band_predicate_pushed_to_scan(spark):
    # the 1997 ship-year filter must reach the parquet reader as a range
    plan = _plan(spark, "q12_priority_by_flag")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "SortMergeJoin" not in plan


def test_q21_single_orderkey_shuffle_no_self_join_explosion(spark):
    # EXISTS/NOT EXISTS rewritten to per-order window stats over the
    # (order, supplier) pairs frame: lineitem is scanned exactly ONCE
    plan = _plan(spark, "q21_waiting_suppliers")
    assert plan.count("FileScan parquet") == 3  # lineitem + supplier + nation
    assert "SortMergeJoin" not in plan


def test_q2_part_filter_pushed_below_distinct(spark):
    # the selective part predicate must prune lineitem BEFORE the
    # (partkey, suppkey) distinct: a broadcast LEFT SEMI under the
    # HashAggregate, never a post-window filter over the full bridge
    plan = _plan(spark, "q2_min_cost_supplier")
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    semi_pos = plan.index("LeftSemi")
    dedup_pos = plan.index("HashAggregate")
    # executedPlan prints top-down: the dedup aggregate appears above
    # (= earlier in the string than) the semi-join feeding it
    assert dedup_pos < semi_pos


def test_keyword_contains_chain_no_regex_for_small_sets(spark):
    # small keyword sets compile to UTF8String Contains, not an rlike NFA
    plan = _plan(spark, "flagship_submission_extract")
    assert "Contains(" in plan
    assert "RLike" not in plan


def test_curation_single_shuffle(spark):
    # all gates (lang/tokens/punct) evaluate map-side; the only exchange
    # is the fingerprint-dedup shuffle
    plan = _plan(spark, "corpus_curate_pipeline")
    import re
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert "Join" not in plan


def test_kmeans_assign_map_only(spark):
    # argmax over literal centroids (bounded driver state): pure map-side
    # expression work — no window, no join, no shuffle at all
    plan = _plan(spark, "emb_kmeans_assign")
    assert "Window" not in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_audio_chunks_map_only(spark):
    # the mapInPandas UDTF preserves partitioning: no shuffle, no join
    plan = _plan(spark, "multimodal_audio_chunks")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_tfidf_no_smj_and_broadcast_count(spark):
    plan = _plan(spark, "text_tfidf_topterms")
    assert "SortMergeJoin" not in plan


def test_quantize_int8_map_only(spark):
    # per-vector affine quantization is row-local: zero shuffle, zero join
    plan = _plan(spark, "emb_quantize_int8")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_decontaminate_eval_side_broadcast(spark):
    # the eval shingle set must broadcast; a sort-merge join here would
    # shuffle the full training shingle stream at 100 TB
    plan = _plan(spark, "corpus_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_label_centroids_single_wide_shuffle(spark):
    # posexplode -> one hash agg on (label, pos); the pairwise join runs on
    # the tiny centroid table (broadcast), never on the input
    plan = _plan(spark, "emb_label_centroid_distances")
    assert "SortMergeJoin" not in plan


def test_time_bucket_rollup_expand_before_exchange(spark):
    # ROLLUP expands grouping sets map-side (Expand under the first
    # HashAggregate), so partial aggregation applies at every granularity
    plan = _plan(spark, "events_time_bucket_rollup")
    assert "Expand" in plan
    idx_expand = plan.index("Expand")
    idx_exchange = plan.index("Exchange")
    # plan strings print top-down: Exchange appears above Expand when the
    # expand feeds the partial agg below the shuffle
    assert idx_exchange < idx_expand


def test_unpivot_expand_not_union(spark):
    # melt must compile to a map-side Expand over one scan, not a UNION of
    # three lineitem scans
    plan = _plan(spark, "unpivot_price_components")
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1


def test_cumulative_distinct_window_after_reduction(spark):
    # the unpartitioned running-sum window is fine ONLY because it runs on
    # the per-day table; the full event stream must be reduced by hash
    # aggregates first (min per user, count per day)
    plan = _plan(spark, "events_cumulative_distinct_users")
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels


def test_temperature_weights_single_scan(spark):
    # global totals via unpartitioned windows over the per-source table:
    # one documents scan, not one per scalar aggregate
    plan = _plan(spark, "sample_temperature_by_source")
    assert plan.count("FileScan parquet") == 1


def test_ttr_map_only(spark):
    # type-token ratio is in-row array math: no shuffle, no join
    plan = _plan(spark, "text_type_token_ratio")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_audience_overlap_no_cartesian(spark):
    # the pair expansion must go through the user_id equi-join, never a
    # cartesian of audiences
    plan = _plan(spark, "events_audience_overlap")
    assert "CartesianProduct" not in plan


def test_hhi_dims_broadcast(spark):
    plan = _plan(spark, "supplier_concentration_hhi")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_ntile_quartiles_no_single_partition_sort(spark):
    # equal-frequency binning must use the distributed global_ntile
    # (range partition + offsets over a checkpointed frame), never an
    # unpartitioned ntile window that funnels the table through one task.
    # The range exchange lives in the checkpoint sub-job; the final plan
    # reads the materialized blocks (ExistingRDD). Since the r14 opt
    # round the rank is a map-only Arrow pass over the pre-sorted pinned
    # frame — no window node, no pid re-exchange.
    plan = _plan(spark, "window_ntile_quartiles")
    assert "SinglePartition" not in plan
    assert "ExistingRDD" in plan
    assert "MapInArrow" in plan
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan


def test_rfm_segmentation_no_single_partition_sort(spark):
    plan = _plan(spark, "orders_rfm_segmentation")
    assert "SinglePartition" not in plan
    assert "ExistingRDD" in plan


def test_max_concurrent_no_single_partition_sort(spark):
    # the sweep-line cumulative sum must run on the distributed
    # global_running_sum: since the r13 opt round that is a MAP-ONLY
    # Arrow prefix pass over the pre-sorted checkpointed frame — no
    # window at all, and in particular no second exchange of the full
    # point set by the range-partition id (the pre-r13 window spelling
    # paid one because a checkpointed frame reports UnknownPartitioning)
    # and never an empty-partition global window. (The plan's one
    # SinglePartition exchange is the final scalar max over 32 partial
    # rows — fine.)
    plan = _plan(spark, "events_max_concurrent")
    assert "ExistingRDD" in plan
    assert "MapInArrow" in plan
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan


def test_ivf_assignment_map_side(spark):
    # nearest-centroid assignment embeds the k centroids as literals
    # (bounded driver state): no corpus x k crossJoin expansion, no
    # per-vector assignment window — the ONLY shuffle is the final
    # per-query top-k
    import re

    plan = _plan(spark, "sim_ivf_topk")
    shuffles = re.findall(
        r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)", plan
    )
    assert len(shuffles) == 1, shuffles
    assert "SinglePartition" not in plan


def test_pagerank_checkpoint_bounds_lineage(spark):
    """Long PageRank runs must truncate lineage: with checkpoint_every=5
    the 12-round plan reads materialized blocks (ExistingRDD) instead of
    unrolling 12 join+agg layers, and the values are identical to the
    fully-unrolled spelling."""
    from social_and_media_data_ingestion_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "b")],
        ["src", "dst"],
    )
    chk = pagerank(edges, iters=12, checkpoint_every=5)
    unrolled = pagerank(edges, iters=12, checkpoint_every=0)
    plan_chk = chk._jdf.queryExecution().executedPlan().toString()
    plan_unrolled = unrolled._jdf.queryExecution().executedPlan().toString()
    # the source DF is itself an ExistingRDD scan, so compare counts:
    # the checkpointed plan scans the materialized rank blocks INSTEAD of
    # the per-iteration join/agg stack; the unrolled one only scans edges
    assert plan_chk.count("ExistingRDD") >= 1
    # truncation bounds the physical tree: the checkpointed plan must be
    # a small fraction of the unrolled one at 12 iterations
    assert len(plan_chk) < len(plan_unrolled) / 2
    got = {r.node: r.pr for r in chk.collect()}
    want = {r.node: r.pr for r in unrolled.collect()}
    assert got == want


def test_pagerank_dangling_mass_conserved(spark):
    """redistribute_dangling=True keeps total rank ~1 on a graph with a
    dangling node; the drop-dangling default leaks that mass."""
    from social_and_media_data_ingestion_spark.operators.graph import pagerank

    # 'c' has no out-edges -> dangling
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], ["src", "dst"]
    )
    full = pagerank(edges, iters=8, redistribute_dangling=True)
    total = full.agg({"pr": "sum"}).first()[0]
    assert abs(total - 1.0) < 1e-6
    leaky = pagerank(edges, iters=8, redistribute_dangling=False)
    total_leaky = leaky.agg({"pr": "sum"}).first()[0]
    assert total_leaky < 0.9


def test_asof_registry_query_is_join_free(spark):
    """The as-of registry query must stay the union+window spelling:
    the only join allowed is none at all (no theta-join fallback)."""
    plan = _plan(spark, "j9_asof_view_purchase")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_coactivity_band_join_is_equi(spark):
    """The time-band join must compile to a hash/sort equi-join on the
    bucket id, never the O(n^2) nested-loop the raw band predicate
    would produce."""
    plan = _plan(spark, "events_coactivity_histogram")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_entity_exchange(spark):
    """SCD2 history is windows over the entity key: exactly one
    hash-partitioning exchange, no joins."""
    plan = _plan(spark, "scd2_user_state_history")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_merge_upsert_is_shuffle_join_not_nested_loop(spark):
    """MERGE compiles to a keyed full-outer join — never a nested loop;
    at this SF the planner may pick SMJ or shuffled hash, both fine."""
    plan = _plan(spark, "lake_merge_upsert")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan


def test_shingle_tokenizer_let_bound_once(spark):
    """The n-gram builders must LET-BIND the token array as a lambda
    variable (transform(array(toks), tk -> ...)): an outer/column
    reference inside a higher-order-function lambda is inlined by
    CollapseProject and re-evaluated PER ELEMENT — the tokenizer ran
    once per shingle (O(tokens x shingles); 13 s -> 1.1 s on
    text_bigram_logprob at sf0.1). The optimized plan must show the
    tokenizer exactly once, sitting inside array(...) as the transform
    argument."""
    from social_and_media_data_ingestion_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    p = (
        word_shingles(df, "doc_id", "text", 3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # exactly one tokenizer, bound under array( as the transform arg
    assert p.count("split(lower(trim(") == 1
    assert "array(filter(split(lower(trim(" in p.replace(" ", "")
    # minhash: 1 tokenizer + 1 polyhash char-split — NOT num_hashes
    # copies of the shingle+hash pipeline (the hashed array binds once)
    p2 = (
        minhash_signatures(df, "doc_id", "text", 3, 8)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert p2.count("split(lower(trim(") == 1
    assert p2.count("split(") == 2


def test_pagerank_reliable_checkpoint_dir_matches_local(spark, reliable_pins):
    """With `spark.checkpoint.dir` set, every pagerank pin is a reliable
    DataFrame.checkpoint instead of a localCheckpoint (lineage gone with a
    lost executor): same ranks, bit for bit."""
    import pin_runs

    from social_and_media_data_ingestion_spark.operators.graph import pagerank

    reliable, _ = reliable_pins
    spokes = [1, 2, 3, 4, 5]
    rows = [(0, s) for s in spokes] + [(s, 0) for s in spokes]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    assert reliable["pagerank"] == pin_runs.rows(pagerank(edges, iters=4))
