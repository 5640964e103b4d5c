"""Plan guards for the ext5 batch (time-series diagnostics, Naive
Bayes, ER linkage, feature hashing, containment, k-core, skyline): pin
the scale properties — pre-aggregation before quadratic stages,
broadcast of tiny model/stat frames, no cartesian blowups, distributed
prefix-min instead of a single-partition window — so refactors can't
silently regress them."""

from __future__ import annotations

from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.plans.queries import registry

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = registry()[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_autocorrelation_lag_frame_broadcast(spark):
    plan = _plan(spark, "events_autocorrelation")
    # the raw scan reduces to a daily frame before any join; the lag
    # spine and the daily self-join ride broadcasts, never an SMJ
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_seasonal_anomaly_baseline_broadcast(spark):
    plan = _plan(spark, "events_seasonal_anomaly")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_theil_sen_pairs_after_reduction(spark):
    plan = _plan(spark, "stats_theil_sen_trend")
    # pairwise slopes must join the REDUCED (type, day) frame with
    # itself — the scans feeding the join are aggregates, not raw scans
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both join inputs carry a hash aggregate below them
    assert plan.count("HashAggregate") >= 4


def test_naive_bayes_model_broadcast(spark):
    plan = _plan(spark, "ml_naive_bayes_source")
    # the (class, token) model and the classes stat frame come back as
    # broadcasts — the test-token stream is never sort-merge joined
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_er_linkage_blocks_on_distinct_names(spark):
    plan = _plan(spark, "er_blocked_name_linkage")
    # pairs form between DISTINCT names (hash-agg below the join), and
    # the block join is an equi join on the noun key
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_er_phonetic_block_join_is_equi(spark):
    """Phonetic blocking must pair names through an EQUI join on the
    consonant-class key — no cross-block pair may ever materialize (the
    whole point of blocking). The name1<name2 ordering and the
    Levenshtein verify ride as post-join filters, never as a join-less
    cartesian, and the pair space forms over DISTINCT names (hash-agg
    below the join)."""
    plan = _plan(spark, "er_phonetic_blocked_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "pkey" in plan  # the key reaches the join
    assert "HashAggregate" in plan


def test_er_union_linkage_plan(spark):
    """Union blocking must stay one composite-key EQUI join: no
    cross-block pair materializes (no cartesian/BNLJ) and the
    (pass, bkey) composite reaches the join as its equi keys. The
    Levenshtein verify — declared above the pair-dedup agg — is pushed
    by Catalyst below it as the join's RESIDUAL condition (it only
    references the grouping keys), pruning failed candidates before the
    dedup shuffle; this test pins that plan: lev appears only as an
    equi-hash-join residual, and the pair-dedup aggregate sits above
    the join."""
    plan = _plan(spark, "er_union_blocked_linkage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bkey" in plan  # the composite block key reaches the join
    lines = plan.splitlines()
    levs = [i for i, l in enumerate(lines) if "levenshtein" in l]
    assert levs
    # every lev evaluation rides an EQUI hash join (residual position —
    # the keys ride in brackets before it), never a nested-loop or a
    # standalone all-pairs filter above a cartesian
    for i in levs:
        assert "HashJoin" in lines[i] and "bkey" in lines[i]
    # the pair-dedup aggregate (recognizable by its via-pass provenance
    # max over vp) sits ABOVE the verify in the plan tree
    dedup_aggs = [
        i
        for i, l in enumerate(lines)
        if "HashAggregate" in l and "vp" in l and "name1" in l
    ]
    assert dedup_aggs and max(dedup_aggs) < min(levs)


def test_er_union_linkage_matches_recall_audit(spark):
    """The recall audit's `union` strategy row and the production
    union-blocked path must reconcile: every output row of the linkage
    is a candidate pair that verified as a true match (lev <= 4), which
    is exactly the audit's n_caught count; and per-pass provenance
    means every row was blocked by at least one pass."""
    from social_and_media_data_ingestion_spark.plans.queries_ext5 import (
        er_blocking_recall_audit,
        er_union_blocked_linkage,
    )

    audit = {
        r["strategy"]: r for r in er_blocking_recall_audit(spark, SF).collect()
    }
    rows = er_union_blocked_linkage(spark, SF).collect()
    assert audit["union"]["n_caught"] == len(rows) > 0
    assert all(max(r["via_phonetic"], r["via_token"]) == 1 for r in rows)
    # the union catches strictly more than the phonetic pass alone
    # (the audit's measured 0.07-vs-0.69 completeness story)
    assert audit["union"]["n_caught"] > audit["phonetic"]["n_caught"]


def test_er_union_linkage_doubly_blocked_pair_fixture(spark, tmp_path):
    """Match-path fixture (vacuous-coverage rule, d3e30f8): the generated
    part vocabulary never produces a pair blocked by BOTH passes, so the
    max()-provenance dedup and the residual-verify's extra-lev path
    would go untested. 'red widget' / 'rad widget' share the last token
    AND the phonetic key (r323 both: vowels delete, 'dwdgt' classes
    collapse identically), so the pair flows through the join twice and
    must come out ONCE with via_phonetic=1 AND via_token=1 — compared
    against the DuckDB oracle on the same fixture."""
    import duckdb
    import pandas as pd

    from social_and_media_data_ingestion_spark.plans.queries import registry
    from social_and_media_data_ingestion_spark.plans.queries_ext5 import (
        er_union_blocked_linkage,
    )

    part = pd.DataFrame(
        {
            "p_partkey": [1, 2, 3, 4],
            "p_name": [
                "red widget",
                "rad widget",
                "rod gear",
                "red widget",  # dup row: support=2 for name1
            ],
        }
    )
    spark.createDataFrame(part).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    rows = {
        (r["name1"], r["name2"]): r
        for r in er_union_blocked_linkage(spark, str(tmp_path)).collect()
    }
    both = rows[("rad widget", "red widget")]
    assert (both["via_phonetic"], both["via_token"]) == (1, 1)
    assert (both["support1"], both["support2"]) == (1, 2)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM "
        f"read_parquet('{tmp_path}/part.parquet/*.parquet')"
    )
    want = con.execute(
        registry()["er_union_blocked_linkage"].oracle
    ).fetchdf()
    assert len(want) == len(rows)
    for _, w in want.iterrows():
        r = rows[(w["name1"], w["name2"])]
        assert (r["via_phonetic"], r["via_token"], r["lev"]) == (
            w["via_phonetic"],
            w["via_token"],
            w["lev"],
        )


def test_er_union_linkage_empty_block_guard(spark, tmp_path):
    """''-block guard (round-8 verdict #3): unblockable names must not
    band. A single-token name has noun='' (no second token); a
    letterless name additionally has pkey=''. Without the post-explode
    `bkey != ''` filter, every such name lands in ONE shared '' block
    whose pair expansion is quadratic — the same garbage-hot-bucket
    class fixed for LSH in r8 — and this fixture would emit spurious
    pairs ('widget'/'gadget' via the '' token block, lev=2; '123'/'456'
    via BOTH '' blocks, lev=3). With the guard, zero pairs form, on
    Spark AND on the mirrored oracle."""
    import duckdb
    import pandas as pd

    from social_and_media_data_ingestion_spark.plans.queries_ext5 import (
        er_union_blocked_linkage,
    )

    part = pd.DataFrame(
        {
            "p_partkey": [1, 2, 3, 4],
            "p_name": ["widget", "gadget", "123", "456"],
        }
    )
    spark.createDataFrame(part).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    assert er_union_blocked_linkage(spark, str(tmp_path)).count() == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM "
        f"read_parquet('{tmp_path}/part.parquet/*.parquet')"
    )
    want = con.execute(
        registry()["er_union_blocked_linkage"].oracle
    ).fetchdf()
    assert len(want) == 0


def test_er_resolution_pipeline_plan_and_fixture(spark, tmp_path):
    """The end-to-end ER pipeline keeps the union-linkage scale shape
    (composite-key EQUI join, lev verify as join residual, no cartesian
    anywhere — including the CC loop and the entity/pair-stat joins),
    and its transitive step does what pair queries can't: on a chain
    'abcdefgh widget' ~ 'abcd widget' ~ 'a widget' (adjacent lev 4 and
    3, ends lev 7 — ABOVE the threshold, so the ends never form a
    pair) all three names land in ONE entity via transitivity, with
    n_pairs counting only the 2 VERIFIED pairs and max_lev staying at
    the threshold, checked against the DuckDB recursive-closure oracle
    on the same fixture."""
    import duckdb
    import pandas as pd

    from social_and_media_data_ingestion_spark.plans.queries_ext5 import (
        er_resolution_pipeline,
    )

    # the blocking self-join lives in the pinned pairs segment (the CC
    # loop truncates lineage), so the final plan can't show `bkey` —
    # that shape is pinned by test_er_union_linkage_plan on the shared
    # candidate machinery; here guard the visible assembly segment
    plan = _plan(spark, "er_resolution_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    part = pd.DataFrame(
        {
            "p_partkey": [1, 2, 3, 4],
            "p_name": [
                "abcdefgh widget",
                "abcd widget",
                "a widget",
                "blue gear",
            ],
        }
    )
    spark.createDataFrame(part).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    rows = {
        r["entity_id"]: r
        for r in er_resolution_pipeline(spark, str(tmp_path)).collect()
    }
    chain = rows["a widget"]  # lexicographic min of the 3-member chain
    assert chain["n_members"] == 3
    assert chain["n_pairs"] == 2  # adjacent pairs only; ends are lev 7
    assert chain["max_lev"] == 4  # the abcdefgh~abcd pair, at threshold
    single = rows["blue gear"]
    assert (single["n_members"], single["n_pairs"]) == (1, 0)
    assert single["max_lev"] is None
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM "
        f"read_parquet('{tmp_path}/part.parquet/*.parquet')"
    )
    want = con.execute(
        registry()["er_resolution_pipeline"].oracle
    ).fetchdf()
    assert len(want) == len(rows)
    for _, w in want.iterrows():
        r = rows[w["entity_id"]]
        assert (r["n_members"], r["total_support"], r["n_pairs"]) == (
            w["n_members"],
            w["total_support"],
            w["n_pairs"],
        )


def test_er_phonetic_key_single_pass_no_join(spark):
    """The block audit is ONE hash-agg on the in-row key: no join may
    appear in its plan at all."""
    plan = _plan(spark, "er_phonetic_block_audit")
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_feature_hashing_no_vocabulary_join(spark):
    plan = _plan(spark, "text_feature_hashing")
    # the hashing trick needs NO dictionary: zero joins anywhere
    assert "Join" not in plan


def test_containment_inverted_index_equi_join(spark):
    plan = _plan(spark, "dedup_shingle_containment")
    # candidates come from the inverted shingle index (equi join on the
    # shingle), never a cross join over doc pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skyline_uses_distributed_prefix_min(spark):
    from social_and_media_data_ingestion_spark.plans.queries_ext5 import (
        part_price_skyline,
    )

    df = part_price_skyline(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the prefix-min must be the map-only Arrow pass over the pre-sorted
    # pinned frame (r14 opt round): no window node at all — neither a
    # global (empty-partition) spec that would funnel the frame through
    # one task, nor the pre-r14 Window.partitionBy(pid) whose
    # UnknownPartitioning input forced a SECOND full Exchange. (The
    # upstream rangepartitioning is hidden behind the localCheckpoint's
    # ExistingRDD scan.)
    assert "MapInArrow" in plan
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan


def test_global_running_min_matches_window_spelling(spark, range_partitions):
    from pyspark.sql import Window

    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_min,
    )

    df = spark.range(0, 500).select(
        F.col("id"),
        ((F.col("id") * 37) % 101).alias("v"),
    )
    with range_partitions(8):
        got = {
            r["id"]: r["m"]
            for r in global_running_min(df, ["id"], "v", out_col="m").collect()
        }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["m"]
        for r in df.withColumn("m", F.min("v").over(w)).collect()
    }
    assert got == want


def test_global_running_min_exclusive_first_row_null(spark, range_partitions):
    from pyspark.sql import Window

    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_min,
    )

    df = spark.range(0, 300).select(
        F.col("id"),
        ((F.col("id") * 53) % 97).alias("v"),
    )
    with range_partitions(8):
        got = {
            r["id"]: r["m"]
            for r in global_running_min(
                df, ["id"], "v", out_col="m", exclusive=True
            ).collect()
        }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["id"]: r["m"]
        for r in df.withColumn("m", F.min("v").over(w)).collect()
    }
    assert got == want
    assert got[0] is None


def test_kcore_rounds_monotone_shrinking(spark):
    rows = registry()["graph_kcore_suppliers"].spark(spark, SF).collect()
    by_round = {r["round"]: (r["n_nodes"], r["n_edges"]) for r in rows}
    assert sorted(by_round) == [1, 2, 3]
    for r in (2, 3):
        assert by_round[r][0] <= by_round[r - 1][0]
        assert by_round[r][1] <= by_round[r - 1][1]


def test_trigram_paths_topk_take_ordered(spark):
    plan = _plan(spark, "events_trigram_paths")
    # global top-20 must ride TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan
    # the sequence window partitions on user_id — no global window
    assert "windowspecdefinition(user_id" in plan


def test_rendezvous_shards_map_only_assignment(spark):
    plan = _plan(spark, "sample_rendezvous_shards")
    # the weight array + argmax is in-row; only the tiny per-shard agg
    # exchanges, and nothing joins
    assert "Join" not in plan


def test_drift_psi_bounds_broadcast(spark):
    plan = _plan(spark, "ml_drift_psi")
    # the 1-row time-bounds frame and the bin spine come back as
    # broadcasts; the fact scan is never sort-merge joined
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_truncation_recall_broadcast_queries(spark):
    plan = _plan(spark, "emb_truncation_recall")
    # both top-k passes broadcast the 10-query frame against the corpus
    # scan; nothing sort-merge joins
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 2


def test_markov_iteration_joins_broadcast(spark):
    plan = _plan(spark, "events_markov_stationary")
    # the state vector is |event types| rows — every iteration join must
    # broadcast it, never exchange the transition frame per round
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bfs_frontier_semi_joins(spark):
    rows = registry()["graph_bfs_reachability"].spark(spark, SF).collect()
    by_hop = {r["hop"]: r["n_reached"] for r in rows}
    # reachability is monotone non-decreasing over hops and includes
    # the 2 seeds
    assert sorted(by_hop) == [1, 2, 3]
    assert by_hop[1] >= 2
    assert by_hop[1] <= by_hop[2] <= by_hop[3]


def test_forecast_backtest_broadcast_stats(spark):
    plan = _plan(spark, "orders_forecast_backtest")
    # the 1-row bounds and train-stat frames broadcast back onto the
    # daily reduction; nothing sort-merge joins
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_gini_uses_distributed_rank(spark):
    plan = _plan(spark, "supplier_revenue_gini")
    # the rank must come from the range-partitioned distributed
    # row-number — since the r13 opt round a map-only Arrow pass over
    # the pre-sorted pinned frame (no window node, no pid re-exchange),
    # never an empty-partition global window
    assert "MapInArrow" in plan
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan  # r14: shared pid


def test_reconciliation_single_pass_reduction(spark):
    plan = _plan(spark, "dq_reconciliation_orders")
    # detail rolls up BEFORE the header join; no sort-merge join of the
    # raw lineitem scan against orders
    assert "SortMergeJoin" not in plan


def test_url_components_map_only(spark):
    plan = _plan(spark, "scalar_url_components")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_mixture_weights_broadcast_total(spark):
    plan = _plan(spark, "corpus_mixture_weights")
    # the 1-row corpus total broadcasts back; per-source stats are one
    # hash-agg
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_novelty_single_shingle_shuffle(spark):
    plan = _plan(spark, "text_shingle_novelty")
    # first-occurrence is a min-combine keyed on the shingle; the join
    # back rides the same key — no cartesian, no nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mann_whitney_uses_distributed_prefix_sum(spark):
    plan = _plan(spark, "stats_mann_whitney_status")
    # the rank prefix sum must ride the distributed global_running_sum —
    # since the r13 opt round a map-only Arrow pass over the pre-sorted
    # pinned frame (no window node, no pid re-exchange), never an
    # empty-partition global window over the value frame
    assert "MapInArrow" in plan
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan


def test_kruskal_wallis_uses_distributed_prefix_sum(spark):
    plan = _plan(spark, "stats_kruskal_wallis_returnflag")
    assert "MapInArrow" in plan
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan


def test_ks_shared_prefix_sum_single_ranged_pass(spark):
    plan = _plan(spark, "stats_ks_two_sample")
    # both ECDFs ride ONE ranged prefix pass (the multi-column running
    # sum) — since the r13 opt round a single map-only Arrow pass over
    # the pre-sorted pinned frame; no window node, no pid re-exchange,
    # no empty-partition global window
    assert plan.count("MapInArrow") == 1
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan


def test_spearman_ranks_from_distributed_prefix_sum(spark):
    plan = _plan(spark, "stats_spearman_qty_price")
    # both variables' rank frames come from the distributed prefix sum
    # (map-only Arrow passes since the r13 opt round), never an
    # empty-partition global window
    assert "MapInArrow" in plan
    assert "windowspecdefinition" not in plan
    assert "hashpartitioning(__prefix_pid" not in plan


def test_wilson_single_pass_no_join(spark):
    plan = _plan(spark, "events_conversion_wilson")
    assert "Join" not in plan


def test_cuped_broadcast_midpoint(spark):
    plan = _plan(spark, "orders_cuped_theta")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_srm_and_ttest_single_pass(spark):
    for name in ("events_srm_check", "orders_ab_welch_ttest"):
        plan = _plan(spark, name)
        assert "Join" not in plan, name


def test_retention_matrix_broadcast_cohort_sizes(spark):
    plan = _plan(spark, "events_retention_matrix")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_stickiness_broadcast_wau(spark):
    plan = _plan(spark, "events_stickiness_weekly")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_naive_bayes_argmax_is_partial_combining_agg(spark):
    """Round-6 rewrite guards: the per-doc argmax is a min_by aggregate
    with a map-side partial (the row_number window spelling cost a full
    sort-shuffle of the |docs| x |classes| grid), and the score is an
    exact BIGINT sum of scaled log-probs — no collect_list/array_sort
    machinery anywhere in the plan."""
    plan = _plan(spark, "ml_naive_bayes_source")
    assert "Window" not in plan
    assert "partial_min_by" in plan
    assert "collect_list" not in plan
    assert "array_sort" not in plan


def test_containment_posting_lists_df_filtered_before_collect(spark):
    """The hot-shingle guard must drop df > max_df shingles with a
    count aggregate + LEFT ANTI join on the hot set BEFORE collect_list
    runs: a list that is only size()-filtered afterwards still buffers
    the hottest shingle's entire unbounded id list in one aggregation
    buffer (the executor-OOM vector the guard exists for).
    Structurally: every collect_list node sits ABOVE the LeftAnti join
    in the plan, and the tiny hot side rides a broadcast (AQE picks it;
    un-hinted so an adversarially large hot set degrades to a shuffle
    join instead of an OOM)."""
    from social_and_media_data_ingestion_spark.operators.dedup import (
        _pruned_postings,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma tail{i}") for i in range(12)],
        "doc_id bigint, text string",
    )
    sh = word_shingles(df, "doc_id", "text", 2)
    pruned = _pruned_postings(sh, 4)
    pruned.collect()  # run it: the broadcast choice is AQE's, so only
    # the FINAL adaptive plan shows it
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the adaptive plan string appends the pre-AQE "Initial Plan"
    # section below the final one — assert over the FINAL section only
    plan = plan.split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    collects = [i for i, l in enumerate(lines) if "collect_list" in l]
    antis = [i for i, l in enumerate(lines) if "LeftAnti" in l]
    assert collects and antis
    assert max(collects) < min(antis)
    # the hot side broadcasts on this (non-adversarial) corpus
    assert any("BroadcastHashJoin" in lines[i] for i in antis)


def test_containment_posting_lists_drop_null_shingles(spark):
    """A NULL shingle key never matches the anti-joined hot set, so
    without an explicit filter it would bypass the df > max_df guard
    entirely and buffer unbounded (r7 ADVICE). _pruned_postings must
    drop NULL shingles by construction — they carry no containment
    signal for any caller."""
    from social_and_media_data_ingestion_spark.operators.dedup import (
        _pruned_postings,
    )

    sh = spark.createDataFrame(
        [(i, None) for i in range(50)] + [(1, "kept"), (2, "kept")],
        "id bigint, shingle string",
    )
    rows = _pruned_postings(sh, 4).collect()
    assert {r["shingle"] for r in rows} == {"kept"}
    assert sorted(rows[0]["ids"]) == [1, 2]


def test_shingle_helpers_accept_quoted_identifiers(spark):
    """_sql_tokens/_sql_shingles interpolate the column NAME into a SQL
    string; names needing quoting (spaces, hyphens) must parse the same
    way F.col() would (backtick-quoted, round-6 ADVICE fix)."""
    from social_and_media_data_ingestion_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, "w x y z"), (2, "w x y z")], ["id", "doc text"]
    )
    got = {
        (r["id"], r["shingle"])
        for r in word_shingles(df, "id", "doc text", 2).collect()
    }
    assert got == {
        (i, s) for i in (1, 2) for s in ("w x", "x y", "y z")
    }
    sigs = minhash_signatures(df, "id", "doc text", n=2, num_hashes=4).collect()
    assert len(sigs) == 2
    assert sigs[0]["sig"] == sigs[1]["sig"]  # identical texts, same sig


def test_containment_all_shingles_hot_yields_empty_not_error(spark):
    """Degenerate guard input: when EVERY shingle exceeds max_df (all
    docs are the same boilerplate), the pruned index is empty and the
    operator must return an empty frame — not divide by zero on empty
    size denominators or crash on an empty posting explode."""
    from social_and_media_data_ingestion_spark.operators.dedup import (
        containment_pairs,
    )

    df = spark.createDataFrame(
        [(i, "same exact boilerplate line everywhere") for i in range(10)],
        "doc_id bigint, text string",
    )
    got = containment_pairs(df, "doc_id", "text", n=3, threshold=0.1, max_df=4)
    assert got.count() == 0
