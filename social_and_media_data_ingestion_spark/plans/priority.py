"""Driver-sampling head rotation (kept OUT of the query modules).

The driver checks the FIRST 50 registry entries per round; PRIORITY_HEAD
curates that head. It lives in its own module (round-6 verdict item 1)
so that rotation edits never touch plans/queries*.py — under the
content-hash staleness ledger (tools/stale_rows.py) a head edit must not
look like a code change to any query. Earlier heads live in git history.
"""

from __future__ import annotations

# Rotation policy (round-3 advice): queries whose closure changed since
# their newest green driver row lead (they need fresh driver evidence),
# then the head fills to 50 with the oldest-evidence re-proofs, in
# `tools/stale_rows.py` ledger order. Everything else follows in
# registration order and stays covered by the local gate
# (tools/verify_local.py runs every query with the identical oracle
# mechanism).
PRIORITY_HEAD = [
    # 39 stale: the one pin policy (session.pin) re-spells every
    # lineage cut, global_running_min's NaN-safe prefix, and
    # connected_components' NULL-endpoint filter; then the near-dup
    # chain's candidate-only Jaccard verify and single edge pin in
    # connected_components
    "graph_pagerank_purchases",
    "dedup_minhash_calibration",
    "dedup_minhash_lsh_pairs",
    "graph_pagerank_dangling",
    "graph_pagerank_iters12",
    "graph_triangle_suppliers",
    "events_gap_filled_daily",
    "graph_bfs_reachability",
    "graph_kcore_suppliers",
    "text_bigram_logprob",
    "text_pmi_bigrams",
    "text_tfidf_topterms",
    "dedup_shingle_containment",
    "events_chi2_type_weekday",
    "events_markov_stationary",
    "events_retention_matrix",
    "events_stickiness_weekly",
    "ml_naive_bayes_source",
    "orders_forecast_backtest",
    "agg_approx_stats",
    "ml_drift_psi",
    "orders_rfm_segmentation",
    "corpus_full_curation",
    "dedup_canonical_selection",
    "dedup_near_dup_clusters",
    "docs_quality_deciles",
    "er_entity_clusters",
    "er_resolution_pipeline",
    "events_max_concurrent",
    "lineitem_abc_pareto",
    "part_price_skyline",
    "stats_kruskal_wallis_returnflag",
    "stats_ks_two_sample",
    "stats_mann_whitney_status",
    "stats_spearman_qty_price",
    "supplier_revenue_gini",
    "text_rrf_fusion",
    "window_ntile_quartiles",
    "dedup_ngram_jaccard",
    # 8 stale: sessionize's microsecond gap compare, and the Lloyd
    # family's zero-norm centroid drop plus try_divide in the centroid
    # cosine
    "emb_cluster_purity",
    "emb_kmeans_assign",
    "emb_kmeans_update",
    "emb_lloyd_centroids",
    "sim_ivf_lloyd_topk",
    "sim_ivf_topk",
    "sim_retrieval_mrr",
    "events_sessionize",
    # 3 stale: contains_any's trie-factored rlike alternation
    "f2_keyword_substring",
    "flagship_submission_extract",
    "f2_keyword_substring_5k",
]
