"""Benchmark harness: times the HEADLINE registry queries at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata) on `get_spark`'s
local session (one core per usable CPU, or $SPARK_GRAFT_CPUS).

    python bench.py
    SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 python bench.py

Every query is materialized through the noop sink, which computes every
output column (a count() lets Catalyst prune the projections a row
count does not need). One global warm-up pass runs first: JVM codegen,
parquet footers, broadcast paths. Then each query gets one untimed
priming run, which respawns Python workers reaped while the JVM-only
queries ran, and 3 timed runs; it reports the best.

All run times go to BENCH_FULL.json next to this script and to stderr.
The LAST stdout line is one compact JSON object with the keys metric,
value (the sum of the per-query bests), unit, queries (name -> best),
sf and cpus; it stays compact because a harness may capture only a
bounded tail of stdout.

These are wall-clock times and move with the machine's load. The
regression signal is perfbench/: per-layer event-log counters and
paired runs (perfbench/METRICS.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from social_and_media_data_ingestion_spark import get_spark
from social_and_media_data_ingestion_spark.plans.queries import registry

HEADLINE = [
    "flagship_submission_extract",
    "agg_pricing_summary",
    "j2_fk_join_agg",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_orders",
    "window_topk_orders",
    "dedup_fingerprint",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh_pairs",
    "sim_cosine_topk",
    "events_windowed_agg",
    "events_sessionize",
    # complex relational shapes (round 1 widening)
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "events_weekly_retention",
    # training-data pipeline ops
    "pii_redact_documents",
    "text_chunk_documents",
    "doc_pack_contexts",
    "corpus_curate_pipeline",
    "text_tfidf_topterms",
    "emb_kmeans_assign",
    "corpus_decontaminate",
    "emb_quantize_int8",
    "events_time_bucket_rollup",
    # distributed-rank scale helpers (round 4): global_ntile /
    # global_running_sum pay 2 jobs + localCheckpoint — benched so a
    # regression in that machinery shows up in the artifact
    "window_ntile_quartiles",
    "orders_rfm_segmentation",
    "docs_quality_deciles",
    "events_max_concurrent",
    # Aho-Corasick large-keyword path (round 4): 5000 patterns per doc
    "f2_keyword_substring_5k",
    # temporal joins (round 4): as-of via union+window (one shuffle),
    # band join via bucket equi-join — benched so a theta-join fallback
    # would show up as a cliff, not just a failed plan guard
    "j9_asof_view_purchase",
    "events_coactivity_histogram",
    # round-4 second batch: lake ops, wedge analytics, decayed features
    "scd2_user_state_history",
    "lake_merge_upsert",
    "graph_triangle_suppliers",
    "events_decayed_activity",
    # round-4 continuation: retrieval scoring (map-only BM25), the DQ
    # gatekeeper (union of independent scans), Bloom runtime-filter
    # audit (broadcast-only probes), ABC on the distributed prefix sum
    "text_bm25_scores",
    "dq_constraint_report",
    "join_bloom_filter_audit",
    "lineitem_abc_pareto",
    # round-4 third batch: count-based model training (broadcast-model
    # scoring join), inverted-index containment, the distributed
    # prefix-min skyline, and sequence mining — benched so the new
    # operator classes have a throughput artifact, not just plan guards
    "ml_naive_bayes_source",
    "dedup_shingle_containment",
    "part_price_skyline",
    "events_trigram_paths",
    # round-4 closing batch: distributed-rank statistics (Gini,
    # Mann-Whitney), the integer-exact forecast backtest, and the
    # min-combine novelty score — benched so the prefix-sum/rank
    # machinery these share is regression-visible in the artifact
    "supplier_revenue_gini",
    "stats_mann_whitney_status",
    "orders_forecast_backtest",
    "text_shingle_novelty",
    # round-7 growth: phonetic-blocked ER (equi-join on the consonant-
    # class key), transitive entity clustering (CC over the pair
    # graph), magic-byte format sniffing (native binary-prefix probe) —
    # benched so the new families carry throughput artifacts
    "er_phonetic_blocked_pairs",
    "er_entity_clusters",
    "multimodal_format_sniff",
    # round-8 growth: multi-pass union blocking as one composite-key
    # equi-join — benched so the multi-pass candidate machinery carries
    # a throughput artifact alongside its plan guard
    "er_union_blocked_linkage",
    # round-9 growth: the end-to-end ER pipeline (union blocking -> CC
    # -> entity report) — benched because it composes the two heaviest
    # ER stages and a pin regression would double the blocking join
    "er_resolution_pipeline",
    # round-10 growth: the two spec-faithful TPC-H shapes (q4's inferred scan-prune bound,
    # q14's quantize-then-sum) and the native-binary image paths (pure
    # JVM header-dim sniff incl. the bounded JPEG marker walk; stdlib
    # BMP/PPM pixel decode through the mapInPandas stats UDF)
    "q4_priority_followup",
    "q14_promo_revenue",
    "multimodal_image_dim_sniff",
    "multimodal_image_pixel_stats",
    # round-11 growth: the stdlib-zlib PNG pixel decode (stored-block
    # IDAT inflate + Up/Sub defilter through the mapInPandas stats UDF)
    # and the pure-Python-LZW GIF pixel decode (sub-block reassembly +
    # palette lookup through the same UDF)
    "multimodal_png_pixel_stats",
    "multimodal_gif_pixel_stats",
    # round-12 growth: the stdlib baseline-JPEG pixel decode (Huffman
    # entropy decode + dequant + sparse IDCT + YCbCr->RGB through the
    # mapInPandas stats UDF)
    "multimodal_jpeg_pixel_stats",
]


def _materialize(df) -> None:
    """Run every output column of `df` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark(app_name="bench")
    sc = spark.sparkContext
    reg = registry()

    for name in HEADLINE:
        _materialize(reg[name].spark(spark, sf_dir))

    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        sc.setJobDescription(f"bench:{name}")
        _materialize(reg[name].spark(spark, sf_dir))
        rs = []
        for _ in range(3):
            t0 = time.perf_counter()
            _materialize(reg[name].spark(spark, sf_dir))
            rs.append(round(time.perf_counter() - t0, 3))
        runs[name] = rs
        print(f"# {name}: best {min(rs)}s (runs: {rs})", file=sys.stderr)
    sc.setJobDescription(None)

    best = {name: min(rs) for name, rs in runs.items()}
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "queries": best,
        "sf": sf_val,
        # the session's actual parallelism (local[N] -> N)
        "cpus": sc.defaultParallelism,
    }
    full = {**summary, "runs": runs}
    with open(os.path.join(_HERE, "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps(full), file=sys.stderr)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
