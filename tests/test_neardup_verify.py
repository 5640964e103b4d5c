"""Near-dup chain computes each thing once.

`ngram_jaccard_pairs(candidates=...)` verifies the candidate pairs only,
with the same answer as the inverted-index path semi-joined to the same
candidates; `connected_components` runs its caller's edge lineage once,
logs its rounds and handles empty, self-loop-only and too-long inputs;
and `pipelines.near_dedup` stays within its build- and collect-job
budgets.
"""

from __future__ import annotations

import logging
import warnings

import pytest
from pyspark.sql import functions as F

import pin_runs
from social_and_media_data_ingestion_spark.operators.dedup import (
    connected_components,
    ngram_jaccard_pairs,
)
from social_and_media_data_ingestion_spark.pipelines import near_dedup

_DOCS = [
    (1, "the quick brown fox jumps over"),
    # a second row of doc 1: its shingle set is the union of both rows
    (1, "a lazy dog sleeps in the sun"),
    (2, "the quick brown fox jumps over the fence"),
    (3, "a lazy dog sleeps in the sun today"),
    (4, "zero overlap across these tokens"),
    (5, None),
    (6, "too short"),
    (7, "the quick brown fox jumps over"),
    (8, "the quick brown cat naps"),
]

_CANDIDATES = [
    (1, 2),
    (2, 1),  # reversed twin of (1, 2)
    (1, 2),  # repeated
    (1, 3),  # overlaps only through doc 1's second row
    (1, 4),  # no shared shingle: absent even at threshold 0.0
    (4, 5),  # NULL text
    (5, 6),
    (1, 6),  # too short to shingle at n=3
    (8, 2),  # reversed only: not a pair of either path
    (1, 7),
    (7, 8),
    (2, 9),  # no such document
]


def _frames(spark, ids: str):
    key = (lambda i: f"d{i}") if ids == "string" else (lambda i: i)
    kind = "string" if ids == "string" else "bigint"
    docs = spark.createDataFrame(
        [(key(i), t) for i, t in _DOCS], f"doc_id {kind}, text string"
    )
    cands = spark.createDataFrame(
        [(key(a), key(b)) for a, b in _CANDIDATES], f"id_a {kind}, id_b {kind}"
    )
    return docs, cands, key


@pytest.mark.parametrize("ids", ["bigint", "string"])
@pytest.mark.parametrize("n", [1, 3])
@pytest.mark.parametrize("threshold", [0.0, 0.5])
def test_candidate_verify_matches_index_path(spark, ids, n, threshold):
    docs, cands, key = _frames(spark, ids)
    got = pin_runs.rows(
        ngram_jaccard_pairs(
            docs, "doc_id", "text", n=n, threshold=threshold, candidates=cands
        )
    )
    want = pin_runs.rows(
        ngram_jaccard_pairs(docs, "doc_id", "text", n=n, threshold=threshold).join(
            cands, ["id_a", "id_b"], "left_semi"
        )
    )
    assert got == want
    pairs = [(a, b) for a, b, _ in got]
    assert len(pairs) == len(set(pairs))
    assert (key(1), key(4)) not in pairs
    assert (key(8), key(2)) not in pairs
    if threshold == 0.0:
        assert {(key(1), key(2)), (key(1), key(3)), (key(1), key(7))} <= set(pairs)


def test_connected_components_runs_edge_lineage_once(spark):
    """Each input edge row is computed once, not once per direction of
    the doubled edge set."""
    tally, calls = pin_runs.tally_udf(spark, "bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "id_a bigint, id_b bigint"
    ).withColumn("id_b", tally("id_b"))
    got = pin_runs.rows(connected_components(edges))
    assert got == [[1, 1], [2, 1], [3, 1], [4, 1], [10, 10], [11, 10], [12, 10]]
    assert calls.value == 5


# Jobs of `near_dedup` on the fixture below, the same on 2, 4 and 32 cores.
# Build (connected components runs at build time, behind eager pins):
# 14. A separate label-init pin, a join in the first round and a
# convergence job per round took 20; verifying candidates through the
# whole inverted shingle index and running the edge lineage once per
# direction of the doubled edge set took 24-25. Collect: 7; a groupBy
# of the canonical ids anti-joined to the members took 10.
_NEAR_DEDUP_BUILD_JOBS = 14
_NEAR_DEDUP_COLLECT_JOBS = 7


def test_near_dedup_build_job_budget(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    words = base.split()
    rows = []
    for g in range(4):
        for k in range(3):
            text = " ".join(f"{w}{g}" for w in words[: 9 + k])
            rows.append((10 * g + k, text, len(text)))
    rows.append((99, "unrelated words sit alone here", 30))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, n_chars int")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    try:
        sc.setJobGroup("near-dedup-build-budget", "near_dedup build")
        out = near_dedup(docs, threshold=0.75)
        jobs["build"] = len(tracker.getJobIdsForGroup("near-dedup-build-budget"))
        sc.setJobGroup("near-dedup-collect-budget", "near_dedup collect")
        got = sorted(r.doc_id for r in out.collect())
        jobs["collect"] = len(tracker.getJobIdsForGroup("near-dedup-collect-budget"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [2, 12, 22, 32, 99]
    assert 0 < jobs["build"] <= _NEAR_DEDUP_BUILD_JOBS, jobs
    assert 0 < jobs["collect"] <= _NEAR_DEDUP_COLLECT_JOBS, jobs


def _cc(spark, edges, kind="bigint", max_iter=30):
    df = pin_runs.frame(spark, edges, f"id_a {kind}, id_b {kind}")
    return connected_components(df, max_iter=max_iter)


def _cc_log(caplog) -> list[str]:
    return [
        r.getMessage()
        for r in caplog.records
        if r.name.endswith("operators.dedup") and r.levelno == logging.INFO
    ]


def test_connected_components_logs_rounds(spark, caplog):
    """A 5-node chain takes 5 rounds; the moved count of each round is
    logged (the last round moves nothing: the convergence test)."""
    caplog.set_level(logging.INFO, logger="social_and_media_data_ingestion_spark")
    got = pin_runs.rows(_cc(spark, [(i, i + 1) for i in range(1, 5)]))
    assert got == [[i, 1] for i in range(1, 6)]
    assert _cc_log(caplog) == [
        "connected_components: 5 round(s), converged=True, "
        "labels moved per round: [4, 3, 2, 1, 0]"
    ]


def test_connected_components_empty_edges(spark, caplog):
    caplog.set_level(logging.INFO, logger="social_and_media_data_ingestion_spark")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = connected_components(
            spark.range(0).select(F.col("id").alias("id_a"), F.col("id").alias("id_b"))
        )
        assert out.collect() == []
    assert out.schema.simpleString() == "struct<id:bigint,cluster_id:bigint>"
    assert _cc_log(caplog) == [
        "connected_components: 1 round(s), converged=True, "
        "labels moved per round: [0]"
    ]


def test_connected_components_self_loops_converge_in_round_one(spark, caplog):
    """Self-loops only: the join-free first round moves no label, so no
    join round runs."""
    caplog.set_level(logging.INFO, logger="social_and_media_data_ingestion_spark")
    got = pin_runs.rows(_cc(spark, [("b", "b"), ("a", "a"), ("b", "b")], "string"))
    assert got == [["a", "a"], ["b", "b"]]
    assert _cc_log(caplog) == [
        "connected_components: 1 round(s), converged=True, "
        "labels moved per round: [0]"
    ]


@pytest.mark.parametrize(
    "max_iter, want",
    [
        (0, [1, 2, 3, 4, 5, 6]),
        (1, [1, 1, 2, 3, 4, 5]),
        (2, [1, 1, 1, 2, 3, 4]),
        (5, [1, 1, 1, 1, 1, 1]),
    ],
)
def test_connected_components_path_longer_than_max_iter(spark, max_iter, want):
    """A 6-node path needs 5 rounds to settle and a 6th to see it: with
    fewer, the labels after max_iter rounds come back with the
    non-convergence warning."""
    edges = [(i, i + 1) for i in range(1, 6)]
    with pytest.warns(RuntimeWarning, match=f"max_iter={max_iter} without"):
        got = pin_runs.rows(_cc(spark, edges, max_iter=max_iter))
    assert got == [[i, w] for i, w in enumerate(want, start=1)]
