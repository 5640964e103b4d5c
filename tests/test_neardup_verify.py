"""Near-dup chain computes each thing once.

`ngram_jaccard_pairs(candidates=...)` verifies the candidate pairs only,
with the same answer as the inverted-index path semi-joined to the same
candidates; `connected_components` runs its caller's edge lineage once;
and `pipelines.near_dedup` stays within a build-job budget.
"""

from __future__ import annotations

import pytest

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


# Build jobs of `near_dedup` on the fixture below (connected components
# runs at build time, behind eager pins): 20, the same on 2 and 4 cores.
# Verifying candidates through the whole inverted shingle index and
# running the edge lineage once per direction of the doubled edge set
# took 24-25.
_NEAR_DEDUP_BUILD_JOBS = 20


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
    group = "near-dedup-build-budget"
    sc.setJobGroup(group, "near_dedup build")
    try:
        out = near_dedup(docs, threshold=0.75)
        jobs = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(r.doc_id for r in out.collect()) == [2, 12, 22, 32, 99]
    assert 0 < jobs <= _NEAR_DEDUP_BUILD_JOBS, jobs
