"""Golden-fixture tests for the Reddit NDJSON extraction pipelines:
corrupt-line skipping, created_utc validation, missing-field defaults,
allowlist + keyword semantics (SURVEY §5 item 2)."""

from __future__ import annotations

import gzip
import json

import pytest

from social_and_media_data_ingestion_spark.sources.reddit import (
    extract_comments,
    extract_submissions,
)

GOOD = [
    {"title": "Spark rocks", "selftext": "", "author": "a1", "subreddit": "DataEng",
     "created_utc": 1600000000, "permalink": "/p/1", "extra_key": "ignored"},
    {"title": "nothing relevant", "selftext": "", "author": "a2",
     "subreddit": "dataeng", "created_utc": 1600000001, "permalink": "/p/2"},
    {"title": "", "selftext": "all about SPARK internals", "author": "a3",
     "subreddit": "OtherSub", "created_utc": 1600000002, "permalink": "/p/3"},
    {"title": "spark again", "selftext": "", "author": "a4", "subreddit": "dataeng",
     "created_utc": "1600000003", "permalink": "/p/4"},  # string epoch: valid
    {"title": "spark no ts", "selftext": "", "author": "a5", "subreddit": "dataeng"},
]
BAD_LINES = ["{not json", '{"title": "unterminated']


@pytest.fixture
def ndjson_file(tmp_path):
    p = tmp_path / "subs.jsonl"
    lines = [json.dumps(r) for r in GOOD] + BAD_LINES
    p.write_text("\n".join(lines), encoding="utf-8")
    return str(p)


def test_extract_submissions(spark, ndjson_file):
    matched, bad = extract_submissions(
        spark, ndjson_file, ["dataeng"], ["spark"]
    )
    rows = {r.author: r for r in matched.collect()}
    # a1: subreddit case-insensitive + title keyword; a4: string epoch ok
    assert set(rows) == {"a1", "a4"}
    # missing field -> "" default, all string-typed
    assert rows["a1"].selftext == ""
    assert rows["a1"].created_utc == "1600000000"
    # bad side: 2 corrupt JSON + 1 missing created_utc
    assert bad.count() == 3


def test_bad_rows_come_from_one_scan(spark, ndjson_file):
    """The bad side is one filter over the parsed input (corrupt JSON OR
    an unparseable created_utc), not a union that decompresses and
    parses the input twice."""
    _, bad = extract_submissions(spark, ndjson_file, ["dataeng"], ["spark"])
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan text") == 1, plan
    assert bad.columns == [
        "title", "selftext", "author", "subreddit", "created_utc",
        "permalink", "_corrupt_record",
    ]
    # corrupt lines keep their raw text; a parsed row with no
    # created_utc carries itself re-serialized as JSON
    got = sorted((r.author or "", r._corrupt_record) for r in bad.collect())
    assert got == sorted(
        [("", line) for line in BAD_LINES]
        + [("a5", json.dumps(GOOD[4], separators=(",", ":")))]
    )


def test_extract_comments(spark, tmp_path):
    recs = [
        {"body": "I love Spark", "author": "c1", "subreddit": "dataeng",
         "created_utc": 1, "id": "x1", "link_id": "t3_a", "parent_id": "t3_a"},
        {"body": "irrelevant", "author": "c2", "subreddit": "dataeng",
         "created_utc": 2, "id": "x2", "link_id": "t3_a", "parent_id": "t1_x1"},
        {"body": "spark but wrong sub", "author": "c3", "subreddit": "nope",
         "created_utc": 3, "id": "x3", "link_id": "t3_b", "parent_id": "t3_b"},
    ]
    p = tmp_path / "comm.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in recs), encoding="utf-8")
    matched, bad = extract_comments(spark, str(p), ["dataeng"], ["spark"])
    assert [r.author for r in matched.collect()] == ["c1"]
    assert bad.count() == 0


def test_compressed_input(spark, tmp_path):
    """Codec-by-extension decompression via gz."""
    p = tmp_path / "subs.jsonl.gz"
    with gzip.open(p, "wt", encoding="utf-8") as f:
        for r in GOOD[:2]:
            f.write(json.dumps(r) + "\n")
    matched, _ = extract_submissions(spark, str(p), ["dataeng"], ["spark"])
    assert matched.count() == 1


def test_zst_input(spark, tmp_path):
    """The reference's native format (SURVEY S1): zstd NDJSON, decompressed
    by extension (zstd-jni ships with Spark — no native Hadoop lib needed),
    including corrupt-line accounting through the compressed path."""
    import pyarrow as pa

    p = tmp_path / "subs.jsonl.zst"
    with pa.output_stream(str(p), compression="zstd") as f:
        for r in GOOD:
            f.write((json.dumps(r) + "\n").encode())
        for line in BAD_LINES:
            f.write((line + "\n").encode())
    matched, bad = extract_submissions(spark, str(p), ["dataeng"], ["spark"])
    assert {r.author for r in matched.collect()} == {"a1", "a4"}
    assert bad.count() == 3


def test_extract_via_landing_dir(spark, ndjson_file, tmp_path):
    """landing_dir stages the NDJSON to splittable parquet first (the
    default posture for multi-TB .zst landings, SCALE.md): matched rows
    and bad-line accounting must be identical to the direct path."""
    direct_m, direct_b = extract_submissions(
        spark, ndjson_file, ["dataeng"], ["spark"]
    )
    staged_m, staged_b = extract_submissions(
        spark, ndjson_file, ["dataeng"], ["spark"],
        landing_dir=str(tmp_path / "landing"),
    )
    key = lambda r: r.author  # noqa: E731
    assert sorted(map(key, staged_m.collect())) == sorted(
        map(key, direct_m.collect())
    )
    assert staged_b.count() == direct_b.count() == 3
    # the staged good parquet is really on disk (splittable scan source)
    import glob as g

    assert g.glob(str(tmp_path / "landing" / "good" / "*.parquet"))


def test_allowlist_as_dataframe(spark, ndjson_file):
    dim = spark.createDataFrame([("DATAENG",), (None,)], ["subr"])
    matched, _ = extract_submissions(spark, ndjson_file, dim, ["spark"])
    assert {r.author for r in matched.collect()} == {"a1", "a4"}
