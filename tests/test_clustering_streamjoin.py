"""Tests: connected-components clustering and stream-stream interval join."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from social_and_media_data_ingestion_spark.operators.dedup import connected_components
from social_and_media_data_ingestion_spark.streaming.pipeline import (
    read_stream,
    run_to_memory,
    stream_stream_join,
)


def test_connected_components_basic(spark):
    # two components: {1,2,3} (chain) and {10,11}; 99 isolated via self-pair
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    # chain 0-1-2-...-9 needs multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(10)}


def test_connected_components_reliable_checkpoint(spark, reliable_pins):
    """With `spark.checkpoint.dir` set, CC's pins are reliable FS
    checkpoints (cluster posture) and produce the same clusters as the
    localCheckpoint default."""
    import pin_runs

    reliable, ck = reliable_pins
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] + [(10, 11)], "id_a bigint, id_b bigint"
    )
    local = connected_components(edges)
    assert reliable["cc"] == pin_runs.rows(local)
    got = {r["id"]: r["cluster_id"] for r in local.collect()}
    assert got == {**{i: 1 for i in range(1, 7)}, 10: 10, 11: 10}
    # checkpoint files actually landed on the reliable store
    assert any(ck.rglob("*"))


def test_connected_components_drops_null_endpoints(spark):
    """An edge with a NULL endpoint names no node: it is dropped at
    entry, no NULL id appears, and the clusters of the other edges are
    unchanged."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, None), (None, 10), (None, None)],
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_mixed_endpoint_types(spark):
    """A long src against a string dst (mixed endpoint types) must not
    fail analysis when the doubled edge set unions the two columns
    positionally — both sides normalize to string (r7 ADVICE). Pure
    string-string edges keep their native type; numeric-numeric still
    normalizes to long (covered by the basic tests)."""
    edges = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id_a bigint, id_b string"
    )
    rows = connected_components(edges).collect()
    assert dict(rows[0].asDict()).keys() == {"id", "cluster_id"}
    got = {r["id"]: r["cluster_id"] for r in rows}
    # {1, 2, "a"} share a cluster; {3, "b"} the other (min string label)
    assert got["1"] == got["2"] == got["a"] == "1"
    assert got["3"] == got["b"] == "3"


def test_connected_components_nonconvergence_warns(spark):
    """A component with diameter > max_iter must warn instead of silently
    returning split clusters (labels may be wrong — that's the point)."""
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    with pytest.warns(RuntimeWarning, match="without converging"):
        connected_components(edges, max_iter=2).collect()


SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.StringType()),
    ]
)


def test_stream_stream_join_within_bound(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    mk = lambda m: base + dt.timedelta(minutes=m)
    spark.createDataFrame(
        [("a", mk(0), "imp1"), ("b", mk(0), "imp2")], SCHEMA
    ).coalesce(1).write.parquet(lp)
    # click for a at +2min (inside 5min bound); for b at +30min (outside)
    spark.createDataFrame(
        [("a", mk(2), "click1"), ("b", mk(30), "click2")], SCHEMA
    ).coalesce(1).write.parquet(rp)

    joined = stream_stream_join(
        read_stream(spark, lp, SCHEMA),
        read_stream(spark, rp, SCHEMA),
        keys=["k"],
        left_ts="ts",
        right_ts="ts",
        delay="10 minutes",
        within="5 minutes",
    )
    q = run_to_memory(joined, "ssj")
    try:
        rows = spark.sql("SELECT * FROM ssj").collect()
        assert len(rows) == 1
        assert rows[0]["k"] == "a"
        assert rows[0]["right_ts"] == mk(2)
    finally:
        q.stop()
