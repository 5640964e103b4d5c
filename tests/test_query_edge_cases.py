"""Small fixtures on two cross-engine edges, each registry query checked
against its own DuckDB oracle SQL: a session gap a fraction of a second
over 30 minutes, and a Lloyd cluster of denormal vectors whose mean
rounds to an all-zero centroid."""

from __future__ import annotations

import datetime as dt

import duckdb

from social_and_media_data_ingestion_spark.plans.queries import registry
from test_skew_stress import _sweep


def _oracle_con(sf_dir: str, table: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{sf_dir}/{table}.parquet/*.parquet')"
    )
    return con


def test_sessionize_splits_a_subsecond_gap_over_30_minutes(spark, tmp_path):
    # 00:00:00.600 -> 00:30:00.900 is 1800.3 s: a new session, although
    # both timestamps floor to whole seconds exactly 1800 s apart
    t0 = dt.datetime(2024, 5, 1, 0, 0, 0, 600000)
    rows = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(seconds=1800, microseconds=300000), 7, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    q = registry()["events_sessionize"]
    want = _oracle_con(str(tmp_path), "events").execute(q.oracle).fetchall()
    got = [tuple(r) for r in q.spark(spark, str(tmp_path)).collect()]
    assert want == [(7, 2, 2)]
    assert got == want


def test_lloyd_drops_the_all_zero_centroid_of_a_denormal_cluster(
    spark, tmp_path
):
    # ids 0-2 are float32-denormal vectors along axis 0: seeds 0-2 pull
    # all three into one cluster whose mean rounds to zeros at 6 dp, and
    # cosine to that centroid would divide by a zero norm
    rows = [(i, [1e-40 * (i + 1), 0.0, 0.0, 0.0]) for i in range(3)]
    for i in range(3, 24):
        axis = 1 + i % 3
        vec = [0.0, 1.0 + (i % 5) / 10, 1.0 + (i % 7) / 10, 1.0]
        vec[axis] += 10.0
        rows.append((i, vec))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    names = ["emb_lloyd_centroids", "sim_ivf_lloyd_topk", "sim_ivf_lloyd_recall"]
    con = _oracle_con(str(tmp_path), "embeddings")
    assert _sweep(spark, registry(), names, str(tmp_path), con) == []
