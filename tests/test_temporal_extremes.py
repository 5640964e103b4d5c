"""Temporal-extremes harness (round 11) — the next adversarial probe
in the r7-r11 lineage (nulls → empty/one-row → dup-PK → hostile
docs/names → non-finite → skew → TIME): every events-only and
orders-only registry query runs against tables whose timestamps sit on
the calendar's trap doors — the epoch itself, pre-epoch dates, the
far future, ISO-week-53 year boundaries (2021-01-01 belongs to ISO
week 53 OF 2020), a leap day, the last/first seconds of a year,
sub-second precision, and heavy EXACT-tie clusters — Spark vs its
DuckDB oracle, value-compared. Date bucketing, week numbering,
sessionization gaps, watermark-style dedup ordering, and interval
arithmetic all have engine-specific conventions; a query that leans on
one un-pinned convention diverges here first.

Extremes stay inside pandas' ns-timestamp range (1678-2261): the sweep
compares through toPandas(), and a year-9999 value would overflow the
COMPARISON, reporting a harness artifact as a query defect.

Ties are the sharpest probe: several window queries order by ts alone
within a partition; with exact duplicates a bare row_number would be
nondeterministic ACROSS ENGINES. The fixture plants 8-way exact-tie
clusters so any such query must either break ties deterministically
(the repo convention: a unique id as the final sort key) or aggregate
tie-insensitively — both verified by the value compare.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from social_and_media_data_ingestion_spark.plans.queries import registry

# Whole-registry sweep: minutes per test, deselected by default (see
# pytest.ini). Run with -m "slow or not slow" after any closure edit
# and before round close.
pytestmark = pytest.mark.slow

from test_skew_stress import _single_table_queries, _sweep


@pytest.fixture(scope="module")
def extreme_events_dir(spark, tmp_path_factory):
    """220 events across the calendar's trap doors, with 8-way exact-tie
    clusters and microsecond-precision stragglers."""
    tmp = tmp_path_factory.mktemp("timeevents")
    anchors = [
        dt.datetime(1970, 1, 1, 0, 0, 0),           # the epoch itself
        dt.datetime(1901, 7, 16, 23, 59, 59),       # pre-epoch
        dt.datetime(2261, 12, 31, 23, 59, 59),      # far future (ns-safe)
        dt.datetime(2020, 12, 31, 23, 59, 59),      # ISO week 53 of 2020
        dt.datetime(2021, 1, 1, 0, 0, 0),           # …and its year boundary
        dt.datetime(2024, 2, 29, 12, 0, 0),         # leap day
        dt.datetime(2023, 12, 31, 23, 59, 59),      # last second of a year
        dt.datetime(2024, 1, 1, 0, 0, 0),           # first second of the next
        dt.datetime(2024, 3, 10, 2, 30, 0),         # inside a US DST gap
        dt.datetime(1999, 12, 31, 23, 59, 59, 999999),  # µs straggler
        dt.datetime(2000, 2, 29, 0, 0, 0),          # century leap day
    ]
    rows = []
    eid = 0
    for a_i, anchor in enumerate(anchors):
        for k in range(20):
            if k < 8:
                ts = anchor  # 8-way EXACT tie on every anchor
            else:
                ts = anchor + dt.timedelta(
                    seconds=k * 37, microseconds=(k * 123456) % 1000000
                )
            rows.append(
                (
                    eid,
                    ts,
                    (eid % 7) + 1,
                    ["view", "click", "purchase"][eid % 3],
                    float(eid % 53),
                    '{"k": 1}',
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    return str(tmp)


@pytest.fixture(scope="module")
def extreme_orders_dir(spark, tmp_path_factory):
    """180 orders whose o_orderdate hits the same trap doors (the
    column is a midnight-normalized timestamp in the lake), with tie
    clusters per date. Totals are INTEGER-valued doubles on purpose:
    the probe is temporal, and unrepresentable cent values would
    manufacture summation-order float knife-edges (avg*100 landing
    within 1 ulp of .5) that exact cross-engine compare then reports
    as a temporal defect — a harness artifact, found and removed in
    the first run of this file."""
    tmp = tmp_path_factory.mktemp("timeorders")
    dates = [
        dt.datetime(1970, 1, 1),
        dt.datetime(1901, 7, 16),
        dt.datetime(2261, 12, 30),
        dt.datetime(2020, 12, 31),
        dt.datetime(2021, 1, 1),
        dt.datetime(2024, 2, 29),
        dt.datetime(2023, 12, 31),
        dt.datetime(2024, 1, 1),
        dt.datetime(2000, 2, 29),
    ]
    rows = []
    for i in range(180):
        rows.append(
            (
                i,
                (i % 31) + 1,
                ["O", "F", "P"][i % 3],
                float(100 + (i * 777) % 9000),
                dates[i % len(dates)],
                f"{(i % 5) + 1}-X",
            )
        )
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    return str(tmp)


def test_every_events_query_agrees_on_extreme_timestamps(
    spark, extreme_events_dir
):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{extreme_events_dir}/events.parquet/*.parquet')"
    )
    reg = registry()
    names = _single_table_queries(
        "events", skip={"agg_quantile_sketch_audit"}
    )
    assert len(names) >= 40
    bad = _sweep(spark, reg, names, extreme_events_dir, con)
    assert not bad, "\n".join(bad)


def test_every_orders_query_agrees_on_extreme_dates(
    spark, extreme_orders_dir
):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{extreme_orders_dir}/orders.parquet/*.parquet')"
    )
    reg = registry()
    names = _single_table_queries("orders")
    assert len(names) >= 10
    bad = _sweep(spark, reg, names, extreme_orders_dir, con)
    assert not bad, "\n".join(bad)


def test_iso_week_bucketing_pinned_at_year_boundary(spark, extreme_events_dir):
    """Direct probe of the sharpest trap: 2021-01-01 is ISO week 53 OF
    2020 and 2024-01-01 is ISO week 1 of 2024 (not week 52/53 of 2023).
    Any query bucketing by week must place boundary days exactly where
    the ISO calendar does — cross-checked against Python's own
    isocalendar, independent of both engines."""
    from pyspark.sql import functions as F

    from social_and_media_data_ingestion_spark.plans.tables import t

    e = t(spark, extreme_events_dir, "events")
    got = {
        (r.d, r.wy, r.wk)
        for r in e.select(
            F.to_date("ts").alias("d"),
            F.expr("extract(yearofweek from ts)").cast("int").alias("wy"),
            F.weekofyear("ts").alias("wk"),
        )
        .distinct()
        .collect()
    }
    for d, wy, wk in got:
        iso = d.isocalendar()
        assert (iso[0], iso[1]) == (wy, wk), (d, wy, wk, iso)


def test_sessionize_across_year_boundary(spark, extreme_events_dir):
    """events_sessionize must NOT cut a session at a calendar boundary:
    the fixture's year-boundary anchor pairs are 1 s apart, so their
    clusters merge into one session per user, while the isolated
    anchors (decades apart) each start a new one. The expectation is
    computed INDEPENDENTLY in Python from the fixture rows (sort per
    user on microsecond timestamps, count gaps > 1800 s) and compared
    against the shipped registry query's n_sessions — a third engine
    breaking any tie between Spark and DuckDB."""
    import datetime as dt

    from social_and_media_data_ingestion_spark.plans.tables import t

    reg = registry()
    got = {
        r.user_id: r.n_sessions
        for r in reg["events_sessionize"]
        .spark(spark, extreme_events_dir)
        .collect()
    }
    rows = t(spark, extreme_events_dir, "events").select(
        "user_id", "ts"
    ).collect()
    per_user: dict[int, list[int]] = {}
    epoch = dt.datetime(1970, 1, 1)
    for r in rows:
        micros = (r.ts - epoch) // dt.timedelta(microseconds=1)
        per_user.setdefault(r.user_id, []).append(micros)
    for uid, ts_list in per_user.items():
        ts_list.sort()
        want = 1 + sum(
            1 for a, b in zip(ts_list, ts_list[1:]) if b - a > 1_800_000_000
        )
        assert got[uid] == want, (uid, got[uid], want)
