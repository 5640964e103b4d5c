"""Unit + property tests for the distributed global ranking helpers
(operators.scale.global_row_number / global_ntile / global_running_sum):
they must agree EXACTLY with the unpartitioned-window spellings they
replace, across sizes that straddle partition boundaries, and be
deterministic across repeated invocations (the round-3 lesson:
repartitionByRange boundaries are not replay-stable, hence the
pin inside the helpers)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators.scale import (
    global_ntile,
    global_row_number,
    global_running_sum,
)


def _df(spark, n, seed_mult=7919):
    rows = [(i, (i * seed_mult) % 104729, float((i * 31) % 97) - 48) for i in range(n)]
    return spark.createDataFrame(rows, "id bigint, key bigint, val double")


@pytest.mark.parametrize("n", [1, 5, 33, 1000])
def test_global_row_number_matches_window(spark, n):
    df = _df(spark, n)
    got = {
        r.id: r.rn
        for r in global_row_number(df, ["key", "id"], out_col="rn").collect()
    }
    w = Window.orderBy("key", "id")
    want = {
        r.id: r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


@pytest.mark.parametrize("n,k", [(1, 4), (3, 4), (103, 4), (1000, 7)])
def test_global_ntile_matches_window(spark, n, k):
    df = _df(spark, n)
    got = {
        r.id: r.b for r in global_ntile(df, k, ["key", "id"], out_col="b").collect()
    }
    w = Window.orderBy("key", "id")
    want = {
        r.id: r.b
        for r in df.withColumn("b", F.ntile(k).over(w).cast("long")).collect()
    }
    assert got == want


def test_global_running_sum_matches_window(spark):
    df = _df(spark, 500)
    got = {
        r.id: r.rs
        for r in global_running_sum(df, ["key", "id"], "val", out_col="rs").collect()
    }
    w = Window.orderBy("key", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r.id: r.rs for r in df.withColumn("rs", F.sum("val").over(w)).collect()
    }
    assert set(got) == set(want)
    for i in got:
        assert got[i] == pytest.approx(want[i], abs=1e-9)


def test_helpers_deterministic_across_invocations(spark):
    # the union input makes upstream partitioning AQE-sensitive — exactly
    # the shape that exposed the replay-instability of range boundaries
    base = _df(spark, 400)
    df = base.unionAll(base.select("id", (F.col("key") + 1).alias("key"), "val"))
    a = sorted((r.id, r.key, r.rn) for r in global_row_number(df, ["key", "id"], out_col="rn").collect())
    b = sorted((r.id, r.key, r.rn) for r in global_row_number(df, ["key", "id"], out_col="rn").collect())
    assert a == b


def test_global_running_sums_matches_two_single_calls(spark, range_partitions):
    from pyspark.sql import Window

    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_sums,
    )
    from pyspark.sql import functions as F

    df = spark.range(0, 400).select(
        F.col("id"),
        ((F.col("id") * 7) % 13).alias("a"),
        ((F.col("id") * 11) % 17).alias("b"),
    )
    with range_partitions(8):
        got = {
            r["id"]: (r["a_cum"], r["b_cum"])
            for r in global_running_sums(df, ["id"], ["a", "b"]).collect()
        }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: (r["ac"], r["bc"])
        for r in df.withColumn("ac", F.sum("a").over(w))
        .withColumn("bc", F.sum("b").over(w))
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# r13 opt round: the prefix helpers became a map-only Arrow pass over the
# pre-sorted pinned frame (no Window, no second exchange). These tests pin
# the internals that rewrite introduced: exact integer/decimal carries
# across MANY Arrow batches, the window-compatible NULL semantics, and the
# sum result types the old window spelling produced.
# ---------------------------------------------------------------------------


def test_running_sum_exact_across_arrow_batches(spark, range_partitions):
    # tiny Arrow batches force the per-batch carry path many times per
    # partition; bigint values near 2^40 would expose any float detour
    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_sums,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "19")
    try:
        df = spark.range(0, 700).select(
            F.col("id"),
            ((F.col("id") * 7919) % 104729).alias("key"),
            ((F.col("id") % 5) * F.lit(2**40) + F.col("id")).alias("v"),
            (F.col("id") * 1000 + 1).cast("decimal(30,0)").alias("d"),
            # 30 significant digits: past Python's default Decimal context
            (F.lit(str(10**29)).cast("decimal(38,0)") + F.col("id")).alias("e"),
        )
        w = Window.orderBy("key", "id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        want = {
            r.id: (r.v_cum, r.d_cum, r.e_cum)
            for r in df.withColumn("v_cum", F.sum("v").over(w))
            .withColumn("d_cum", F.sum("d").over(w))
            .withColumn("e_cum", F.sum("e").over(w))
            .collect()
        }
        with range_partitions(8):
            out = global_running_sums(df, ["key", "id"], ["v", "d", "e"])
            got = {r.id: (r.v_cum, r.d_cum, r.e_cum) for r in out.collect()}
        assert got == want  # exact, not approx: ints and decimals
        # schema parity with the window spelling: sum(bigint) -> bigint,
        # sum(decimal(30,0)) -> decimal(38,0)
        dt = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert dt["v_cum"] == "bigint"
        assert dt["d_cum"] == "decimal(38,0)"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_running_sum_null_semantics_match_window(spark, range_partitions):
    # F.sum's frame semantics: NULL values are skipped, and the output is
    # NULL until the first non-NULL of the (partition-local) order — on a
    # single partition that is exactly the unpartitioned window's answer
    rows = [(0, None), (1, None), (2, 5), (3, None), (4, 7), (5, None)]
    df = spark.createDataFrame(rows, "id bigint, v bigint")
    w = Window.orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = [
        (r.id, r.rs)
        for r in df.withColumn("rs", F.sum("v").over(w)).orderBy("id").collect()
    ]
    with range_partitions(1):
        got = [
            (r.id, r.rs)
            for r in global_running_sum(df, ["id"], "v", out_col="rs")
            .orderBy("id")
            .collect()
        ]
    assert got == want


def test_row_number_carries_across_arrow_batches(spark, range_partitions):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "23")
    try:
        df = _df(spark, 997)
        with range_partitions(8):
            got = {
                r.id: r.rn
                for r in global_row_number(
                    df, ["key", "id"], out_col="rn"
                ).collect()
            }
        w = Window.orderBy("key", "id")
        want = {
            r.id: r.rn
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.mark.parametrize("parts", [1, 4, 8])
def test_running_sum_is_one_window_at_any_partition_count(
    spark, range_partitions, parts
):
    """The running sum equals `sum(v) OVER (ORDER BY id ROWS UNBOUNDED
    PRECEDING)` whatever the range partition count: a row whose own
    partition has seen only NULLs carries the earlier partitions'
    non-NULL mass, and leading NULLs stay NULL."""
    # ids 0..9 NULL, 10..99 one each, 100..169 NULL, 170..199 their id:
    # with 4 or 8 range partitions on id, some partitions are all NULL
    # or start with NULLs after non-NULL mass
    rows = [
        (i, None if i < 10 or 100 <= i < 170 else (1 if i < 100 else i))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id bigint, v bigint")
    w = Window.orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {r.id: r.rs for r in df.withColumn("rs", F.sum("v").over(w)).collect()}
    with range_partitions(parts):
        got = {
            r.id: r.rs
            for r in global_running_sum(df, ["id"], "v", out_col="rs").collect()
        }
    assert got == want
    assert got[9] is None and got[100] == got[169] == 90


def test_running_min_matches_window_with_nulls_multi_batch(spark, range_partitions):
    """r14: global_running_min's map-only Arrow pass must reproduce the
    window spelling exactly — NULL skipping, inclusive AND exclusive
    frames, carries across forced-small Arrow batches."""
    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_min,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "19")
    try:
        rows = [
            (i, None if i % 7 in (0, 3) else (i * 37) % 101)
            for i in range(500)
        ]
        df = spark.createDataFrame(rows, "id bigint, v bigint")
        for excl, end in ((False, 0), (True, -1)):
            w = Window.orderBy("id").rowsBetween(
                Window.unboundedPreceding, end
            )
            want = {
                r.id: r.m
                for r in df.withColumn("m", F.min("v").over(w)).collect()
            }
            with range_partitions(8):
                got = {
                    r.id: r.m
                    for r in global_running_min(
                        df, ["id"], "v", out_col="m", exclusive=excl
                    ).collect()
                }
            assert got == want, f"exclusive={excl}"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_running_min_nan_doubles_match_window(spark, range_partitions):
    """NaN sorts above every non-NaN in Spark's min/least; the Arrow
    pass must reproduce that (plain Python `<` would freeze the running
    value once a NaN leads)."""
    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_min,
    )

    rows = [
        (
            i,
            None
            if i % 11 == 5
            else (
                float("nan")
                if i % 13 == 7
                else float((i * 37) % 101) - 50.0
            ),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id bigint, v double")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.m for r in df.withColumn("m", F.min("v").over(w)).collect()
    }
    with range_partitions(8):
        got = {
            r.id: r.m
            for r in global_running_min(df, ["id"], "v", out_col="m").collect()
        }
    assert set(got) == set(want)
    for k in want:
        g, x = got[k], want[k]
        assert g == x or (g != g and x != x), (k, g, x)


def test_running_min_decimal_and_string_types(spark, range_partitions):
    """The Arrow pass keeps value_col's own type and ordering for
    non-numeric orderable types (Decimal exactness; str UTF-8 order)."""
    from decimal import Decimal

    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_min,
    )

    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    dfc = spark.createDataFrame(
        [(i, Decimal((i * 37) % 101) / Decimal(4)) for i in range(300)],
        "id bigint, v decimal(12,2)",
    )
    with range_partitions(8):
        got = global_running_min(dfc, ["id"], "v", out_col="m")
        assert dict(got.dtypes)["m"] == "decimal(12,2)"
        assert {r.id: r.m for r in got.collect()} == {
            r.id: r.m for r in dfc.withColumn("m", F.min("v").over(w)).collect()
        }
    dfs = spark.createDataFrame(
        [(i, f"s{(i * 53) % 97:03d}") for i in range(300)],
        "id bigint, v string",
    )
    with range_partitions(8):
        assert {
            r.id: r.m
            for r in global_running_min(dfs, ["id"], "v", out_col="m").collect()
        } == {r.id: r.m for r in dfs.withColumn("m", F.min("v").over(w)).collect()}


def test_running_min_leading_all_nan_partition(spark, range_partitions):
    """A leading range partition holding only NaN must not freeze the
    cross-partition prefix: NaN sorts above every number, so the next
    partition's minimum replaces it (a plain `m < acc` never does, and
    every later partition then loses its predecessors' minimum)."""
    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_min,
    )

    rows = [(i, float("nan")) for i in range(100)] + [
        (i, float(i)) for i in range(100, 200)
    ]
    df = spark.createDataFrame(rows, "id bigint, v double")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.m for r in df.withColumn("m", F.min("v").over(w)).collect()
    }
    with range_partitions(4):
        got = {
            r.id: r.m
            for r in global_running_min(df, ["id"], "v", out_col="m").collect()
        }
    assert set(got) == set(want)
    for k in want:
        g, x = got[k], want[k]
        assert g == x or (g != g and x != x), (k, g, x)
    assert got[199] == 100.0


def test_running_min_exclusive_bigint_vectorized_batches(spark, range_partitions):
    """Null-free bigint with small Arrow batches: every batch after a
    partition's first takes the vectorized exclusive branch (shifted
    numpy prefix min carried across batches)."""
    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_min,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "13")
    try:
        df = spark.createDataFrame(
            [(i, (i * 37) % 101 - 50) for i in range(400)],
            "id bigint, v bigint",
        )
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
        want = {
            r.id: r.m
            for r in df.withColumn("m", F.min("v").over(w)).collect()
        }
        with range_partitions(4):
            got = {
                r.id: r.m
                for r in global_running_min(
                    df, ["id"], "v", out_col="m", exclusive=True
                ).collect()
            }
        assert got == want
        assert got[0] is None
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
