"""Registry extension — wider SQL/analytics surface on the same tables.

Same conventions as queries.py (identical aliases both sides, rounded
doubles, BIGINT counts, deterministic tie-breaks). Registered into the
same REGISTRY via the shared @q decorator; imported at the bottom of
queries.py so registry() sees everything.

Coverage added here (SURVEY §2.4-2.7 extension layer + training-data ops):
TPC-H-shaped Q4/Q6/Q10/Q14/Q18, grouping sets, exact percentiles,
correlation/covariance stats, ordered list-agg, running/lag/ntile/
dense-rank windows, token explode top-k, word-shingle stats, levenshtein,
full-outer and cross joins, hopping (sliding) event windows, and the
video frame-sample UDTF with a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators import multimodal as MM
from social_and_media_data_ingestion_spark.operators import scale as SC
from social_and_media_data_ingestion_spark.plans.queries import (
    _TOKS,
    _lang_hits_sql,
    q,
)
from social_and_media_data_ingestion_spark.plans.tables import (
    t,
    vectors,
)
from social_and_media_data_ingestion_spark.session import pin


# =============================================================================
# TPC-H Q6 shape — forecast revenue change: tight scan-side predicate band,
# single global aggregate. The whole plan is a map + partial/final agg;
# at 100 TB the filters push into the parquet scan (PushedFilters).
# =============================================================================
@q(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*)::BIGINT AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


# =============================================================================
# TPC-H Q4 shape — EXISTS correlated subquery -> left-semi join with a
# non-equi conjunct (l_shipdate > o_orderdate), then count per priority.
# =============================================================================
@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# =============================================================================
# TPC-H Q10 shape — returned-item revenue: 3-way join, agg, top-20 with a
# deterministic tie-break. Rank on the ROUNDED revenue so fp summation
# order can't flip ranks between engines.
# =============================================================================
@q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name, revenue, rk FROM (
      SELECT c_custkey, c_name, n_name, revenue,
             row_number() OVER (ORDER BY revenue DESC, c_custkey ASC)::BIGINT AS rk
      FROM (
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
      )
    ) WHERE rk <= 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )
    # distributed top-k (TakeOrderedAndProject) instead of a global
    # row_number window, which would funnel every group through ONE
    # partition at scale; the rank window then runs on just 20 rows.
    top = rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return top.withColumn("rk", F.row_number().over(w).cast("long")).select(
        "c_custkey", "c_name", "n_name", "revenue", "rk"
    )


# =============================================================================
# TPC-H Q14 shape — promo revenue share: conditional aggregation over a
# broadcast-able dimension join (part is the small side at any SF).
# =============================================================================
@q(
    "q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 3) AS promo_share,
           count(*)::BIGINT AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-03-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-03-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
                / F.sum(disc),
                3,
            ).alias("promo_share"),
            F.count("*").alias("n_lines"),
        )
    )


# =============================================================================
# TPC-H Q18 shape — large-volume orders: HAVING over a grouped sum, then
# re-join the qualifying keys (a groupBy-semi pattern).
# =============================================================================
@q(
    "q18_large_volume_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM orders JOIN (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    ) big ON o_orderkey = big.l_orderkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return orders.join(big, orders.o_orderkey == big.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.round("total_qty", 2).alias("total_qty"),
    )


# =============================================================================
# GROUPING SETS — the third member of the rollup/cube family
# (Dataset.groupingSets, Spark 4.0+).
# =============================================================================
@q(
    "agg_grouping_sets",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           -- quantize-then-sum integer cents (r13 fuzz): the raw
           -- round(sum(double), 2) spelling flipped a cent whenever the
           -- float sum straddled a half-cent — which run-to-run partial
           -- ordering moves across the boundary
           (sum(floor(l_extendedprice * 100 + 0.5)::HUGEINT))::DOUBLE / 100
             AS revenue,
           count(*)::BIGINT AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    return (
        li.groupingSets(
            [[F.col("l_returnflag")], [F.col("l_linestatus")], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            (F.sum(cents).cast("double") / 100).alias("revenue"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n",
        )
    )


# =============================================================================
# Exact percentiles / median — sort-based exact quantiles (the exact twin
# of agg_approx_stats' sketches). Spark percentile == DuckDB quantile_cont
# (linear interpolation).
# =============================================================================
@q(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
           round(median(l_quantity), 4) AS median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("p50_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75_price"),
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
    )


# =============================================================================
# Correlation / covariance / dispersion statistics.
# =============================================================================
@q(
    "agg_corr_stats",
    """
    SELECT l_linestatus,
           round(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(stddev_samp(l_extendedprice), 2)            AS stddev_price,
           round(avg(l_discount), 4)                         AS avg_disc
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # corr spelled covar/(sx·sy) with try_divide — the (n-1) factors
    # cancel so it's the same estimator, but Spark's built-in corr
    # ANSI-crashes DIVIDE_BY_ZERO on a zero-variance group (r13 fuzz
    # seed 2014) where DuckDB's corr returns NULL
    corr = F.try_divide(
        F.covar_samp("l_quantity", "l_extendedprice"),
        F.stddev_samp("l_quantity") * F.stddev_samp("l_extendedprice"),
    )
    return li.groupBy("l_linestatus").agg(
        F.round(corr, 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )


# =============================================================================
# Ordered list aggregation — sorted-distinct collect serialized to a string
# (order inside an agg is where engines usually diverge; sorting pins it).
# =============================================================================
@q(
    "agg_collect_sorted",
    """
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           array_to_string(list_sort(list(DISTINCT CAST(l_linenumber AS VARCHAR))), ',')
             AS linenumbers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("l_linestatus"))).alias("statuses"),
        F.concat_ws(
            ",", F.array_sort(F.collect_set(F.col("l_linenumber").cast("string")))
        ).alias("linenumbers"),
    )


# =============================================================================
# Running total — cumulative window (ROWS UNBOUNDED PRECEDING..CURRENT).
# Accumulation runs over exact integer CENTS (quantize-then-sum, the
# house monetary convention): r13 differential fuzz caught the raw
# round(sum(double), 2) spelling a cent off at a .XX5 boundary — Spark
# rounds the shortest-decimal-string (HALF_UP on "-34.245") while
# DuckDB rounds the binary double (just below the half). NULLS LAST is
# spelled on BOTH engines (same probe: Spark's ASC default is NULLS
# FIRST, DuckDB's is NULLS LAST, so a NULL o_orderdate silently shifted
# every later running total); o_totalprice completes the tie-break so
# the totals stay deterministic even under a violated PK.
# =============================================================================
@q(
    "window_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           (sum(floor(o_totalprice * 100 + 0.5)::HUGEINT) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS LAST, o_orderkey NULLS LAST,
                      o_totalprice NULLS LAST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE / 100
             AS running_total
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(
            F.asc_nulls_last("o_orderdate"),
            F.asc_nulls_last("o_orderkey"),
            F.asc_nulls_last("o_totalprice"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w).cast("double") / 100).alias("running_total"),
    )


# =============================================================================
# Lag delta — per-user event-value change (lag/lead family).
# ts IS NOT NULL on BOTH engines — the time-semantics contract (r13
# differential fuzz): a lag chain over rows with unknown time is
# ill-defined, and the engines disagree on where a NULL ts sorts
# (Spark ASC default NULLS FIRST, DuckDB NULLS LAST), silently shifting
# every delta in the partition. Sequence/window/as-of queries exclude
# unknown-time rows explicitly; dq_constraint_report is the gate that
# counts them.
# =============================================================================
@q(
    "window_lag_delta",
    """
    SELECT event_id, user_id,
           round(value - lag(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
    FROM events WHERE ts IS NOT NULL
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
    )


# =============================================================================
# NTILE — equal-frequency bucketing (the window used for quantile-binning
# features); fully deterministic ORDER BY. The oracle spells it as the
# classic unpartitioned ntile window; the Spark side uses the DISTRIBUTED
# equivalent (range-partition + per-partition offsets, operators.scale.
# global_ntile) because a no-partition window funnels the whole table
# through one task at scale. Same bucket assignment, hash-identical.
# =============================================================================
@q(
    "window_ntile_quartiles",
    """
    SELECT quartile,
           count(*)::BIGINT AS n,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM (
      SELECT c_acctbal,
             ntile(4) OVER (ORDER BY c_acctbal, c_custkey)::BIGINT AS quartile
      FROM customer
    ) GROUP BY quartile
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.scale import global_ntile

    cust = t(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    binned = global_ntile(
        cust, 4, ["c_acctbal", "c_custkey"], out_col="quartile"
    )
    return binned.groupBy("quartile").agg(
        F.count("*").alias("n"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


# =============================================================================
# DENSE_RANK within partition — top-priced parts per brand (ties share rank).
# =============================================================================
@q(
    "window_dense_rank_parts",
    """
    SELECT p_brand, p_partkey, p_retailprice, drk FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             dense_rank() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice DESC)::BIGINT AS drk
      FROM part
    ) WHERE drk <= 3
    """,
)
def window_dense_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return (
        part.withColumn("drk", F.dense_rank().over(w).cast("long"))
        .filter(F.col("drk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "drk")
    )


# =============================================================================
# Token explode + global top-k — the corpus term-frequency query
# (explode -> count -> rank). Map-side partial agg keeps the shuffle small.
# =============================================================================
@q(
    "explode_token_topk",
    f"""
    SELECT token, n, rk FROM (
      SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token ASC)::BIGINT AS rk
      FROM (
        SELECT token, count(*)::BIGINT AS n
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
      )
    ) WHERE rk <= 20
    """,
)
def explode_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
    )
    cnt = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    # distributed top-k first (TakeOrderedAndProject), then rank the 20 rows
    top = cnt.orderBy(F.desc("n"), F.asc("token")).limit(20)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.withColumn("rk", F.row_number().over(w).cast("long")).select(
        "token", "n", "rk"
    )


# =============================================================================
# Word shingles — 3-gram shingle counts per document (the MinHash feeder,
# exposed standalone). Pure array expressions, no Python boundary.
# =============================================================================
@q(
    "text_shingles_3gram",
    f"""
    SELECT doc_id,
           greatest(len(toks) - 2, 0)::BIGINT AS n_shingles,
           len(list_distinct(
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           ))::BIGINT AS n_distinct_shingles
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    """,
)
def text_shingles_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # the shingle array is let-bound as `sh` so both counts read one
    # evaluation of it
    stats = (
        f"transform(array({D._sql_shingles('text', 3)}), sh -> struct("
        "CAST(size(sh) AS BIGINT) AS n_shingles, "
        "CAST(size(array_distinct(sh)) AS BIGINT) AS n_distinct_shingles))[0]"
    )
    return docs.select("doc_id", F.expr(stats).alias("s")).select(
        "doc_id", "s.n_shingles", "s.n_distinct_shingles"
    )


# =============================================================================
# Levenshtein — edit distance as a first-class scalar (fuzzy-dedup feeder).
# =============================================================================
@q(
    "scalar_levenshtein",
    """
    SELECT c_custkey,
           levenshtein(lower(c_mktsegment), 'building')::BIGINT  AS lev_building,
           levenshtein(lower(c_mktsegment), 'machinery')::BIGINT AS lev_machinery
    FROM customer
    """,
)
def scalar_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    seg = F.lower("c_mktsegment")
    return cust.select(
        "c_custkey",
        F.levenshtein(seg, F.lit("building")).cast("long").alias("lev_building"),
        F.levenshtein(seg, F.lit("machinery")).cast("long").alias("lev_machinery"),
    )


# =============================================================================
# Full outer join — per-nation customer vs supplier counts (two grouped
# sides, outer-merged; both sides shrink to ~25 rows before the join, so
# at any SF this is a broadcast-able post-agg join).
# =============================================================================
@q(
    "j7_full_outer_counts",
    """
    SELECT coalesce(c.nk, s.nk)::BIGINT AS nationkey,
           coalesce(n_cust, 0)::BIGINT AS n_cust,
           coalesce(n_supp, 0)::BIGINT AS n_supp
    FROM (SELECT c_nationkey AS nk, count(*)::BIGINT AS n_cust
          FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, count(*)::BIGINT AS n_supp
          FROM supplier GROUP BY 1) s
    ON c.nk = s.nk
    """,
)
def j7_full_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk2"))
        .agg(F.count("*").alias("n_supp"))
    )
    return cust.join(supp, cust.nk == supp.nk2, "full_outer").select(
        F.coalesce("nk", "nk2").cast("long").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).cast("long").alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).cast("long").alias("n_supp"),
    )


# =============================================================================
# Cross join — small-dim enumeration grid (region x observed returnflags).
# =============================================================================
@q(
    "j8_cross_join_grid",
    """
    SELECT r_name, flag
    FROM region CROSS JOIN (SELECT DISTINCT l_returnflag AS flag FROM lineitem)
    """,
)
def j8_cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region")
    flags = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_returnflag").alias("flag"))
        .distinct()
    )
    return region.crossJoin(F.broadcast(flags)).select("r_name", "flag")


# =============================================================================
# Hopping (sliding) event-time window — width 10 min, slide 5 min: each
# event lands in exactly 2 epoch-aligned windows. The streaming twin is
# the same expression under readStream + watermark (stream_windowed_counts).
# =============================================================================
@q(
    "events_hopping_window",
    """
    SELECT window_start, event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value
    FROM (
      SELECT unnest([s, s - INTERVAL 5 MINUTE]) AS window_start, event_type, value
      FROM (
        SELECT to_timestamp(floor(date_part('epoch', ts) / 300) * 300)::TIMESTAMP AS s,
               event_type, value
        -- time-semantics contract (r13 fuzz): Spark's window() drops
        -- NULL-ts rows natively; the oracle must too
        FROM events WHERE ts IS NOT NULL
      )
    )
    GROUP BY window_start, event_type
    """,
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


# =============================================================================
# Video frame sampling — the 1-row -> N-frames UDTF (SURVEY §2.8 shape) with
# a full SQL oracle: payload duration is a deterministic function of
# n_chars, frames every 1000 ms via Arrow-batched mapInPandas
# (operators/multimodal.py:sample_frames).
# =============================================================================
@q(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id,
           (off // 1000)::BIGINT AS frame_index,
           off::BIGINT AS frame_offset_ms
    FROM (
      SELECT doc_id, unnest(range(0, (n_chars % 50) * 997, 1000)) AS off
      FROM documents
    )
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        ((F.col("n_chars") % 50) * 997).cast("long").alias("duration_ms"),
    )
    frames = MM.sample_frames(docs, every_ms=1000)
    return frames.select(
        "media_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.col("frame_offset_ms").cast("long").alias("frame_offset_ms"),
    )


# =============================================================================
# Skew-salted two-phase aggregation — identical semantics to a plain
# groupBy (the oracle), but each hot key fans over 16 salt partitions in
# phase 1 (operators/scale.py:salted_aggregate). count + sum are merged
# as sums of partials.
# =============================================================================
@q(
    "skew_salted_type_counts",
    """
    SELECT event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return SC.salted_aggregate(
        ev,
        ["event_type"],
        [F.count("*").alias("c"), F.sum("value").alias("v")],
        [
            F.sum("c").cast("long").alias("n"),
            F.round(F.sum("v"), 2).alias("total_value"),
        ],
        n=16,
    )


# =============================================================================
# Date/interval arithmetic — trunc, diff, iso weekday, last_day. Spark's
# weekday() is Monday=0, DuckDB's isodow is Monday=1; +1 aligns them.
# =============================================================================
@q(
    "scalar_date_arithmetic",
    """
    SELECT o_orderkey,
           date_trunc('month', o_orderdate)::TIMESTAMP AS order_month,
           date_diff('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00')::BIGINT
             AS days_to_eoy,
           isodow(o_orderdate)::BIGINT AS iso_weekday,
           strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end
    FROM orders
    """,
)
def scalar_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("days_to_eoy"),
        (F.weekday("o_orderdate") + 1).cast("long").alias("iso_weekday"),
        # as string: pandas renders DATE columns differently per engine
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
    )


# =============================================================================
# Array set-ops — intersect/union/except sizes between each document's
# distinct token set and a fixed vocabulary (pure array expressions).
# =============================================================================
ARRAY_VOCAB = ["spark", "hash", "value", "table", "nonexistentword"]


@q(
    "array_set_ops",
    f"""
    SELECT doc_id,
           len(list_filter(vocab, x -> list_contains(toks, x)))::BIGINT AS n_inter,
           len(list_distinct(list_concat(toks, vocab)))::BIGINT AS n_union,
           len(list_filter(vocab, x -> NOT list_contains(toks, x)))::BIGINT AS n_missing
    FROM (
      -- coalesce: NULL text tokenizes to the EMPTY set, not NULL —
      -- otherwise the two engines' NULL-in-set-algebra rules diverge
      -- (Spark propagates NULL through all three ops; DuckDB's
      -- list_concat treats NULL as [] while its filters treat the
      -- NULL membership test as false, which is internally
      -- inconsistent too). Empty-set semantics are the only spelling
      -- both engines agree on (r7 null-riddled harness).
      SELECT doc_id, coalesce(list_distinct({_TOKS}), []) AS toks,
             {ARRAY_VOCAB!r} AS vocab
      FROM documents
    )
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.coalesce(
        F.array_distinct(
            F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
        ),
        F.array().cast("array<string>"),
    )
    vocab = F.array(*[F.lit(v) for v in ARRAY_VOCAB])
    return docs.select(
        "doc_id",
        F.size(F.array_intersect(vocab, toks)).cast("long").alias("n_inter"),
        F.size(F.array_union(toks, vocab)).cast("long").alias("n_union"),
        F.size(F.array_except(vocab, toks)).cast("long").alias("n_missing"),
    )


# =============================================================================
# Ratio-to-total — unpartitioned window over a grouped aggregate (the
# aggregate is tiny: one row per source, so the global window is safe at
# any SF; the heavy lifting happened in the groupBy).
# =============================================================================
@q(
    "window_share_of_total",
    """
    SELECT source, n_docs,
           round(n_docs / sum(n_docs) OVER (), 6) AS share
    FROM (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source)
    """,
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy()
    return per_src.select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share"),
    )


# =============================================================================
# Daily active users — exact distinct-count per event-time day (the
# classic engagement rollup; the approx twin lives in agg_approx_stats).
# =============================================================================
@q(
    "events_daily_active",
    """
    SELECT date_trunc('day', ts)::TIMESTAMP AS day,
           count(DISTINCT user_id)::BIGINT AS dau,
           count(*)::BIGINT AS n_events,
           -- 6dp, not 2dp (r13 fuzz seed 1014): value is FREE-FORM (not
           -- monetary, so quantize-then-sum doesn't apply), and metric
           -- mixes quantized at <= 4dp put exact sums ON the half-cent
           -- boundary, where ulp-level cross-engine partial-order noise
           -- flips a 2dp rounding; the 6dp edge sits a full 0.5 from
           -- any <= 5dp-exact sum
           floor(sum(value) * 1000000 + 0.5) / 1000000 AS total_value
    FROM events GROUP BY 1
    """,
)
def events_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.plans.queries_ext5 import _r

    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("dau"),
            F.count("*").alias("n_events"),
            _r(F.sum("value"), 6).alias("total_value"),
        )
    )


# =============================================================================
# Near-dup CLUSTERS — connected components over the exact-Jaccard pair
# graph (threshold 0.75, same edges as dedup_ngram_jaccard): pairs ->
# duplicate groups, the final stage of corpus dedup. Spark side is
# iterative min-label propagation (operators/dedup.py:
# connected_components); oracle is a DuckDB recursive CTE computing the
# same transitive closure.
# =============================================================================
from social_and_media_data_ingestion_spark.operators import dedup as D  # noqa: E402
from social_and_media_data_ingestion_spark.plans.queries import _TOKS as _TOKS2  # noqa: E402


@q(
    "dedup_near_dup_clusters",
    f"""
    WITH RECURSIVE
    docs AS (SELECT doc_id, {_TOKS2} AS toks FROM documents WHERE doc_id < 300),
    sh AS (SELECT DISTINCT doc_id AS id, unnest(toks) AS shingle FROM docs),
    sizes AS (SELECT id, count(*)::BIGINT AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.75
    ),
    bi AS (SELECT id_a AS s, id_b AS t FROM edges
           UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT s AS node, s AS root FROM bi
      UNION
      SELECT b.t AS node, r.root FROM reach r JOIN bi b ON b.s = r.node
    )
    SELECT node::BIGINT AS id, min(root)::BIGINT AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    edges = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.75)
    return D.connected_components(edges)


# =============================================================================
# SQL passthrough — the engine's plain-SQL entry point (plans/tables.py:
# sql): the SAME text runs on Spark SQL and DuckDB (shared ANSI dialect),
# demonstrating the spark.sql surface over registered views.
# =============================================================================
_SQL_PASSTHROUGH = """
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY source, lang
    HAVING count(*) > 1
"""


@q("sql_passthrough_agg", _SQL_PASSTHROUGH)
def sql_passthrough_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.plans.tables import sql

    return sql(spark, sf_dir, _SQL_PASSTHROUGH)


# =============================================================================
# Document chunking — the training-data windowing op: token windows of 50
# with stride 40 (10-token overlap), one output row per chunk
# (posexplode). Map-only: no shuffle, chunk arrays built row-local.
# =============================================================================
@q(
    "text_chunk_documents",
    f"""
    SELECT doc_id, i::BIGINT AS chunk_index,
           array_to_string(list_slice(toks, i * 40 + 1, i * 40 + 50), ' ')
             AS chunk_text
    FROM (
      SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i
      FROM (
        SELECT doc_id, toks,
               CASE WHEN len(toks) > 0
                    THEN ceil(len(toks) / 40.0)::INT ELSE 0 END AS n_chunks
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
      )
    )
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # token array let-bound as lambda var tk: the tokenizer is evaluated
    # once per row rather than once per chunk (CollapseProject inlines
    # column refs into HOF lambdas — see dedup._sql_ngrams); the
    # empty-doc guard keeps sequence() ascending
    chunk_arr = (
        f"flatten(transform(array({D._sql_tokens('text')}), tk -> "
        "CASE WHEN size(tk) > 0 THEN "
        "transform(sequence(0, CAST(ceil(size(tk) / 40.0) AS INT) - 1), "
        "i -> concat_ws(' ', slice(tk, i * 40 + 1, 50))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END))"
    )
    return docs.select(
        "doc_id", F.posexplode(F.expr(chunk_arr)).alias("chunk_index", "chunk_text")
    ).select("doc_id", F.col("chunk_index").cast("long"), "chunk_text")


# =============================================================================
# Deterministic hash-mod sampling — 20% corpus sample keyed on the
# rolling content fingerprint, reproducible across engines/runs (unlike
# rand()-based sampling): the corpus-curation subsetting primitive.
# =============================================================================
@q(
    "sample_hash_mod",
    r"""
    WITH d AS (
      SELECT doc_id, source,
             list_transform(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
                            x -> ascii(x)::BIGINT) AS cs
      FROM documents
    ),
    fp AS (
      SELECT doc_id, source,
             CASE WHEN len(cs) = 0 THEN 0
                  ELSE list_reduce(cs, (acc, x) -> (acc * 31 + x) % 1000000007)
             END::BIGINT AS fp
      FROM d
    )
    SELECT doc_id, source, (fp % 10)::BIGINT AS bucket
    FROM fp WHERE fp % 10 < 2
    """,
)
def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import text_analysis as TA

    docs = t(spark, sf_dir, "documents")
    fp = TA.rolling_fingerprint("text")
    return (
        docs.withColumn("bucket", (fp % 10).cast("long"))
        .filter(F.col("bucket") < 2)
        .select("doc_id", "source", "bucket")
    )


# =============================================================================
# PII / denylist redaction — the corpus-scrubbing pass every training
# pipeline runs before tokenization: mask emails, URLs, and a denylist
# of terms, and report how many spans were masked per doc. Map-only
# (three chained regexp_replace + one regexp_extract_all), fully
# JVM-side, no shuffle — scales linearly with corpus bytes.
# =============================================================================
# BOUNDED quantifiers, not +: with an unbounded local part, Java's
# backtracking regex costs O(run) at EVERY start position inside a long
# [A-Za-z0-9._%+-] run before failing at '@' — O(L²) on a crawl page
# with a 100 KB unbroken token (measured: minutes for ONE such doc,
# while DuckDB's RE2 stays linear; r7 hostile-doc probe). RFC 5321's
# own limits (64-char local part, 255-char domain) cap the per-start
# work at a constant, restoring O(L) scanning with IDENTICAL matches on
# real addresses — and both engines share the pattern string, so the
# oracle changes in lockstep. The URL pattern needs no bound: its
# unbounded [^\s]+ only runs after the literal 'http' prefix matched.
_PII_EMAIL = r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,63}"
_PII_URL = r"https?://[^\s]+"
_PII_TERMS = r"\b(spark|sql)\b"


@q(
    "pii_redact_documents",
    f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_URL}', '<URL>', 'g'),
               '{_PII_TERMS}', '<TERM>', 'g') AS redacted,
           (len(regexp_extract_all(text, '{_PII_EMAIL}'))
            + len(regexp_extract_all(text, '{_PII_URL}'))
            + len(regexp_extract_all(text, '{_PII_TERMS}')))::BIGINT AS n_masked
    FROM documents
    """,
)
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_URL,
            "<URL>",
        ),
        _PII_TERMS,
        "<TERM>",
    )
    # idx=0 (whole match) EXPLICITLY: Spark's regexp_extract_all
    # defaults to group 1 and RAISES on a group-less pattern — but only
    # lazily, at the first row where the pattern actually matches, so a
    # corpus with no PII passes while the first real email crashes the
    # job (r7 match-path probe; DuckDB's default is group 0)
    n_masked = (
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0))
        + F.size(F.regexp_extract_all("text", F.lit(_PII_URL), 0))
        + F.size(F.regexp_extract_all("text", F.lit(_PII_TERMS), 0))
    )
    return docs.select(
        "doc_id", redacted.alias("redacted"), n_masked.cast("long").alias("n_masked")
    )


# =============================================================================
# Context-window packing — concat-then-chunk sequence packing for LLM
# training: within each source shard, documents are laid end-to-end in
# doc_id order and assigned to 512-token context windows by running
# token offset. One shuffle (partition by source); inside each shard the
# running sum is a partition-local window, so shards pack in parallel —
# exactly how a 100 TB corpus packs across executors.
# =============================================================================
@q(
    "doc_pack_contexts",
    f"""
    WITH d AS (
      SELECT doc_id, source, len({_TOKS})::BIGINT AS n_tok FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM d
    )
    SELECT doc_id, source, n_tok,
           floor((cum - n_tok) / 512)::BIGINT AS context_id
    FROM c
    """,
)
def doc_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    d = docs.select("doc_id", "source", F.size(toks).cast("long").alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        "doc_id",
        "source",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 512)
        .cast("long")
        .alias("context_id"),
    )


# =============================================================================
# Weekly cohort retention — classic product-analytics rollup on the
# events stream: users grouped by first-active week, counted in each
# subsequent week. Shuffle chain: (user, week) distinct -> per-user
# window-min (cohort) -> cohort-cell distinct-count; week arithmetic
# stays in epoch seconds so both engines agree without date-rendering
# drift.
# =============================================================================
@q(
    "events_weekly_retention",
    """
    WITH firsts AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
           ((epoch(week) - epoch(cohort_week)) / 604800)::BIGINT AS weeks_since,
           count(DISTINCT activity.user_id)::BIGINT AS active_users
    FROM activity JOIN firsts ON activity.user_id = firsts.user_id
    GROUP BY 1, 2
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    # cohort = window-min over the already-distinct (user, week) frame:
    # one exchange fewer than a separate per-user aggregate joined back,
    # and the min runs over weeks-per-user (tiny), not raw events
    activity = ev.select("user_id", week.alias("week")).distinct()
    joined = activity.withColumn(
        "cohort_week", F.min("week").over(Window.partitionBy("user_id"))
    )
    return joined.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
        (
            (F.unix_timestamp("week") - F.unix_timestamp("cohort_week")) / 604800
        )
        .cast("long")
        .alias("weeks_since"),
    ).agg(F.countDistinct("user_id").cast("long").alias("active_users"))


# =============================================================================
# Calendar-spine gap filling — densify a sparse daily series: generate
# every (day, event_type) cell over the observed range and left-join the
# real counts, zero-filling the gaps. The spine is built from one
# global-agg row (sequence + explode), so it costs nothing next to the
# counts shuffle; the aggregated counts (days x types, tiny even at
# 100 TB input) are the broadcast build side of the outer join.
# =============================================================================
@q(
    "events_gap_filled_daily",
    """
    WITH bounds AS (SELECT min(ts::DATE) AS lo, max(ts::DATE) AS hi FROM events),
    days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
      SELECT ts::DATE AS day, event_type, count(*)::BIGINT AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, t.event_type,
           coalesce(n_events, 0)::BIGINT AS n_events
    FROM days d
    CROSS JOIN types t
    LEFT JOIN daily ON daily.day = d.day AND daily.event_type = t.event_type
    """,
)
def events_gap_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # ONE events scan (round-11 scan sharing): the calendar bounds and
    # the type set both derive from the pinned daily aggregate (tiny:
    # |days|×|types| rows) instead of re-scanning the corpus — the day
    # span and the observed types are exactly those of the daily cells
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").cast("long").alias("n_events"))
        .transform(pin)
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    types = daily.select("event_type").distinct()
    spine = days.crossJoin(types)
    return (
        spine.join(F.broadcast(daily), ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )


# =============================================================================
# Funnel conversion — ordered-stage analysis over the event stream:
# first view -> first click after it -> first purchase after that, per
# user, collapsed to corpus-level stage counts. One shuffle (per-user
# conditional-min agg); the funnel ordering is pure column logic on the
# tiny aggregated frame.
# =============================================================================
@q(
    "events_funnel_conversion",
    """
    WITH stage AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*)::BIGINT AS n_users,
           sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS viewed,
           sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END)::BIGINT
             AS clicked_after_view,
           sum(CASE WHEN t_click > t_view AND t_purchase > t_click
                    THEN 1 ELSE 0 END)::BIGINT AS purchased_after_click
    FROM stage
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    m = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))  # noqa: E731
    stage = ev.groupBy("user_id").agg(
        m("view").alias("t_view"),
        m("click").alias("t_click"),
        m("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return stage.agg(
        F.count("*").cast("long").alias("n_users"),
        one_if(F.col("t_view").isNotNull()).alias("viewed"),
        one_if(clicked).alias("clicked_after_view"),
        one_if(purchased).alias("purchased_after_click"),
    )


# =============================================================================
# Stratified deterministic sampling — per-source sampling rates keyed on
# the content fingerprint (src0 20%, src1 10%, rest 5%): downsample
# over-represented sources while staying reproducible across engines and
# runs. Map-only, like sample_hash_mod.
# =============================================================================
@q(
    "sample_stratified_hash",
    r"""
    WITH d AS (
      SELECT doc_id, source,
             list_transform(string_split_regex(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
               x -> ascii(x)::BIGINT) AS cs
      FROM documents
    ),
    fp AS (
      SELECT doc_id, source,
             CASE WHEN len(cs) = 0 THEN 0
                  ELSE list_reduce(cs, (acc, x) -> (acc * 31 + x) % 1000000007)
             END::BIGINT AS fp
      FROM d
    )
    SELECT doc_id, source, (fp % 100)::BIGINT AS bucket
    FROM fp
    WHERE fp % 100 < CASE source WHEN 'src0' THEN 20 WHEN 'src1' THEN 10
                                 ELSE 5 END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import text_analysis as TA

    docs = t(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source") == "src0", 20)
        .when(F.col("source") == "src1", 10)
        .otherwise(5)
    )
    return (
        docs.withColumn("bucket", (TA.rolling_fingerprint("text") % 100).cast("long"))
        .filter(F.col("bucket") < rate)
        .select("doc_id", "source", "bucket")
    )


# =============================================================================
# Corpus curation pipeline — the composite training-data gate every
# corpus build runs: language gate (stopword-argmax lang ID), token-count
# band, punctuation-soup cap, then exact near-dup removal by normalized
# content fingerprint keeping the lowest doc_id. Feature extraction is
# entirely map-only column expressions; the ONLY shuffle is the
# fingerprint-dedup exchange, and the gates run before it so the shuffle
# carries just the surviving fraction. At 100 TB the gates typically drop
# 50-90% of rows before any data moves.
# =============================================================================
_CURATE_FP_SQL = (
    "CASE WHEN len(cs) = 0 THEN 0 "
    "ELSE list_reduce(cs, (acc, x) -> (acc * 31 + x) % 1000000007) END"
)


@q(
    "corpus_curate_pipeline",
    rf"""
    WITH feats AS (
      SELECT doc_id, source,
             len({_TOKS})::BIGINT AS n_tok,
             {_lang_hits_sql("en")} AS h_en,
             {_lang_hits_sql("de")} AS h_de,
             {_lang_hits_sql("es")} AS h_es,
             {_lang_hits_sql("fr")} AS h_fr,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
                       / length(text)
                  ELSE 0.0 END AS pr,
             list_transform(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
                            x -> ascii(x)::BIGINT) AS cs
      FROM documents
    ),
    gated AS (
      SELECT doc_id, source, n_tok, {_CURATE_FP_SQL}::BIGINT AS fp
      FROM feats
      WHERE greatest(h_en, h_de, h_es, h_fr) > 0
        AND h_en = greatest(h_en, h_de, h_es, h_fr)
        AND n_tok BETWEEN 10 AND 1000
        AND pr <= 0.2
    )
    SELECT doc_id, source, n_tok
    FROM (
      SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM gated
    ) WHERE rn = 1
    """,
)
def corpus_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import text_analysis as TA

    docs = t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "source",
        TA.ws_token_count("text").cast("long").alias("n_tok"),
        TA.language_id("text").alias("lang_pred"),
        TA.punct_ratio("text").alias("pr"),
        TA.rolling_fingerprint("text").alias("fp"),
    )
    gated = feats.filter(
        (F.col("lang_pred") == "en")
        & F.col("n_tok").between(10, 1000)
        & (F.col("pr") <= 0.2)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tok")
    )


# =============================================================================
# Event-rate anomaly detection — daily counts per event type scored
# against their own trailing-week mean/stddev (z-score), flagging
# |z| > 2 days. One shuffle (the daily count agg); the window runs over
# the tiny aggregated frame (days x types), so cost is independent of
# raw event volume.
# =============================================================================
@q(
    "events_anomaly_zscore",
    """
    WITH daily AS (
      -- time-semantics contract (r13 fuzz): a NULL day group shifts
      -- the trailing window differently per engine; excluded on both
      SELECT ts::DATE AS day, event_type, count(*)::BIGINT AS n_events
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    scored AS (
      SELECT day, event_type, n_events,
             avg(n_events) OVER w AS mu,
             stddev_samp(n_events) OVER w AS sd
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n_events,
           round((n_events - mu) / sd, 4) AS z
    FROM scored
    WHERE sd IS NOT NULL AND sd > 0 AND abs((n_events - mu) / sd) > 2
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count("*").cast("long").alias("n_events")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    scored = daily.select(
        "day",
        "event_type",
        "n_events",
        F.avg("n_events").over(w).alias("mu"),
        F.stddev_samp("n_events").over(w).alias("sd"),
    )
    z = (F.col("n_events") - F.col("mu")) / F.col("sd")
    return (
        scored.filter(F.col("sd").isNotNull() & (F.col("sd") > 0) & (F.abs(z) > 2))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            F.round(z, 4).alias("z"),
        )
    )


# =============================================================================
# TF-IDF top terms per source — the corpus-reporting op: explode
# whitespace tokens, term frequency per (source, term), document
# frequency per term, idf-weight, keep each source's top 5. Ranking is
# by INTEGER tf (term as tie-break) so the cross-engine sort is exact;
# the float tfidf is an output value only. Shuffles: token agg (heavy,
# map-side combined), df agg, one term-keyed join; the final per-source
# window sorts the already-aggregated term frame.
# =============================================================================
@q(
    "text_tfidf_topterms",
    rf"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1
    ),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    scored AS (
      SELECT source, term, tf,
             round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT source, term, tf, tfidf
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY tf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    tok = docs.select("doc_id", "source", F.explode(toks).alias("term"))
    # ONE tokenize pass and ONE corpus-scale shuffle (round-11 scan
    # sharing): the token stream aggregates once to term-document
    # postings (each doc has exactly one source, so (source, term,
    # doc_id) distinct ⇔ (term, doc_id) distinct), lazily pinned — the
    # dedup-shingle-postings precedent — and BOTH tf and df derive from
    # the postings-scale frame. The old spelling re-tokenized and
    # re-shuffled the full token stream once per aggregate (3 scans at
    # 100 TB, two of them of the biggest intermediate in the query).
    g = (
        tok.groupBy("source", "term", "doc_id")
        .agg(F.count("*").alias("cnt"))
        .transform(pin)
    )
    tf = g.groupBy("source", "term").agg(F.sum("cnt").cast("long").alias("tf"))
    dfq = g.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    # count(*) over parquet is answered from row-group footers — this
    # "extra scan" reads zero data bytes at any corpus size, unlike
    # deriving n_docs from the token stream (which would also miss
    # token-less documents)
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "term", "tf", "tfidf")
    )


# =============================================================================
# K-means over embeddings, step 1: ASSIGN — every vector to its nearest
# of k=8 fixed centroids (the embeddings with vec_id < 8; deterministic
# seed choice) by cosine. Centroids are broadcast (k rows), the cosine
# fan-out is map-only (k scores per row), and the argmax is a single
# map-side-combinable aggregate via struct-max (cos DESC, centroid ASC
# tie-break) — no per-vector window shuffle. The scale shape of the
# E-step on any corpus size.
# =============================================================================
_COS_SQL = (
    "list_sum(list_transform(range(len(qe)), i -> qe[i+1]::DOUBLE * ce[i+1]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform(ce, x -> x::DOUBLE * x::DOUBLE))))"
)

# k=8 fixed seed centroids (vec_id < 8), memoized per sf_dir: assign and
# update — and repeated runs of either — share one bounded driver-state
# collect (~8*dim floats, the pq_codebooks class) instead of paying a
# fresh scan-the-parquet job per call. The read is select-then-filter with
# an explicit limit so column pruning, row-group min/max pruning, and
# early termination all apply to the one collect that does run.
_KMEANS_CENTROID_CACHE: dict[str, list[tuple[int, list[float]]]] = {}


def _kmeans_seed_centroids(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> list[tuple[int, list[float]]]:
    key = f"{sf_dir}#k={k}"
    if key not in _KMEANS_CENTROID_CACHE:
        rows = (
            # valid-vector contract: a NULL seed poisons every Lloyd
            # round downstream (r7 null-riddled embeddings probe)
            vectors(spark, sf_dir)
            .select("vec_id", "embedding")
            .filter(F.col("vec_id") < k)
            .limit(k)
            .collect()
        )
        _KMEANS_CENTROID_CACHE[key] = sorted(
            (int(r.vec_id), [float(x) for x in r.embedding]) for r in rows
        )
    return _KMEANS_CENTROID_CACHE[key]


@q(
    "emb_kmeans_assign",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    cent AS (SELECT vec_id AS cid, embedding AS ce FROM valid_embeddings WHERE vec_id < 8),
    scored AS (
      SELECT vec_id, cid, {_COS_SQL.replace("qe", "embedding")} AS cos
      FROM valid_embeddings CROSS JOIN cent
    )
    SELECT vec_id, cid AS centroid_id, round(cos, 4) AS cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MAP-ONLY assignment: the 8 centroid vectors are bounded driver state
    # (collected like a PQ codebook, memoized per sf_dir) compiled into
    # in-row literal expressions — no corpus x k crossJoin expansion, no
    # argmax shuffle, and no repeated centroid-collect job across calls.
    from social_and_media_data_ingestion_spark.operators import similarity as SIM

    emb = vectors(spark, sf_dir)
    cents = _kmeans_seed_centroids(spark, sf_dir)
    if not cents:
        # no seed centroids -> no assignments (the oracle's CROSS JOIN
        # against an empty cent set), with types/columns unchanged
        emb = emb.where(F.lit(False))
    best = F.array_max(SIM._centroid_sim_structs("embedding", cents))
    return emb.select(
        "vec_id",
        (-best.getField("neg_cid")).alias("centroid_id"),
        F.round(best.getField("cs"), 4).alias("cosine"),
    )


# =============================================================================
# K-means step 2: UPDATE — element-wise mean vector per cluster, emitted
# FLAT as (centroid_id, dim_idx, value): posexplode + one (cluster, dim)
# aggregate, no array reassembly (downstream rebuilds with
# array_agg-sorted if needed). Combined with assign above this is one
# full Lloyd iteration, all map-side-combinable aggregates.
# =============================================================================
@q(
    "emb_kmeans_update",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    cent AS (SELECT vec_id AS cid, embedding AS ce FROM valid_embeddings WHERE vec_id < 8),
    scored AS (
      SELECT vec_id, cid, embedding, {_COS_SQL.replace("qe", "embedding")} AS cos
      FROM valid_embeddings CROSS JOIN cent
    ),
    assigned AS (
      SELECT vec_id, cid, embedding
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT cid AS centroid_id, ord::BIGINT - 1 AS dim_idx,
           round(avg(val), 6) AS value,
           count(*)::BIGINT AS n_members
    FROM (
      SELECT cid, unnest(embedding)::DOUBLE AS val,
             generate_subscripts(embedding, 1) AS ord
      FROM assigned
    )
    GROUP BY 1, 2
    """,
)
def emb_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Assign step is map-only (literal centroids shared with
    # emb_kmeans_assign via the per-sf_dir memo); the only shuffle is the
    # (centroid, dim) partial-aggregated update.
    from social_and_media_data_ingestion_spark.operators import similarity as SIM

    emb = vectors(spark, sf_dir)
    cents = _kmeans_seed_centroids(spark, sf_dir)
    if not cents:  # empty seed set -> no assignments (oracle CROSS JOIN)
        emb = emb.where(F.lit(False))
    assigned = emb.select(
        SIM._nearest_centroid_expr("embedding", cents).alias("centroid_id"),
        F.col("embedding").alias("e"),
    )
    return (
        assigned.select("centroid_id", F.posexplode("e").alias("dim_idx", "val"))
        .groupBy("centroid_id", F.col("dim_idx").cast("long").alias("dim_idx"))
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("value"),
            F.count("*").cast("long").alias("n_members"),
        )
    )


# =============================================================================
# Value histogram — fixed-bound width_bucket histogram over the event
# value stream with per-bucket stats. One map-side-combinable aggregate;
# bucket boundaries are plan-time literals so the whole op is a single
# scan + partial/final agg at any scale.
# =============================================================================
@q(
    "events_value_histogram",
    """
    SELECT CAST(CASE WHEN value < 0 THEN 0
                WHEN value >= 100 THEN 11
                ELSE floor(value / 10) + 1 END AS BIGINT) AS bucket,
           count(*)::BIGINT AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY 1
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 0, 0)
        .when(F.col("value") >= 100, 11)
        .otherwise(F.floor(F.col("value") / 10) + 1)
        .cast("long")
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
        F.round(F.sum("value"), 2).alias("total"),
    )


# =============================================================================
# Corpus profile — the one-pass data-quality summary run before any
# training job: row/null/distinct counts and length stats per corpus.
# Single global aggregate (distinct-agg expands once, still one scan).
# =============================================================================
@q(
    "corpus_profile",
    """
    SELECT count(*)::BIGINT AS n_rows,
           count(text)::BIGINT AS n_text_nonnull,
           count(DISTINCT source)::BIGINT AS n_sources,
           count(DISTINCT lang)::BIGINT AS n_langs,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("text").cast("long").alias("n_text_nonnull"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# =============================================================================
# Inverted index build — term -> (document frequency, first-10 sorted
# posting list): the IR-side retrieval structure over the corpus. Two
# aggregates (distinct (term, doc) pairs, then per-term collect); the
# posting array is SORTED (numerically, before stringifying) so the
# result is deterministic and engine-independent, then emitted as a
# comma-joined STRING column: downstream comparison layers canonicalize
# rows via hashing, and a flat string is hashable where a raw array is
# not. Restricted to terms with df >= 5 to bound output (the long tail
# stays in the full index, not the report).
# =============================================================================
@q(
    "text_inverted_index",
    rf"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_TOKS}) AS term FROM documents
    )
    SELECT term, count(*)::BIGINT AS df,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 10), ',') AS postings
    FROM tok
    GROUP BY term
    HAVING count(*) >= 5
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    tok = docs.select("doc_id", F.explode(toks).alias("term")).distinct()
    return (
        tok.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings"),
        )
        .filter(F.col("df") >= 5)
    )


# =============================================================================
# Multimodal — audio chunking: payload -> fixed 250ms windows with RMS
# energy, via the Arrow-batched mapInPandas UDTF (1 row -> N rows, no
# shuffle, partitioning preserved). The deterministic 8-bit-PCM fake is
# pure integer arithmetic, so the WHOLE UDTF path gets a value-level SQL
# oracle (documents text bytes stand in for PCM; corpus is ASCII so
# bytes == code points).
# =============================================================================
@q(
    "multimodal_audio_chunks",
    """
    WITH s AS (
      -- samples are UTF-8 BYTES (the fake's contract: one payload byte
      -- = one 8-bit PCM sample), NOT codepoints: ascii(c) on a
      -- character returns the full codepoint (ascii('X' emoji) =
      -- 127881), which silently diverged from Python's list(bytes) on
      -- any non-ASCII text (r7 unicode probe). Bytes come from hex
      -- pairs of the encoded blob; range(0) on empty text also fixes
      -- the old string_split('', '') == [''] empty-payload bug.
      -- hex(encode(text)) is HOISTED to a projected column, and each
      -- chunk's 500-hex-char slice is ALSO a projected column before
      -- any lambda touches it: DuckDB re-evaluates expressions
      -- referenced inside list_transform lambdas PER ELEMENT, so the
      -- inlined spelling recomputed the full-document hex per byte —
      -- O(bytes²), 33 s for ONE 100 KB document (r7 hostile-doc
      -- probe). This shape is the same arithmetic at O(bytes).
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ),
    c AS (
      SELECT media_id, nb, hx,
             unnest(range(((nb + 249) // 250)::INT)) AS ci
      FROM s
    ),
    ch AS (
      SELECT media_id, ci,
             substr(hx, ci * 500 + 1, 500) AS chx,
             least(250, nb - ci * 250)::INT AS ns
      FROM c
    ),
    sm AS (
      SELECT media_id, ci, ns,
             list_transform(range(ns),
                            i -> ('0x' || substr(chx, i * 2 + 1, 2))::INT::DOUBLE)
               AS sam
      FROM ch
    )
    SELECT media_id,
           ci::INTEGER AS chunk_index,
           (ci * 250)::INTEGER AS start_ms,
           ns::INTEGER AS n_samples,
           round(sqrt(list_sum(list_transform(sam, x -> x * x)) / ns), 4) AS rms
    FROM sm
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    chunks = MM.chunk_audio(media, sample_rate=1000, window_ms=250)
    return chunks.select(
        "media_id", "chunk_index", "start_ms", "n_samples",
        F.round("rms", 4).alias("rms"),
    )


# =============================================================================
# Relative-standing windows — percent_rank + cume_dist of each supplier's
# account balance within its nation (the remaining members of the window
# family: rank-based relative position). One exchange on the partition
# key; both functions share a single sort.
# =============================================================================
@q(
    "window_percentile_standing",
    """
    SELECT s_suppkey, n_name,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           round(s_acctbal, 2) AS acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal ASC, s_suppkey ASC)
    """,
)
def window_percentile_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.asc("s_acctbal"), F.asc("s_suppkey"))
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "s_suppkey",
            "n_name",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round("s_acctbal", 2).alias("acctbal"),
        )
    )


# =============================================================================
# Hard-negative mining — for each query vector, the top-3 most-similar
# corpus vectors with a DIFFERENT label (the contrastive-training data
# primitive: near-misses make the best negatives). Same deterministic
# cosine/tie-break machinery as the ANN family; the label inequality is
# just a join predicate, so the scale path (LSH/IVF candidate pruning)
# composes unchanged.
# =============================================================================
@q(
    "emb_hard_negatives",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    q AS (SELECT vec_id AS qid, label AS ql, embedding AS qe
               FROM valid_embeddings WHERE vec_id < 10),
    s AS (
      SELECT qid AS query_id, vec_id AS negative_id,
             list_sum(list_transform(range(len(qe)), i -> qe[i+1]::DOUBLE * embedding[i+1]::DOUBLE))
             / (sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
      FROM valid_embeddings CROSS JOIN q
      WHERE label <> ql
    )
    SELECT query_id, negative_id, round(cos, 4) AS cosine, rank
    FROM (
      SELECT query_id, negative_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, negative_id ASC)::BIGINT AS rank
      FROM s
    ) WHERE rank <= 3
    """,
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    q_side = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("ql"),
        F.col("embedding").alias("qe"),
    )

    def _sqsum(c):
        return F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )

    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    cos = dot / (F.sqrt(_sqsum("embedding")) * F.sqrt(_sqsum("qe")))
    scored = (
        emb.crossJoin(F.broadcast(q_side))
        .filter(F.col("label") != F.col("ql"))
        .select("query_id", F.col("vec_id").alias("negative_id"), cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "negative_id", F.round("cos", 4).alias("cosine"), "rank")
    )


# =============================================================================
# Large-keyword-set substring match — the >= 5k-pattern regime where a
# regex alternation degrades to O(text * patterns): 5000 deterministic
# 4-token phrases (md5-sampled from the corpus vocabulary's 4-gram
# space) matched per document via the Aho-Corasick pandas UDF
# (auto_contains_any dispatches to it above AHOCORASICK_THRESHOLD).
# The keyword dim is bounded driver state (5k short strings, the class
# of the reference's keyword file); the oracle replays the same phrase
# sample and pins every per-doc boolean via correlated EXISTS/contains.
# =============================================================================
_KW5K_CACHE: dict[str, list[str]] = {}
# Vocabulary cap BEFORE the 4-way crossJoin (round-6 verdict item 6):
# the 4-gram space must be bounded by construction, not by the corpus —
# an uncapped realistic vocabulary (10^4+ tokens) makes vocab**4
# astronomically large before the limit(5000) ever applies. 60**4 ~
# 13M candidate phrases regardless of corpus size; the cap is a
# deterministic md5-ordered sample so the phrase dim stays identical
# across engines and runs. Any corpus with >= 60 distinct tokens
# (every test sf) produces the same bounded build.
KW5K_VOCAB_CAP = 60


def _kw5k_phrase_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCOLLECTED 5000-phrase build plan (exposed for the plan
    guard pinning the capped-vocab shape)."""
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .distinct()
        .orderBy(F.md5(F.encode(F.col("tok"), "utf-8")), F.col("tok"))
        .limit(KW5K_VOCAB_CAP)
    )
    parts = [vocab.select(F.col("tok").alias(n)) for n in ("a", "b", "c", "d")]
    return (
        parts[0]
        .crossJoin(parts[1])
        .crossJoin(parts[2])
        .crossJoin(parts[3])
        .select(F.concat_ws(" ", "a", "b", "c", "d").alias("kw"))
        .orderBy(F.md5(F.encode(F.col("kw"), "utf-8")), F.col("kw"))
        .limit(5000)
    )


def _kw5k_phrases(spark: SparkSession, sf_dir: str) -> list[str]:
    """The 5000-phrase keyword dim, memoized per sf_dir: the reference
    loads its keyword file once per run, and this is the same bounded
    driver state (5k short strings) — regenerating the 4-gram sample
    per call would re-pay the 4-gram build job every invocation."""
    if sf_dir not in _KW5K_CACHE:
        _KW5K_CACHE[sf_dir] = [
            r.kw for r in _kw5k_phrase_frame(spark, sf_dir).collect()
        ]
    return _KW5K_CACHE[sf_dir]


@q(
    "f2_keyword_substring_5k",
    f"""
    WITH v AS (SELECT DISTINCT unnest({_TOKS2}) AS tok FROM documents),
    vc AS (SELECT tok FROM v ORDER BY md5(tok), tok LIMIT {KW5K_VOCAB_CAP}),
    p AS (
      SELECT a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok AS kw
      FROM vc a, vc b, vc c, vc d
    ),
    kws AS (SELECT kw FROM p ORDER BY md5(kw), kw LIMIT 5000)
    SELECT d.doc_id,
           EXISTS (SELECT 1 FROM kws k WHERE contains(lower(d.text), k.kw))
             AS matched
    FROM documents d
    """,
)
def f2_keyword_substring_5k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import keyword_match as KM

    docs = t(spark, sf_dir, "documents")
    kws = _kw5k_phrases(spark, sf_dir)  # bounded keyword dim
    if not kws:  # empty vocabulary -> EXISTS over zero phrases is false
        return docs.select("doc_id", F.lit(False).alias("matched"))
    assert len(kws) >= KM.AHOCORASICK_THRESHOLD  # must exercise the AC path
    return docs.select(
        "doc_id", KM.auto_contains_any(["text"], kws).alias("matched")
    )


# =============================================================================
# Large-keyword-set WORD-BOUNDARY match — the \b(...)\b semantics of
# matches_any_word at 5000 patterns, via the Aho-Corasick automaton
# with per-match boundary checks (auto_matches_any_word dispatches to
# it above the threshold). Same memoized 4-gram phrase dim as the
# substring twin; the discriminating cases are phrases whose first
# token is a suffix of a longer corpus token (substring hit, boundary
# miss). Oracle: the corpus is single-space [a-z ] text (asserted by
# the whitespace/charset audit in RESULTS), so \b-bounded phrase match
# is exactly padded-space substring containment — no per-pair regex
# compilation in DuckDB.
# =============================================================================
@q(
    "f3_keyword_word_5k",
    f"""
    WITH v AS (SELECT DISTINCT unnest({_TOKS2}) AS tok FROM documents),
    vc AS (SELECT tok FROM v ORDER BY md5(tok), tok LIMIT {KW5K_VOCAB_CAP}),
    p AS (
      SELECT a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok AS kw
      FROM vc a, vc b, vc c, vc d
    ),
    kws AS (SELECT kw FROM p ORDER BY md5(kw), kw LIMIT 5000)
    SELECT d.doc_id,
           EXISTS (SELECT 1 FROM kws k
                   WHERE contains(' ' || lower(trim(d.text)) || ' ',
                                  ' ' || k.kw || ' '))
             AS matched
    FROM documents d
    """,
)
def f3_keyword_word_5k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import keyword_match as KM

    docs = t(spark, sf_dir, "documents")
    kws = _kw5k_phrases(spark, sf_dir)
    if not kws:  # empty vocabulary -> EXISTS over zero phrases is false
        return docs.select("doc_id", F.lit(False).alias("matched"))
    assert len(kws) >= KM.AHOCORASICK_THRESHOLD  # must exercise the AC path
    return docs.select(
        "doc_id", KM.auto_matches_any_word(["text"], kws).alias("matched")
    )
