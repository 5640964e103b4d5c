"""The graded query registry: every implemented operator from SURVEY §2
(plus the LLM-data-pipeline layer) as a (PySpark builder, DuckDB oracle
SQL) pair. The driver hash-matches them at sf=0.01.

Conventions for cross-engine hash equality:
- every computed column is aliased identically on both sides;
- doubles that aggregate are rounded (2-6 dp) on both sides;
- counts/ids are BIGINT on both sides (DuckDB hugeint sums cast down);
- timestamps compared as native timestamps (session TZ pinned to UTC);
- rankings always carry a deterministic tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.functions.datetime_funcs import (
    GERMAN_MONTHS,
    dotted_date_to_iso,
    german_date_to_iso,
    lenient_timestamp,
)
from social_and_media_data_ingestion_spark.operators import dedup as D
from social_and_media_data_ingestion_spark.operators import filters as FL
from social_and_media_data_ingestion_spark.operators import keyword_match as KM
from social_and_media_data_ingestion_spark.operators import projections as PR
from social_and_media_data_ingestion_spark.operators import similarity as SIM
from social_and_media_data_ingestion_spark.operators import text_analysis as TA
from social_and_media_data_ingestion_spark.plans.tables import (
    t,
    vectors,
)
from social_and_media_data_ingestion_spark.session import pin


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> rows-only check (non-SQL-expressible)


REGISTRY: list[QueryDef] = []


def q(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY.append(QueryDef(name, fn, oracle))
        return fn

    return deco


# Shared plan-time literals ----------------------------------------------------
FLAGSHIP_SOURCES = ["src0", "src1"]
FLAGSHIP_KEYWORDS = ["spark", "vector"]
# 'par' shows the substring-vs-word-boundary split: substring hits 'part',
# word-boundary does not (SURVEY §7 hard part #1).
SEMANTIC_KEYWORDS = ["par", "stream"]

# DuckDB fragment: whitespace tokens of lowercased text
_TOKS = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"


# =============================================================================
# Flagship — reference Reddit submission extraction recast (SURVEY §3.1):
# broadcast semi-join on lowered dim + substring keyword filter + defaulted
# projection. Ref: reddit_subm_extraction.py:52-59,88. Shuffle-free map plan.
# =============================================================================
@q(
    "flagship_submission_extract",
    f"""
    SELECT doc_id,
           coalesce(CAST(text AS VARCHAR), '')   AS text,
           coalesce(CAST(lang AS VARCHAR), '')   AS lang,
           coalesce(CAST(source AS VARCHAR), '') AS source
    FROM documents
    WHERE lower(source) IN ({",".join(repr(s) for s in FLAGSHIP_SOURCES)})
      AND regexp_matches(lower(text), '{KM.substring_any_pattern(FLAGSHIP_KEYWORDS)}')
    """,
)
def flagship_submission_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    dim = spark.createDataFrame([(s,) for s in FLAGSHIP_SOURCES], ["src"])
    filtered = FL.semi_join_lowered(docs, "source", dim, "src").filter(
        KM.contains_any(["text"], FLAGSHIP_KEYWORDS)
    )
    return PR.project_fields_defaulted(
        filtered, ["text", "lang", "source"], keep=["doc_id"]
    )


# =============================================================================
# P1 — fixed-field projection, missing field -> "" column
# =============================================================================
@q(
    "p1_project_defaults",
    """
    SELECT doc_id,
           coalesce(CAST(text AS VARCHAR), '') AS text,
           coalesce(CAST(lang AS VARCHAR), '') AS lang,
           '' AS missing_field
    FROM documents
    """,
)
def p1_project_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return PR.project_fields_defaulted(
        docs, ["text", "lang", "missing_field"], keep=["doc_id"]
    )


# =============================================================================
# P4 — derived concat column with URL stripping
# (ref parser_media_articles.py:83). URLs synthesized deterministically so
# the strip is observable.
# =============================================================================
@q(
    "p4_concat_strip_urls",
    """
    SELECT doc_id,
           coalesce(regexp_replace('see https://ex.com/' || CAST(doc_id AS VARCHAR) || ' ok', 'https?://\\S+', '', 'g'), '')
           || chr(10)
           || coalesce(regexp_replace(text, 'https?://\\S+', '', 'g'), '') AS text1
    FROM documents
    """,
)
def p4_concat_strip_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    title = F.concat(
        F.lit("see https://ex.com/"), F.col("doc_id").cast("string"), F.lit(" ok")
    )
    return docs.select(
        "doc_id", PR.concat_title_text(title, F.col("text")).alias("text1")
    )


# =============================================================================
# P5 — nested-array head extraction with ""-default
# (ref tweet_download.py:37-40). Array-of-struct synthesized from doc_id.
# =============================================================================
@q(
    "p5_nested_head",
    """
    WITH d AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 3 = 0 THEN [{'type': 'retweeted', 'id': CAST(doc_id AS VARCHAR)}]
               WHEN doc_id % 3 = 1 THEN [{'type': 'quoted', 'id': CAST(doc_id AS VARCHAR)},
                                         {'type': 'replied_to', 'id': CAST(doc_id + 1 AS VARCHAR)}]
               ELSE []::STRUCT("type" VARCHAR, id VARCHAR)[]
             END AS refs
      FROM documents
    )
    SELECT doc_id,
           coalesce(refs[1]."type", '') AS ref_type,
           coalesce(refs[1].id, '')     AS ref_id
    FROM d
    """,
)
def p5_nested_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    mk = lambda ty, idc: F.struct(F.lit(ty).alias("type"), idc.cast("string").alias("id"))
    refs = (
        F.when(F.col("doc_id") % 3 == 0, F.array(mk("retweeted", F.col("doc_id"))))
        .when(
            F.col("doc_id") % 3 == 1,
            F.array(mk("quoted", F.col("doc_id")), mk("replied_to", F.col("doc_id") + 1)),
        )
        .otherwise(F.array().cast("array<struct<type:string,id:string>>"))
    )
    d = docs.select("doc_id", refs.alias("refs"))
    return d.select(
        "doc_id",
        PR.nested_array_head("refs", "type").alias("ref_type"),
        PR.nested_array_head("refs", "id").alias("ref_id"),
    )


# =============================================================================
# F2 — substring any-match (NO word boundary): 'par' matches 'part'
# (ref reddit_subm_extraction.py:57-59)
# =============================================================================
@q(
    "f2_keyword_substring",
    f"""
    SELECT doc_id
    FROM documents
    WHERE regexp_matches(lower(text), '{KM.substring_any_pattern(SEMANTIC_KEYWORDS)}')
    """,
)
def f2_keyword_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return KM.filter_keyword_substring(docs, ["text"], SEMANTIC_KEYWORDS).select("doc_id")


# =============================================================================
# F3 — word-boundary regex match: 'par' does NOT match 'part'
# (ref parser_media_articles.py:73-76)
# =============================================================================
@q(
    "f3_keyword_word_boundary",
    rf"""
    SELECT doc_id
    FROM documents
    WHERE regexp_matches(text, '{KM.word_boundary_pattern(SEMANTIC_KEYWORDS)}')
    """,
)
def f3_keyword_word_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return KM.filter_keyword_word(docs, ["text"], SEMANTIC_KEYWORDS).select("doc_id")


# =============================================================================
# F4 — date-range filter (ref reddit_image_scraper.py:15-16,56-57)
# =============================================================================
@q(
    "f4_date_range",
    """
    SELECT event_id, ts
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-01 06:00:00' AND TIMESTAMP '2024-01-02 00:00:00'
    """,
)
def f4_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        FL.date_range("ts", "2024-01-01 06:00:00", "2024-01-02 00:00:00")
    ).select("event_id", "ts")


# =============================================================================
# F5 — lenient timestamp parse (null-on-fail) + null-drop
# (ref reddit_image_scraper.py:56-58)
# =============================================================================
@q(
    "f5_lenient_parse_null_drop",
    """
    WITH d AS (
      SELECT doc_id,
             try_cast(CASE WHEN doc_id % 5 = 0 THEN 'not-a-date'
                           ELSE '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' 00:00:00'
                      END AS TIMESTAMP) AS created
      FROM documents
    )
    SELECT doc_id, created FROM d WHERE created IS NOT NULL
    """,
)
def f5_lenient_parse_null_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    raw = F.when(F.col("doc_id") % 5 == 0, F.lit("not-a-date")).otherwise(
        F.concat(
            F.lit("2024-01-"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            F.lit(" 00:00:00"),
        )
    )
    d = docs.select("doc_id", lenient_timestamp(raw).alias("created"))
    return FL.drop_null_rows(d, ["created"])


# =============================================================================
# F6 — URL-shape predicate (image extension | imgur)
# (ref reddit_image_scraper.py:26-27); URLs synthesized from doc_id
# =============================================================================
@q(
    "f6_url_shape",
    r"""
    WITH d AS (
      SELECT doc_id,
             'http://ex.com/i/' || CAST(doc_id AS VARCHAR) ||
             CASE WHEN doc_id % 5 = 0 THEN '.JPG'
                  WHEN doc_id % 5 = 1 THEN '.png'
                  WHEN doc_id % 5 = 2 THEN '.html'
                  WHEN doc_id % 5 = 3 THEN '' ELSE '.gif' END AS url
      FROM documents
    ),
    d2 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'https://imgur.com/x' || CAST(doc_id AS VARCHAR) ELSE url END AS url FROM d)
    SELECT doc_id, url FROM d2
    WHERE regexp_matches(lower(url), '\.(jpg|jpeg|png|gif)$') OR contains(lower(url), 'imgur.com')
    """,
)
def f6_url_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    ext = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(".JPG"))
        .when(F.col("doc_id") % 5 == 1, F.lit(".png"))
        .when(F.col("doc_id") % 5 == 2, F.lit(".html"))
        .when(F.col("doc_id") % 5 == 3, F.lit(""))
        .otherwise(F.lit(".gif"))
    )
    url = F.concat(F.lit("http://ex.com/i/"), F.col("doc_id").cast("string"), ext)
    url = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("https://imgur.com/x"), F.col("doc_id").cast("string")),
    ).otherwise(url)
    d = docs.select("doc_id", url.alias("url"))
    return d.filter(FL.is_image_url("url"))


# =============================================================================
# F7 + scalar regexp_extract_all — matched-terms array, non-empty filter
# (ref parser_media_articles.py:87,103)
# =============================================================================
@q(
    "f7_terms_extract",
    rf"""
    WITH d AS (
      SELECT doc_id,
             regexp_extract_all(text, '{KM.word_boundary_pattern(FLAGSHIP_KEYWORDS)}', 1) AS terms_arr
      FROM documents
    )
    SELECT doc_id, array_to_string(terms_arr, ',') AS terms, len(terms_arr)::BIGINT AS n_terms
    FROM d WHERE len(terms_arr) > 0
    """,
)
def f7_terms_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", KM.extract_matched_terms("text", FLAGSHIP_KEYWORDS).alias("terms_arr")
    )
    return d.filter(FL.non_empty_array("terms_arr")).select(
        "doc_id",
        F.array_join("terms_arr", ",").alias("terms"),
        F.size("terms_arr").cast("long").alias("n_terms"),
    )


# =============================================================================
# J1 — semi-join set-membership (ref reddit_subm_extraction.py:53-55)
# =============================================================================
@q(
    "j1_semi_join",
    """
    SELECT c_custkey FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 2))
    """,
)
def j1_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    dim = t(spark, sf_dir, "nation").filter(F.col("n_regionkey").isin(0, 2))
    return cust.join(
        F.broadcast(dim), cust.c_nationkey == dim.n_nationkey, "left_semi"
    ).select("c_custkey")


# =============================================================================
# J2 — broadcast FK join chain + agg (tweets<->users analog on TPC-H dims)
# =============================================================================
@q(
    "j2_fk_join_agg",
    """
    SELECT n_name,
           round(sum(o_totalprice), 2) AS revenue,
           count(*)::BIGINT AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def j2_fk_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


# =============================================================================
# J3 — self-join (comment-tree analog: next line item of the same order)
# (ref reddit_comm_extraction.py:10 id/parent_id schema)
# =============================================================================
@q(
    "j3_self_join_next_line",
    """
    SELECT a.l_orderkey AS l_orderkey,
           a.l_linenumber AS l_linenumber,
           b.l_quantity AS next_qty
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
    """,
)
def j3_self_join_next_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.alias("a")
    b = li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") + 1 == F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("l_linenumber"),
        F.col("b.l_quantity").alias("next_qty"),
    )


# =============================================================================
# A2 — keep-first exact dedup (deterministic: min id per text)
# (ref parser_media_articles.py:84)
# =============================================================================
@q(
    "a2_dedup_keep_first",
    """
    SELECT min(doc_id)::BIGINT AS doc_id, text FROM documents GROUP BY text
    """,
)
def a2_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return D.exact_dedup_keep_first(docs, "text", "doc_id")


# =============================================================================
# A3 — last-wins dedup via window (ref tweet_download.py:50-52)
# =============================================================================
@q(
    "a3_keep_latest",
    """
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def a3_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return D.keep_latest(ev, "user_id", "ts", "event_id").select(
        "user_id", "event_id", "event_type"
    )


# =============================================================================
# A4 — distinct dimension values, lowered (ref reddit_subm_extraction.py:23-24)
# =============================================================================
@q(
    "a4_distinct_dim",
    "SELECT DISTINCT lower(source) AS source FROM documents WHERE source IS NOT NULL",
)
def a4_distinct_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(F.lower("source").alias("source")).na.drop().distinct()


# =============================================================================
# A6 — max high-watermark (ref tweet_download.py:91, made order-independent)
# =============================================================================
@q("a6_max_watermark", "SELECT max(ts) AS max_ts, count(*)::BIGINT AS n FROM events")
def a6_max_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.agg(F.max("ts").alias("max_ts"), F.count("*").alias("n"))


# =============================================================================
# Aggregations — TPC-H Q1 shape (SURVEY §2.5 extension layer)
# =============================================================================
@q(
    "agg_pricing_summary",
    """
    WITH q AS (
      SELECT l_returnflag, l_linestatus,
             floor(l_quantity * 100 + 0.5)::BIGINT AS qty_c,
             floor(l_extendedprice * 100 + 0.5)::BIGINT AS price_c,
             floor(l_discount * 100 + 0.5)::BIGINT AS disc_c
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           sum(qty_c)::DOUBLE / 100    AS sum_qty,
           sum(price_c)::DOUBLE / 100  AS sum_base_price,
           floor(sum(price_c * (100 - disc_c))::DOUBLE / 100 + 0.5) / 100
             AS sum_disc_price,
           floor(sum(qty_c)::DOUBLE / 100 / count(*) * 10000 + 0.5) / 10000
             AS avg_qty,
           floor(sum(price_c)::DOUBLE / 100 / count(*) * 10000 + 0.5) / 10000
             AS avg_price,
           floor(sum(disc_c)::DOUBLE / 100 / count(*) * 10000 + 0.5) / 10000
             AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM q
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantize-then-sum (SCALE.md §4): every measure is fixed to its
    exact decimal scale per ROW (2dp prices/qty/discount are cents
    exactly; price·(1−disc) is price_c·(100−disc_c) — value·10⁴ as a
    PURE-INTEGER product, no double multiply at all), so the group
    sums are exact integers and partial-sum ORDER cannot move the
    rounded cent. The r7 duplicate-rows probe caught the old
    sum-doubles-then-round spelling flipping last digits run-to-run;
    DECIMAL(38,0) accumulation mirrors DuckDB's BIGINT→HUGEINT
    promotion so both engines stay exact at any scale factor."""
    li = t(spark, sf_dir, "lineitem")
    qty_c = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")
    price_c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    disc_c = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")

    def _dsum(col):
        return F.sum(col.cast("decimal(38,0)")).cast("double")

    q = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        qty_c.alias("qty_c"),
        price_c.alias("price_c"),
        disc_c.alias("disc_c"),
    )
    # final rounding is the floor(x·10^dp + 0.5) convention, NOT
    # round(): Spark's ROUND on a double rounds the SHORTEST decimal
    # repr while DuckDB rounds the binary value — on an exact-half
    # boundary (which exact integer sums now actually hit) they split.
    # Accumulator widths: the plain-cents sums stay LONG (int64 holds
    # 6e11 rows × 1e7 cents with 6× headroom at 100 TB; measured ~2×
    # faster than Spark's 128-bit decimal agg path) — only the
    # value·10⁴ disc-price sum (~1e9/row → 6e20 at 100 TB) genuinely
    # needs DECIMAL(38,0).
    n = F.count("*")

    def _f(x, dp):
        s = 10 ** dp
        return F.floor(x * s + F.lit(0.5)) / s

    sum_qty_c = F.sum("qty_c").cast("double")
    sum_price_c = F.sum("price_c").cast("double")
    sum_disc_c = F.sum("disc_c").cast("double")
    return (
        q.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (sum_qty_c / 100).alias("sum_qty"),
            (sum_price_c / 100).alias("sum_base_price"),
            (
                F.floor(
                    _dsum(F.col("price_c") * (100 - F.col("disc_c"))) / 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("sum_disc_price"),
            _f(sum_qty_c / 100 / n, 4).alias("avg_qty"),
            _f(sum_price_c / 100 / n, 4).alias("avg_price"),
            _f(sum_disc_c / 100 / n, 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# =============================================================================
# Rollup aggregation (grouping-sets family)
# =============================================================================
@q(
    "agg_rollup_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           -- quantize-then-sum integer cents (r13 fuzz): the raw
           -- round(sum(double), 2) spelling flipped a cent whenever the
           -- float sum straddled a half-cent — which run-to-run partial
           -- ordering moves across the boundary
           (sum(floor(l_extendedprice * 100 + 0.5)::HUGEINT))::DOUBLE / 100
             AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg((F.sum(cents).cast("double") / 100).alias("revenue"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
        )
    )


# =============================================================================
# Window — top-k per group with deterministic tie-break
# =============================================================================
@q(
    "window_topk_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)::BIGINT AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# =============================================================================
# Set op — union by name (ref parser_media_articles.py:81,97,113 pd.concat)
# =============================================================================
@q(
    "union_events_orders",
    """
    SELECT event_id AS id, ts, 'event' AS kind FROM events
    UNION ALL
    SELECT o_orderkey AS id, o_orderdate AS ts, 'order' AS kind FROM orders
    """,
)
def union_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"), F.col("ts"), F.lit("event").alias("kind")
    )
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderdate").alias("ts"),
        F.lit("order").alias("kind"),
    )
    return ev.unionByName(orders)


# =============================================================================
# Scalars — epoch round-trip + date formatting (SURVEY §2.7)
# =============================================================================
@q(
    "scalar_datetime_roundtrip",
    """
    SELECT event_id,
           floor(date_part('epoch', ts))::BIGINT AS epoch_s,
           to_timestamp(floor(date_part('epoch', ts))::BIGINT)::TIMESTAMP AS ts_trunc,
           strftime(ts, '%Y-%m-%d') AS day_str
    FROM events
    """,
)
def scalar_datetime_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FLOOR-based epoch seconds, not unix_timestamp: Spark's
    # unix_timestamp truncates toward zero, so a PRE-EPOCH timestamp
    # with a fractional second maps one second late (and its roundtrip
    # lands after the actual instant). Unix convention — and the
    # oracle's floor(date_part('epoch', ts)) — is the floor, so the
    # epoch is derived from exact integer micros with an explicit
    # floor-division correction (found by the r11 temporal-extremes
    # harness; div truncates and % follows the dividend in Spark SQL).
    ev = t(spark, sf_dir, "events")
    epoch = F.expr(
        "unix_micros(ts) div 1000000 "
        "- CASE WHEN unix_micros(ts) % 1000000 < 0 THEN 1 ELSE 0 END"
    )
    return ev.select(
        "event_id",
        epoch.alias("epoch_s"),
        F.timestamp_seconds(epoch).alias("ts_trunc"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
    )


# =============================================================================
# Scalar — dotted German date dd.mm.yyyy -> ISO via backref regexp_replace
# (ref parser_media_articles.py:15)
# =============================================================================
@q(
    "scalar_dotted_date",
    r"""
    SELECT event_id,
           regexp_replace(strftime(ts, '%d.%m.%Y'), '(\d{2})\.(\d{2})\.(\d{4})', '\3-\2-\1') AS iso_date
    FROM events
    """,
)
def scalar_dotted_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    dotted = F.date_format("ts", "dd.MM.yyyy")
    return ev.select("event_id", dotted_date_to_iso(dotted).alias("iso_date"))


# =============================================================================
# Scalar — German month-name date -> ISO (explicit map, zero-padded day)
# (ref parser_media_articles.py:25-26,35-38)
# =============================================================================
_GM_CASE = " ".join(
    f"WHEN {i} THEN '{name}'" for i, name in enumerate(GERMAN_MONTHS, start=1)
)


@q(
    "scalar_german_date",
    f"""
    WITH d AS (
      SELECT event_id,
             CAST(day(ts) AS VARCHAR) || '. ' ||
             (CASE month(ts) {_GM_CASE} END) || ' ' ||
             CAST(year(ts) AS VARCHAR) AS de_date,
             strftime(ts, '%Y-%m-%d') AS expect
      FROM events
    )
    SELECT event_id, expect AS iso_date FROM d
    """,
)
def scalar_german_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    month_name = F.element_at(
        F.array(*[F.lit(m) for m in GERMAN_MONTHS]), F.month("ts")
    )
    de_date = F.concat(
        F.dayofmonth("ts").cast("string"),
        F.lit(". "),
        month_name,
        F.lit(" "),
        F.year("ts").cast("string"),
    )
    return ev.select("event_id", german_date_to_iso(de_date).alias("iso_date"))


# =============================================================================
# LLM layer — exact dedup by normalized md5 fingerprint
# =============================================================================
@q(
    "dedup_fingerprint",
    r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
           min(doc_id)::BIGINT AS doc_id,
           count(*)::BIGINT AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return D.exact_dedup_by_fingerprint(docs, "text", "doc_id")


# =============================================================================
# LLM layer — rolling-hash document fingerprint (pure integer arithmetic)
# =============================================================================
@q(
    "text_rolling_fingerprint",
    r"""
    WITH d AS (
      SELECT doc_id,
             list_transform(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
                            x -> ascii(x)::BIGINT) AS cs
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(cs) = 0 THEN 0
                ELSE list_reduce(cs, (acc, x) -> (acc * 31 + x) % 1000000007)
           END::BIGINT AS fp
    FROM d
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", TA.rolling_fingerprint("text").alias("fp"))


# =============================================================================
# LLM layer — token counting (whitespace + BPE-ish regex)
# =============================================================================
@q(
    "text_token_counts",
    rf"""
    SELECT doc_id,
           len({_TOKS})::BIGINT AS n_tokens_ws,
           len(regexp_extract_all(text, '{TA.BPE_ISH_PATTERN}'))::BIGINT AS n_tokens_bpe
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TA.ws_token_count("text").cast("long").alias("n_tokens_ws"),
        TA.bpe_ish_token_count("text").cast("long").alias("n_tokens_bpe"),
    )


# =============================================================================
# LLM layer — language-ID heuristic (stopword argmax)
# =============================================================================
def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TA.STOPWORDS[lang])
    # coalesce: a NULL text must score 0 hits, not NULL — NULL hit
    # counts make every CASE comparison NULL and the argmax falls
    # through to the ELSE language, silently classifying NULL text as
    # 'fr' while the Spark side's when-chain yields 'unk' (found by the
    # r7 null-riddled-tables harness; the generated testdata has no
    # NULL texts, so the oracle gate alone never exposed it)
    return (
        f"coalesce(len(list_filter(string_split_regex(lower(text), '\\s+'), "
        f"x -> list_contains([{words}], x))), 0)"
    )


@q(
    "text_language_id",
    f"""
    WITH h AS (
      SELECT doc_id,
             {_lang_hits_sql("en")} AS h_en,
             {_lang_hits_sql("de")} AS h_de,
             {_lang_hits_sql("es")} AS h_es,
             {_lang_hits_sql("fr")} AS h_fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(h_en, h_de, h_es, h_fr) = 0 THEN 'unk'
                WHEN h_en = greatest(h_en, h_de, h_es, h_fr) THEN 'en'
                WHEN h_de = greatest(h_en, h_de, h_es, h_fr) THEN 'de'
                WHEN h_es = greatest(h_en, h_de, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM h
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", TA.language_id("text").alias("lang_pred"))


# =============================================================================
# LLM layer — quality score
# =============================================================================
_SW_EN = ", ".join(f"'{w}'" for w in TA.STOPWORDS["en"])


@q(
    "text_quality_score",
    rf"""
    WITH d AS (
      SELECT doc_id,
             len({_TOKS})::DOUBLE AS n_tok,
             len(list_filter(string_split_regex(lower(text), '\s+'), x -> list_contains([{_SW_EN}], x)))::DOUBLE AS sw,
             length(text) AS n,
             length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS punct
      FROM documents
    )
    SELECT doc_id,
           round(
             least(n_tok / 50.0, 1.0) * 0.4
             + least(CASE WHEN n_tok > 0 THEN sw / n_tok ELSE 0.0 END * 5.0, 1.0) * 0.4
             + (1.0 - least(CASE WHEN n > 0 THEN punct::DOUBLE / n ELSE 0.0 END * 2.0, 1.0)) * 0.2,
           6) AS quality
    FROM d
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", TA.quality_score("text").alias("quality"))


# =============================================================================
# LLM layer — MinHash signatures. Map-only on both engines: token hash =
# polynomial rolling hash (pure integer arithmetic), h_i = min over
# shingles of the universal hash family.
# =============================================================================
_MINHASH_N = 3
_MINHASH_K = 8
_SHINGLE_SQL = (
    "list_transform(range(greatest(len(toks) - 2, 0)), "
    "i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])"
)
_POLYHASH_SQL = (
    "list_transform({arr}, s -> list_reduce("
    "list_transform(string_split(s, ''), x -> ascii(x)::BIGINT), "
    "(acc, x) -> (acc * 31 + x) % 1000000007))"
)
_HASH_MINS = ", ".join(
    f"list_min(list_transform(hs, x -> ({a} * x + {b}) % 2147483647)) AS h{i}"
    for i, (a, b) in enumerate(D._HASH_AB[:_MINHASH_K])
)


@q(
    "dedup_minhash_signatures",
    f"""
    WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    hashed AS (
      SELECT doc_id AS id, {_POLYHASH_SQL.format(arr=_SHINGLE_SQL)} AS hs FROM docs
    ),
    sigs AS (SELECT id, {_HASH_MINS} FROM hashed)
    SELECT id,
           -- coalesce: an unshingleable doc (< n tokens / NULL text)
           -- has all-NULL min-hashes; Spark's array_join skips nulls
           -- and yields '', DuckDB's array_to_string yields NULL —
           -- '' on both is the aligned "no signature" spelling
           coalesce(
             array_to_string([{", ".join(f"h{i}" for i in range(_MINHASH_K))}], ','),
             '') AS sig
    FROM sigs
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=_MINHASH_N, num_hashes=_MINHASH_K)
    return sigs.select("id", F.array_join("sig", ",").alias("sig"))


# =============================================================================
# LLM layer — MinHash-LSH candidate pairs (banded buckets, unigram shingles
# so the tiny synthetic vocabulary actually produces candidates)
# =============================================================================
_LSH_BANDS = 4
_LSH_ROWS = 2
_LSH_BUCKETS = ", ".join(
    "(" + " || '_' || ".join(f"CAST(h{b * _LSH_ROWS + r} AS VARCHAR)" for r in range(_LSH_ROWS)) + f") AS bucket{b}"
    for b in range(_LSH_BANDS)
)


@q(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 300),
    hashed AS (
      SELECT doc_id AS id, {_POLYHASH_SQL.format(arr="toks")} AS hs FROM docs
    ),
    sigs AS (SELECT id, {_HASH_MINS} FROM hashed),
    banded AS (SELECT id, {_LSH_BUCKETS} FROM sigs),
    longf AS (
      {" UNION ALL ".join(f"SELECT id, {b} AS band, bucket{b} AS bucket FROM banded" for b in range(_LSH_BANDS))}
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM longf a JOIN longf b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=1, num_hashes=_MINHASH_K)
    return D.minhash_lsh_candidates(sigs, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)


# =============================================================================
# LLM layer — exact n-gram Jaccard near-dup pairs (inverted-index join)
# =============================================================================
@q(
    "dedup_ngram_jaccard",
    f"""
    WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 300),
    sh AS (SELECT DISTINCT doc_id AS id, unnest(toks) AS shingle FROM docs),
    sizes AS (SELECT id, count(*)::BIGINT AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.75
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.75)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# =============================================================================
# LLM layer — SimHash signatures (12-bit, universal-hash bit planes)
# =============================================================================
_SIMHASH_BITS = 12
_SIM_SUMS = ", ".join(
    f"list_sum(list_transform(hs, x -> (({a} * x + {b}) % 2147483647) % 2 * 2 - 1)) AS s{j}"
    for j, (a, b) in enumerate(D._HASH_AB[:_SIMHASH_BITS])
)
_SIM_BITS = " + ".join(
    f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(_SIMHASH_BITS)
)


@q(
    "dedup_simhash",
    f"""
    WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    hashed AS (
      SELECT doc_id AS id, {_POLYHASH_SQL.format(arr="toks")} AS hs FROM docs
    ),
    s AS (SELECT id, {_SIM_SUMS} FROM hashed)
    SELECT id, ({_SIM_BITS})::BIGINT AS simhash FROM s
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text", bits=_SIMHASH_BITS).select(
        "id", F.col("simhash").cast("long").alias("simhash")
    )


# =============================================================================
# LLM layer — brute-force cosine top-k similarity search
# =============================================================================
@q(
    "sim_cosine_topk",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM valid_embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS nid, embedding AS ce FROM valid_embeddings),
    s AS (
      SELECT qid AS query_id, nid AS neighbor_id,
             list_sum(list_transform(range(len(qe)), i -> qe[i+1]::DOUBLE * ce[i+1]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(len(qe)), i -> qe[i+1]::DOUBLE * qe[i+1]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(len(ce)), i -> ce[i+1]::DOUBLE * ce[i+1]::DOUBLE)))) AS cos
      FROM c, q WHERE nid <> qid
    ),
    r AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank
      FROM s
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank FROM r WHERE rank <= 5
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    res = SIM.cosine_topk(emb, queries, k=5)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


# =============================================================================
# Streaming-shape analytics — tumbling-window aggregate over events
# (batch spelling of the Structured Streaming windowed agg; SURVEY §2.9)
# =============================================================================
@q(
    "events_windowed_agg",
    """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value
    FROM events
    -- time-semantics contract (r13 fuzz): Spark's native window()
    -- silently DROPS NULL-ts rows while time_bucket(NULL) kept a NULL
    -- bucket here — unknown-time rows are excluded explicitly on both
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


# =============================================================================
# Sessionization — 30-min-gap sessions per user (lag + cumulative sum)
# =============================================================================
@q(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      -- time-semantics contract (r13 fuzz): sessions over unknown-time
      -- rows are ill-defined; excluded on both engines
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
    FROM g GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # microsecond gap, like the oracle's INTERVAL compare: a long cast
    # floors to whole seconds, and a 1800.3 s gap would read as 1800
    new_session = F.when(
        prev.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev) > 1_800_000_000),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# =============================================================================
# Multi-join analytics — TPC-H Q3/Q5 shapes (bench headliners)
# =============================================================================
@q(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@q(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # customer/supplier scale WITH the data, so they carry no broadcast
    # hint: below autoBroadcastJoinThreshold the planner broadcasts them
    # anyway (plan-guarded at test SF), and at 100x customer AQE degrades
    # to a shuffle join instead of OOMing on a forced broadcast. Only the
    # fixed-cardinality dims (nation: 25 rows, region: 5) keep the hint.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# =============================================================================
# J4 — anti join (NOT EXISTS)
# =============================================================================
@q(
    "j4_anti_join",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def j4_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey")


# =============================================================================
# J5 — as-of semantics: for every event, the most recent prior-or-same
# 'login' time of the same user (carry-forward window — the shuffle-light
# spelling of an as-of join against the login sub-stream)
# =============================================================================
@q(
    "j5_asof_last_login",
    """
    SELECT event_id,
           last_value(CASE WHEN event_type = 'login' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_login_ts
    FROM events
    """,
)
def j5_asof_last_login(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    login_ts = F.when(F.col("event_type") == "login", F.col("ts"))
    return ev.select(
        "event_id", F.last(login_ts, ignorenulls=True).over(w).alias("last_login_ts")
    )


# =============================================================================
# J6 — range (band) join: orders binned into price bands
# =============================================================================
_BANDS = [(0.0, 1000.0, "small"), (1000.0, 5000.0, "mid"), (5000.0, 1e9, "large")]


@q(
    "j6_range_band_join",
    f"""
    WITH bands(lo, hi, band) AS (VALUES
      {", ".join(f"({lo}, {hi}, '{nm}')" for lo, hi, nm in _BANDS)})
    SELECT o_orderkey, band
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    """,
)
def j6_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, ["lo", "hi", "band"])
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .select("o_orderkey", "band")
    )


# =============================================================================
# Set ops — INTERSECT / EXCEPT
# =============================================================================
@q(
    "setop_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@q(
    "setop_except",
    """
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return o.subtract(c)  # EXCEPT (set semantics)


# =============================================================================
# Pivot — wide aggregation by line status
# =============================================================================
@q(
    "pivot_lineitem_status",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return p.select(
        "l_returnflag",
        F.coalesce("O", F.lit(0.0)).alias("qty_O"),
        F.coalesce("F", F.lit(0.0)).alias("qty_F"),
    )


# =============================================================================
# Cube — all grouping-set combinations
# =============================================================================
@q(
    "agg_cube_revenue",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           -- quantize-then-sum integer cents (r13 fuzz seed 1014): the
           -- raw round(sum(double), 2) spelling flips a cent whenever
           -- the float sum straddles a half-cent — which run-to-run
           -- partial ordering moves across the boundary
           (sum(floor(o_totalprice * 100 + 0.5)::HUGEINT))::DOUBLE / 100
             AS revenue,
           count(*)::BIGINT AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.sum(cents).cast("double") / 100).alias("revenue"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "revenue",
            "n",
        )
    )


# =============================================================================
# HAVING — post-aggregation filter
# =============================================================================
@q(
    "agg_having_big_customers",
    """
    SELECT o_custkey, count(*)::BIGINT AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 12
    """,
)
def agg_having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .filter(F.col("n_orders") >= 12)
    )


# =============================================================================
# Scalar subquery — orders above the global average price
# =============================================================================
@q(
    "subquery_above_avg",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders_v
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_v)
        """
    )


# =============================================================================
# Distinct-agg + exact median
# =============================================================================
@q(
    "agg_distinct_stats",
    """
    SELECT count(DISTINCT l_partkey)::BIGINT AS n_parts,
           count(DISTINCT l_suppkey)::BIGINT AS n_supps,
           round(median(l_extendedprice), 4) AS median_price
    FROM lineitem
    """,
)
def agg_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
    )


# =============================================================================
# Scalar string-function family
# =============================================================================
@q(
    "scalar_string_funcs",
    """
    SELECT doc_id,
           upper(source) AS src_upper,
           lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_padded,
           substr(text, 1, 10) AS prefix10,
           instr(text, 'spark')::BIGINT AS spark_pos,
           translate(source, 'src', 'SRC') AS src_translated,
           concat_ws('|', source, lang) AS src_lang
    FROM documents
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("source").alias("src_upper"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("id_padded"),
        F.substring("text", 1, 10).alias("prefix10"),
        F.instr(F.col("text"), "spark").cast("long").alias("spark_pos"),
        F.translate("source", "src", "SRC").alias("src_translated"),
        F.concat_ws("|", "source", "lang").alias("src_lang"),
    )


# =============================================================================
# JSON extraction from the events.props column
# =============================================================================
@q(
    "scalar_json_extract",
    """
    SELECT event_id,
           -- try-cast + json_valid guard (r13 differential fuzz): a
           -- props value of '{"k": {"n": ...}}' extracts an OBJECT and
           -- the plain ::BIGINT cast crashed BOTH engines (Spark ANSI
           -- CAST_INVALID_INPUT — one weird JSON row killing a 100 TB
           -- job); DuckDB's json_extract additionally ERRORS on
           -- invalid JSON where Spark's get_json_object returns NULL.
           -- ->> (extract_string) unquotes scalars like Spark does;
           -- verified identical on 8 edge shapes incl. '{"k": "5"}'.
           TRY_CAST((CASE WHEN json_valid(props)
                          THEN props ->> '$.k' END) AS BIGINT) AS k
    FROM events
    """,
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
    )


# =============================================================================
# Embedding vector statistics (array math, JVM-side)
# =============================================================================
@q(
    "emb_vector_stats",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)
    SELECT vec_id,
           len(embedding)::BIGINT AS dim,
           round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 4) AS norm,
           round(list_sum(list_transform(embedding, x -> x::DOUBLE)) / len(embedding), 6) AS mean_val
    FROM valid_embeddings
    """,
)
def emb_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    v_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("norm"),
        F.round(v_sum / F.size("embedding"), 6).alias("mean_val"),
    )


# =============================================================================
# LLM layer — LSH-bucketed ANN (the 100 TB scale path for similarity):
# candidates share a random-hyperplane sign bucket; exact re-rank inside.
# Hyperplanes are pure arithmetic -> oracle-reproducible.
# =============================================================================
@q(
    "sim_lsh_topk",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    b AS (
      SELECT vec_id, embedding,
             {" + ".join(
                 f"(CASE WHEN list_sum(list_transform(range(len(embedding)), "
                 f"i -> embedding[i+1]::DOUBLE * ((({a} * (i + 1) + {b}) % 2147483647)::DOUBLE / 2147483647.0 * 2.0 - 1.0))) > 0 "
                 f"THEN {1 << j} ELSE 0 END)"
                 for j, (a, b) in enumerate(SIM._PLANE_SEEDS[:3])
             )} AS bucket
      FROM valid_embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b WHERE vec_id < 10),
    s AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(len(qe)), i -> qe[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(len(qe)), i -> qe[i+1]::DOUBLE * qe[i+1]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(len(c.embedding)), i -> c.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE)))) AS cos
      FROM b c JOIN q USING (bucket) WHERE c.vec_id <> query_id
    ),
    r AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank
      FROM s
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank FROM r WHERE rank <= 5
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    res = SIM.lsh_bucketed_topk(emb, queries, k=5, planes=3)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


# =============================================================================
# LLM layer — IVF-style ANN. Fully deterministic (centroid seeds = the 8
# lowest vec_ids, argmax assignment with centroid-id tie-break, top-2
# probe, exact re-rank in probed cells), so the whole pipeline has a SQL
# oracle: same centroid/assignment/probe/re-rank steps as CTEs.
# =============================================================================
def _cos2(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(len({a})), i -> {a}[i+1]::DOUBLE * {b}[i+1]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
    )


@q(
    "sim_ivf_topk",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    cent AS (
      -- first 8 VALID vectors by id: the operator seeds with
      -- orderBy(id).limit(k) over the valid-vector frame, so under
      -- the r7 contract 'vec_id < 8' would diverge when low ids are
      -- invalid (null-riddled embeddings harness)
      SELECT vec_id AS centroid_id, embedding AS ce
      FROM valid_embeddings ORDER BY vec_id LIMIT 8
    ),
    assigned AS (
      SELECT neighbor_id, c_vec, centroid_id FROM (
        SELECT neighbor_id, c_vec, centroid_id,
               row_number() OVER (PARTITION BY neighbor_id
                                  ORDER BY cent_sim DESC, centroid_id ASC) AS rn
        FROM (
          SELECT e.vec_id AS neighbor_id, e.embedding AS c_vec, c.centroid_id,
                 {_cos2("e.embedding", "c.ce")} AS cent_sim
          FROM valid_embeddings e CROSS JOIN cent c
        )
      ) WHERE rn = 1
    ),
    probed AS (
      SELECT query_id, q_vec, centroid_id FROM (
        SELECT query_id, q_vec, centroid_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cent_sim DESC, centroid_id ASC) AS rn
        FROM (
          SELECT e.vec_id AS query_id, e.embedding AS q_vec, c.centroid_id,
                 {_cos2("e.embedding", "c.ce")} AS cent_sim
          FROM valid_embeddings e CROSS JOIN cent c
          WHERE e.vec_id < 10
        )
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT query_id, neighbor_id, {_cos2("q_vec", "c_vec")} AS cos
      FROM assigned JOIN probed USING (centroid_id)
      WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
    FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    res = SIM.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


# =============================================================================
# LLM layer — IVF with Lloyd-refined centroids: same probe/re-rank as
# sim_ivf_topk, but the first-8-by-id seeds are refined by 2 k-means
# rounds (assign to max-cosine centroid, recompute element-wise means,
# rounded to 6dp for cross-engine determinism). Better-centered cells
# raise recall at the SAME nprobe — proven by sim_ivf_lloyd_recall vs
# sim_ivf_recall. The oracle unrolls the two Lloyd rounds as CTE pairs.
# =============================================================================
_LLOYD_ITERS = 2


def _lloyd_cte_sql(n_centroids: int, iters: int) -> str:
    """DuckDB CTE chain cent0 -> (a0, cent1) -> ... mirroring
    similarity.lloyd_centroids exactly (argmax assign with centroid-id
    tie-break; element-wise mean rounded to 6dp; zero-norm seeds and
    all-zero means dropped)."""
    # valid_embeddings: the composing oracles all define the
    # valid-vector CTE at their WITH head (plans/tables.vectors twin)
    parts = [
        f"cent0 AS (SELECT * FROM (SELECT vec_id AS centroid_id, "
        f"list_transform(embedding, x -> x::DOUBLE) AS ce "
        f"FROM valid_embeddings ORDER BY vec_id LIMIT {n_centroids}) "
        f"WHERE list_sum(list_transform(ce, x -> x * x)) > 0)"
    ]
    for r in range(iters):
        parts.append(
            f"""a{r} AS (
      SELECT vec_id, centroid_id, embedding FROM (
        SELECT e.vec_id, c.centroid_id, e.embedding,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos2("e.embedding", "c.ce")} DESC,
                                           c.centroid_id ASC) AS rn
        FROM valid_embeddings e CROSS JOIN cent{r} c
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""cent{r + 1} AS (
      SELECT centroid_id, list(v ORDER BY j) AS ce FROM (
        SELECT centroid_id, j, round(avg(val), 6) AS v FROM (
          SELECT centroid_id, unnest(embedding)::DOUBLE AS val,
                 generate_subscripts(embedding, 1) AS j
          FROM a{r}
        ) GROUP BY 1, 2
      ) GROUP BY 1 HAVING sum(v * v) > 0
    )"""
        )
    return ",\n    ".join(parts)


@q(
    "sim_ivf_lloyd_topk",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    {_lloyd_cte_sql(8, _LLOYD_ITERS)},
    cent AS (SELECT centroid_id, ce FROM cent{_LLOYD_ITERS}),
    assigned AS (
      SELECT neighbor_id, c_vec, centroid_id FROM (
        SELECT neighbor_id, c_vec, centroid_id,
               row_number() OVER (PARTITION BY neighbor_id
                                  ORDER BY cent_sim DESC, centroid_id ASC) AS rn
        FROM (
          SELECT e.vec_id AS neighbor_id, e.embedding AS c_vec, c.centroid_id,
                 {_cos2("e.embedding", "c.ce")} AS cent_sim
          FROM valid_embeddings e CROSS JOIN cent c
        )
      ) WHERE rn = 1
    ),
    probed AS (
      SELECT query_id, q_vec, centroid_id FROM (
        SELECT query_id, q_vec, centroid_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cent_sim DESC, centroid_id ASC) AS rn
        FROM (
          SELECT e.vec_id AS query_id, e.embedding AS q_vec, c.centroid_id,
                 {_cos2("e.embedding", "c.ce")} AS cent_sim
          FROM valid_embeddings e CROSS JOIN cent c
          WHERE e.vec_id < 10
        )
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT query_id, neighbor_id, {_cos2("q_vec", "c_vec")} AS cos
      FROM assigned JOIN probed USING (centroid_id)
      WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
    FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_ivf_lloyd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    res = SIM.ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=2, lloyd_iters=_LLOYD_ITERS
    )
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


# =============================================================================
# The Lloyd-refined centroids THEMSELVES (index-build inspection: the
# k-means model a cluster operator would persist), emitted flat as
# (centroid_id, dim_idx, value) — no array output column, so every
# downstream canonicalizer can hash it. Oracle reuses the identical
# unrolled Lloyd CTE chain as sim_ivf_lloyd_topk.
# =============================================================================
@q(
    "emb_lloyd_centroids",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    {_lloyd_cte_sql(8, _LLOYD_ITERS)}
    SELECT centroid_id::BIGINT AS centroid_id,
           generate_subscripts(ce, 1)::BIGINT - 1 AS dim_idx,
           unnest(ce) AS value
    FROM cent{_LLOYD_ITERS}
    """,
)
def emb_lloyd_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    cdf = SIM.lloyd_centroids_df(emb, n_centroids=8, iters=_LLOYD_ITERS)
    return cdf.select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.posexplode("cent_vec").alias("dim_idx", "value"),
    ).select(
        "centroid_id", F.col("dim_idx").cast("long").alias("dim_idx"), "value"
    )


# =============================================================================
# Structured Streaming — windowed counts over the events stream, drained
# synchronously to a memory sink. Same result contract as the batch
# spelling, so the batch SQL is the oracle (complete output mode).
# =============================================================================
@q(
    "stream_windowed_counts",
    """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type,
           count(*)::BIGINT AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from social_and_media_data_ingestion_spark.plans.tables import events_stream
    from social_and_media_data_ingestion_spark.streaming.pipeline import (
        run_to_memory,
        windowed_counts,
    )

    # events_stream probes the file's actual timestamp encoding and
    # normalizes ts to TIMESTAMP_LTZ — never hard-code the schema here.
    stream = events_stream(spark, sf_dir)
    agg = windowed_counts(stream, "ts", window="5 minutes", group_cols=["event_type"])
    name = f"stream_win_{uuid.uuid4().hex[:8]}"
    query = run_to_memory(agg, name, output_mode="complete")
    query.stop()
    return spark.sql(f"SELECT window_start, event_type, n FROM {name}")


# =============================================================================
# Structured Streaming — SESSION windows over the events stream (the
# stateful F.session_window operator, drained synchronously to a memory
# sink in complete mode). Same result contract as the batch spelling
# events_session_window, so the gaps-and-islands SQL is the oracle:
# streaming session-merge state must converge to exactly the batch
# sessions once the input drains.
# =============================================================================
@q(
    "events_session_window_streaming",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      -- time-semantics contract (r13 fuzz): Spark's session_window
      -- drops NULL-ts rows natively; the oracle must too
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      -- RANGE, not ROWS (r13 fuzz flake): with duplicate timestamps the
      -- tie ORDER among ts-peers is engine- and run-arbitrary, and a ROWS
      -- frame could hand peers of the boundary row the PREVIOUS session's
      -- id depending on which tied row carried the flag. RANGE sums all
      -- peers' flags for every peer, so tied rows always share a session
      -- regardless of tie order — matching session_window's semantics.
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g
    )
    SELECT user_id, min(ts) AS session_start, count(*)::BIGINT AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def events_session_window_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from social_and_media_data_ingestion_spark.plans.tables import events_stream
    from social_and_media_data_ingestion_spark.streaming.pipeline import (
        run_to_memory,
        session_counts,
    )

    # Schema probed from the file, ts normalized to LTZ (see events_stream).
    stream = events_stream(spark, sf_dir)
    agg = session_counts(stream, "ts", gap="30 minutes", group_cols=["user_id"])
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    query = run_to_memory(agg, name, output_mode="complete")
    query.stop()
    return spark.sql(f"SELECT user_id, session_start, n_events FROM {name}")


# =============================================================================
# Multimodal — opaque binary payload + typed metadata + Arrow-batched
# decode UDF (deterministic fake decoder; real codec stubbed — not in
# container). The fake's arithmetic is reproduced by the oracle, so the
# whole binary->mapInPandas->struct pipeline is hash-verified.
# =============================================================================
@q(
    "multimodal_image_profile",
    """
    WITH m AS (
      SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT media_id,
           n_bytes::BIGINT AS n_bytes,
           (n_bytes % 256 + 1)::INTEGER AS width,
           (n_bytes // 256 % 256 + 1)::INTEGER AS height,
           -- NULL payload -> NULL dims (the fake decoder's contract;
           -- a literal 3 here invented a channel count for a payload
           -- that was never decoded)
           (CASE WHEN n_bytes IS NULL THEN NULL ELSE 3 END)::INTEGER AS channels
    FROM m
    """,
)
def multimodal_image_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import multimodal as MM

    docs = t(spark, sf_dir, "documents")
    media = MM.attach_meta(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        ),
        "payload",
        kind="image",
        mime="image/x-fake",
    )
    # n_bytes rides THROUGH the decode UDF (passthrough), not joined
    # back on media_id afterwards: under duplicate ids (at-least-once
    # ingestion) the re-join multiplied k same-id rows into k² (r7
    # duplicate-doc_id probe) — and dropping the join also drops the
    # profile's only exchange (pure map plan now).
    return MM.decode_images(
        media.withColumn("n_bytes", F.col("meta.n_bytes")),
        passthrough=["n_bytes"],
    ).select("media_id", "n_bytes", "width", "height", "channels")


# =============================================================================
# Multimodal — magic-byte format sniffing (r7; no codec needed, so this
# path is REAL, not a fake): payloads are synthesized with genuine
# JPEG/PNG/GIF/RIFF-WAVE signatures (doc_id % 4) plus a corrupted
# garbage-prefix slice (doc_id % 7 == 0), and detection reads a bounded
# binary prefix with native expressions. The declared-vs-detected
# profile is the mislabeled-upload audit every media lake runs first.
# =============================================================================
@q(
    "multimodal_format_sniff",
    r"""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN '\x00\x01'::BLOB
                  WHEN doc_id % 5 = 0 THEN '\xFF\xD8\xFF'::BLOB
                  WHEN doc_id % 5 = 1 THEN '\x89PNG'::BLOB
                  WHEN doc_id % 5 = 2 THEN 'GIF89a'::BLOB
                  WHEN doc_id % 5 = 3 THEN 'RIFF'::BLOB
                       || '\x00\x00\x00\x00'::BLOB || 'WAVE'::BLOB
                  ELSE 'RIFF'::BLOB || '\x00\x00\x00\x00'::BLOB
                       || 'WEBP'::BLOB END
             || encode(text) AS payload,
             CASE doc_id % 5 WHEN 0 THEN 'image/jpeg'
                  WHEN 1 THEN 'image/png' WHEN 2 THEN 'image/gif'
                  WHEN 3 THEN 'audio/x-wav'
                  ELSE 'image/webp' END AS declared_mime
      FROM documents
    ), d AS (
      SELECT declared_mime, octet_length(payload)::BIGINT AS n_bytes,
             CASE WHEN left(hex(payload), 8) = '52494646'
                       AND substr(hex(payload), 17, 8) = '57415645'
                  THEN 'audio/x-wav'
                  WHEN left(hex(payload), 8) = '52494646'
                       AND substr(hex(payload), 17, 8) = '57454250'
                  THEN 'image/webp'
                  WHEN left(hex(payload), 6) = 'FFD8FF' THEN 'image/jpeg'
                  WHEN left(hex(payload), 8) = '89504E47' THEN 'image/png'
                  WHEN left(hex(payload), 12)
                       IN ('474946383761', '474946383961') THEN 'image/gif'
                  ELSE 'application/octet-stream' END AS detected_mime
      FROM m
    )
    SELECT declared_mime, detected_mime,
           count(*)::BIGINT AS n_media,
           sum(n_bytes)::BIGINT AS total_bytes
    FROM d GROUP BY 1, 2
    """,
)
def multimodal_format_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import multimodal as MM

    docs = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    prefix = (
        F.when(did % 7 == 0, F.lit(bytes([0x00, 0x01])))
        .when(did % 5 == 0, F.lit(bytes([0xFF, 0xD8, 0xFF])))
        .when(did % 5 == 1, F.lit(bytes([0x89]) + b"PNG"))
        .when(did % 5 == 2, F.lit(b"GIF89a"))
        .when(did % 5 == 3, F.lit(b"RIFF" + bytes(4) + b"WAVE"))
        # r10: the WEBP form type rides the SAME RIFF container as WAV —
        # the detection must split them on the form-type bytes, which
        # this class proves against the oracle at every SF
        .otherwise(F.lit(b"RIFF" + bytes(4) + b"WEBP"))
    )
    declared = (
        F.when(did % 5 == 0, "image/jpeg")
        .when(did % 5 == 1, "image/png")
        .when(did % 5 == 2, "image/gif")
        .when(did % 5 == 3, "audio/x-wav")
        .otherwise("image/webp")
    )
    media = docs.select(
        F.concat(prefix, F.encode("text", "utf-8")).alias("payload"),
        declared.alias("declared_mime"),
    )
    return (
        MM.sniff_format(media)
        .groupBy("declared_mime", "detected_mime")
        .agg(
            F.count("*").cast("bigint").alias("n_media"),
            F.sum(F.length("payload")).cast("bigint").alias("total_bytes"),
        )
    )


# =============================================================================
# LLM layer — embedding-cosine near-duplicate pairs (the "semantic dedup"
# member of the dedup family): pairs above a high cosine threshold.
# Subset both sides identically; the scale path is LSH-bucketed candidates.
# =============================================================================
@q(
    "dedup_embedding_cosine",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    e AS (SELECT vec_id, embedding FROM valid_embeddings WHERE vec_id < 300)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(
             list_sum(list_transform(range(len(a.embedding)), i -> a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(len(a.embedding)), i -> a.embedding[i+1]::DOUBLE * a.embedding[i+1]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(len(b.embedding)), i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE)))),
           4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(len(a.embedding)), i -> a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE))
          / (sqrt(list_sum(list_transform(range(len(a.embedding)), i -> a.embedding[i+1]::DOUBLE * a.embedding[i+1]::DOUBLE)))
             * sqrt(list_sum(list_transform(range(len(b.embedding)), i -> b.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE)))) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir).filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    cos = SIM._dot("ea", "eb") / (SIM._norm("ea") * SIM._norm("eb"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


# =============================================================================
# Session windows — gap-based sessions via F.session_window (native Spark
# operator); oracle derives the same sessions with lag + cumulative sum
# =============================================================================
@q(
    "events_session_window",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      -- time-semantics contract (r13 fuzz): Spark's session_window
      -- drops NULL-ts rows natively; the oracle must too
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      -- RANGE, not ROWS (r13 fuzz flake): with duplicate timestamps the
      -- tie ORDER among ts-peers is engine- and run-arbitrary, and a ROWS
      -- frame could hand peers of the boundary row the PREVIOUS session's
      -- id depending on which tied row carried the flag. RANGE sums all
      -- peers' flags for every peer, so tied rows always share a session
      -- regardless of tie order — matching session_window's semantics.
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g
    )
    SELECT user_id, min(ts) AS session_start, count(*)::BIGINT AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.col("sw.start").alias("session_start"), "n_events"
        )
    )


# =============================================================================
# Approximate aggregates — HLL++ distinct and quantile sketches. Raw
# sketch values are engine-specific, so they can't be value-compared;
# instead the query verifies each sketch against its DOCUMENTED error
# bound in-query (r7 verdict item 7): the exact values are computed in
# the same single-pass aggregate, the bound checks come out as booleans,
# and the DuckDB oracle independently recomputes the exact columns and
# asserts the bound columns as literal TRUE — so the exact anchors are
# cross-engine verified and a sketch drifting out of contract flips a
# hashed boolean. Bounds: HLL++ default rsd=0.05, checked at 3 sigma
# (relative error <= 0.15, deterministic per dataset). percentile_approx
# default accuracy=10000 guarantees the returned value's RANK is within
# n/10000 of the target rank — checked as rank containment, not value
# containment (an interpolated exact-quantile window can exclude every
# actual data value at small n): a second scan counts rows strictly
# below / at-or-below each sketch value, giving the value's true rank
# interval [cnt_lt+1, cnt_le] (ties widen it), and the check asserts
# q*n lands inside it widened by 10x slack, floor 2 ranks. Two scans
# total (sketch pass + rank-count pass against the broadcast 1-row
# sketch frame) — the canonical audit shape; the rank counts cannot be
# folded into the first pass because they condition on its output. The
# 1-row sketch frame feeds TWO consumers (the rank pass and the final
# assembly) and exchange reuse does not deduplicate the aggregate
# subtree (3 lineitem scans and a doubled countDistinct shuffle
# measured unpinned — round-8 ADVICE), so it is pinned lazily
# (session.pin): one job computes it at first action, both consumers
# read the persisted 1-row block, and the two-scan claim above is the
# plan that actually executes.
# Empty input: every check degenerates to TRUE on both engines.
# =============================================================================
@q(
    "agg_approx_stats",
    """
    SELECT count(*)::BIGINT AS n_rows,
           count(DISTINCT l_partkey)::BIGINT AS exact_parts,
           TRUE AS parts_within_bound,
           TRUE AS median_within_bound,
           TRUE AS q25_within_bound,
           TRUE AS q75_within_bound
    FROM lineitem
    """,
)
def agg_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_extendedprice").cast("double").alias("price")
    )
    sketch = li.agg(
        F.count("*").alias("n_rows"),
        # the rank targets below must count the values the sketch SAW:
        # percentile_approx ignores NULL prices, so q*count(*) overshoots
        # the true rank by the null count (r13 fuzz: 7% null prices blew
        # the 2-rank slack and flipped the bound booleans)
        F.count("price").alias("n_vals"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.expr(
            "percentile_approx(price, array(0.25D, 0.5D, 0.75D))"
        ).alias("ap"),
    ).transform(pin)
    ranks = li.crossJoin(F.broadcast(sketch.select("ap"))).agg(
        *[
            c
            for i in range(3)
            for c in (
                F.count_if(F.col("price") < F.get("ap", i)).alias(f"lt{i}"),
                F.count_if(F.col("price") <= F.get("ap", i)).alias(f"le{i}"),
            )
        ]
    )

    def _within(i: int, quantile: float) -> "F.Column":
        # true rank of the sketch value is somewhere in [lt+1, le] (ties
        # widen the interval); the documented contract places the target
        # rank q*n within n/10000 of it — checked at 10x slack, floor 2;
        # n = non-null value count (the sketch's own population)
        slack = F.greatest(F.lit(2.0), F.col("n_vals") / 1000.0)
        target = F.lit(quantile) * F.col("n_vals")
        return (F.col("n_vals") == 0) | (
            (target >= F.col(f"lt{i}") + 1 - slack)
            & (target <= F.col(f"le{i}") + slack)
        )

    return sketch.crossJoin(F.broadcast(ranks)).select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("exact_parts").cast("long").alias("exact_parts"),
        F.when(F.col("exact_parts") == 0, F.col("approx_parts") == 0)
        .otherwise(
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.15
        )
        .alias("parts_within_bound"),
        _within(1, 0.5).alias("median_within_bound"),
        _within(0, 0.25).alias("q25_within_bound"),
        _within(2, 0.75).alias("q75_within_bound"),
    )


def registry() -> dict[str, QueryDef]:
    # extension modules register via the shared @q decorator on import
    from social_and_media_data_ingestion_spark.plans import (  # noqa: F401
        queries_ext,
        queries_ext2,
        queries_ext3,
        queries_ext4,
        queries_ext5,
        queries_tpch,
    )

    from social_and_media_data_ingestion_spark.plans.priority import PRIORITY_HEAD

    by_name = {d.name: d for d in REGISTRY}
    head = [by_name[n] for n in PRIORITY_HEAD if n in by_name]
    tail = [d for d in REGISTRY if d.name not in set(PRIORITY_HEAD)]
    return {d.name: d for d in [*head, *tail]}
