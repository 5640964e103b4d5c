"""Registry extension 4 — round-4 continuation batch: retrieval scoring
(BM25), sketch-vs-exact frequency audit (count-min), graph link
prediction (Adamic-Adar), time-series resample/gap-fill, robust
(winsorized) statistics, a data-quality constraint report, and a k-NN
label-consistency audit over the embedding corpus.

These extend the LLM-training-data-pipeline layer (SURVEY §2 "beyond
reference" operators): BM25 is the standard lexical retrieval score for
corpus curation / dedup triage; count-min is the fixed-memory frequency
sketch that replaces an exact groupBy at 100 TB; Adamic-Adar is the
classic common-neighbor link-prediction feature; gap-fill is the
dense-grid time-series prep step; the DQ report is the ingestion
gatekeeper; the k-NN audit is the cheap label-noise detector.

Scale notes (per query, also in SCALE.md):
- BM25: ONE scalar-aggregate job (N, avgdl, per-term document
  frequencies — the query term list is a plan-time literal), broadcast
  back as a 1-row frame; the per-document score is then entirely
  map-side (in-row tf over the token array). No shuffle on doc_id at
  all — the 100 TB plan is scan + map.
- count-min: the sketch is w×d integers; rows hash-aggregate once on
  event_type (combiner-friendly) and everything after operates on the
  tiny per-type frame. Cross-engine-deterministic bucket choice via the
  polynomial string hash + universal hash family (operators/dedup.py).
- Adamic-Adar: wedge join on the degree-bounded k-NN partner graph
  (same edge builder as graph_triangle_suppliers — top-3 partners per
  node keeps max degree O(k), so the wedge explosion is bounded by
  n·k², not n·d_max²).
- gap-fill: per-key date grids via sequence()+explode — grid size is
  bounded by the key's own span, no driver loop, no cross join against
  a global calendar table.
- winsorized stats: two-pass — exact percentiles per group (one
  hash-agg), broadcast the tiny percentile frame back, clip, aggregate.
- DQ report: each constraint is a partial-aggregable scan; the union is
  a plan of independent leaf scans, no shuffle beyond the final
  1-row-per-check aggregates.
- k-NN audit: probes are a hash-sampled subset broadcast against the
  corpus scan (same posture as sim_cosine_topk); votes reduce per probe
  then per label.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators.dedup import _polyhash, _tokens
from social_and_media_data_ingestion_spark.plans.queries import _TOKS, q
from social_and_media_data_ingestion_spark.plans.tables import (
    t,
    vectors,
)
from social_and_media_data_ingestion_spark.session import pin


def _r(col, dp: int):
    """floor(x*10^dp + 0.5)/10^dp — the repo's cross-engine rounding
    (half-away-from-zero on both engines, unlike round()).

    Magnitude-safe (r12 numeric-extremes probe): Spark's floor(double)
    returns LONG, which SATURATES at ±2^63 — a 1e18-cent prediction
    silently rounded to 9.2e16 while DuckDB's double-native floor kept
    the value. Past 2^62 the +0.5-and-floor is an arithmetic identity
    anyway (double spacing there is >= 1024, so x*10^dp is already an
    integer and +0.5 cannot change it), so the guard reproduces
    DuckDB's double path bit-for-bit: (x*10^dp + 0.5)/10^dp with no
    floor. NaN/Inf take the identity branch too instead of wrapping
    through a garbage LONG."""
    m = 10.0**dp
    v = col * m + F.lit(0.5)
    return (
        F.when(F.abs(v) < F.lit(float(2**62)), F.floor(v) / F.lit(m))
        .otherwise(v / F.lit(m))
    )


# =============================================================================
# Retrieval — BM25 (k1=1.2, b=0.75) of every document against a fixed
# query term set. Corpus stats (N, avgdl, df per term) come from ONE
# scalar aggregate broadcast back as a 1-row frame; the score itself is
# map-only (in-row term frequency over the token array). Term order in
# the score sum is fixed (spark, vector, merge) so double addition
# associates identically on both engines.
# =============================================================================
_BM25_TERMS = ["spark", "vector", "merge"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle_sql(terms: list[str], tag: str) -> str:
    """Full SELECT (with uniquely-tagged CTE names so two instances can
    coexist in one statement): (doc_id, n_tokens, bm25_r) for docs
    matching any query term."""
    d, dd, s = f"d_{tag}", f"dd_{tag}", f"s_{tag}"
    tf = {w: f"len(list_filter(toks, x -> x = '{w}'))::DOUBLE" for w in terms}
    contrib = " + ".join(
        f"""CASE WHEN {tf[w]} > 0 THEN
              ln(1.0 + ({s}.n - {s}.df_{w} + 0.5) / ({s}.df_{w} + 0.5))
              * ({tf[w]} * ({_BM25_K1} + 1.0))
              / ({tf[w]} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * {dd}.dl / {s}.avgdl))
            ELSE 0.0 END"""
        for w in terms
    )
    df_cols = ", ".join(
        f"count(*) FILTER (WHERE list_contains(toks, '{w}'))::DOUBLE AS df_{w}"
        for w in terms
    )
    any_tf = " + ".join(tf.values())
    return f"""
    WITH {d} AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    {dd} AS (SELECT doc_id, toks, len(toks)::DOUBLE AS dl FROM {d}),
    {s} AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, {df_cols} FROM {dd})
    SELECT {dd}.doc_id,
           {dd}.dl::BIGINT AS n_tokens,
           floor(({contrib}) * 1000000 + 0.5) / 1000000 AS bm25_r
    FROM {dd}, {s}
    WHERE ({any_tf}) > 0
    """


def _bm25_multi_df(
    spark: SparkSession, sf_dir: str, sets: dict[str, list[str]]
) -> DataFrame:
    """(doc_id, n_tokens, bm25_<name>..., match_<name>...) — BM25 of
    every document against SEVERAL query term sets in ONE stats pass
    and ONE scoring pass (round-11 scan sharing): the corpus-stat
    aggregate computes df for the union vocabulary, and each set's
    score sums its contribs in the set's own fixed term order, so every
    per-set score is float-identical to a standalone `_bm25_df` run.
    Rows match when ANY set matches; per-set scores are NULL on
    non-matching rows so a caller can slice one ranking out without
    re-reading the corpus."""
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _tokens("text").alias("toks"))
        .withColumn("dl", F.size("toks").cast("double"))
    )
    vocab = list(dict.fromkeys(w for ts in sets.values() for w in ts))
    stats = docs.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count_if(F.array_contains("toks", w)).cast("double").alias(f"df_{w}")
            for w in vocab
        ],
    )

    def tf(w):
        return F.size(F.filter("toks", lambda x: x == F.lit(w))).cast("double")

    def contrib(w):
        dfw = F.col(f"df_{w}")
        idf = F.log(1.0 + (F.col("n") - dfw + 0.5) / (dfw + 0.5))
        denom = tf(w) + _BM25_K1 * (
            1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        return F.when(tf(w) > 0, idf * (tf(w) * (_BM25_K1 + 1.0)) / denom).otherwise(
            0.0
        )

    def ordered_sum(parts):
        out = None
        for p in parts:  # fixed order => identical float association
            out = p if out is None else out + p
        return out

    cols, any_match = [], None
    for name, terms in sets.items():
        score = ordered_sum(contrib(w) for w in terms)
        matched = ordered_sum(tf(w) for w in terms) > 0
        cols.append(F.when(matched, _r(score, 6)).alias(f"bm25_{name}"))
        cols.append(matched.alias(f"match_{name}"))
        any_match = matched if any_match is None else any_match | matched
    return (
        docs.crossJoin(F.broadcast(stats))
        .filter(any_match)
        .select(
            "doc_id", F.col("dl").cast("bigint").alias("n_tokens"), *cols
        )
    )


def _bm25_df(spark: SparkSession, sf_dir: str, terms: list[str]) -> DataFrame:
    """(doc_id, n_tokens, bm25_r) — the Spark twin of _bm25_oracle_sql."""
    return _bm25_multi_df(spark, sf_dir, {"r": terms}).select(
        "doc_id", "n_tokens", F.col("bm25_r")
    )


@q("text_bm25_scores", _bm25_oracle_sql(_BM25_TERMS, "q"))
def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_df(spark, sf_dir, _BM25_TERMS)


# =============================================================================
# Sketch audit — count-min (d=3 rows, w=32 buckets) vs exact event_type
# frequencies. The sketch's bucket choice is the cross-engine universal
# hash family over the polynomial string hash (operators/dedup.py:
# _polyhash), so both engines build the identical sketch; the audit
# reports the guaranteed-nonnegative overcount per key. At 100 TB the
# point of CMS is that the d×w cell grid is the ONLY reduce state —
# here rows hash-aggregate once on the (few) event types, then all
# sketch arithmetic runs on that tiny frame.
# =============================================================================
_CMS_W = 32
_CMS_P = 2147483647
_CMS_AB = [(1103, 12345), (97, 1013904223), (48271, 16807)]


def _cms_oracle() -> str:
    a_list = "[" + ", ".join(str(a) for a, _ in _CMS_AB) + "]"
    b_list = "[" + ", ".join(str(b) for _, b in _CMS_AB) + "]"
    return f"""
    WITH exact AS (
      SELECT event_type, count(*)::BIGINT AS exact_n FROM events GROUP BY 1
    ),
    hashed AS (
      SELECT event_type, exact_n,
             list_reduce(list_transform(string_split(event_type, ''),
                                        x -> ascii(x)::BIGINT),
                         (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      FROM exact
    ),
    placed AS (
      SELECT event_type, exact_n, i.i,
             ((({a_list}[i.i + 1] * h + {b_list}[i.i + 1]) % {_CMS_P})
              % {_CMS_W}) AS bucket
      FROM hashed, (SELECT unnest(range(3)) AS i) i
    ),
    cells AS (
      SELECT i, bucket, sum(exact_n)::BIGINT AS cell_n
      FROM placed GROUP BY 1, 2
    ),
    est AS (
      SELECT p.event_type, p.exact_n, min(c.cell_n)::BIGINT AS cms_n
      FROM placed p JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
      GROUP BY 1, 2
    )
    SELECT event_type, exact_n, cms_n, (cms_n - exact_n)::BIGINT AS overcount
    FROM est
    """


@q("agg_countmin_audit", _cms_oracle())
def agg_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("exact_n"))
    )
    hashed = exact.withColumn("h", _polyhash(F.col("event_type")))
    placed = hashed.select(
        "event_type",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (((F.lit(a) * F.col("h") + F.lit(b)) % _CMS_P) % _CMS_W).alias(
                            "bucket"
                        ),
                    )
                    for i, (a, b) in enumerate(_CMS_AB)
                ]
            )
        ).alias("ib"),
    ).select("event_type", "exact_n", F.col("ib.i").alias("i"), F.col("ib.bucket").alias("bucket"))
    cells = placed.groupBy("i", "bucket").agg(F.sum("exact_n").alias("cell_n"))
    est = (
        placed.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("event_type", "exact_n")
        .agg(F.min("cell_n").alias("cms_n"))
    )
    return est.select(
        "event_type",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
    )


# =============================================================================
# Graph — Adamic-Adar link prediction over the degree-bounded supplier
# partner graph (SAME edge builder as graph_triangle_suppliers: top-3
# co-occurrence partners per supplier, undirected-deduped). For every
# non-adjacent pair at distance 2: AA = Σ_w 1/ln(deg(w)) over common
# neighbors w. Common neighbors always have deg >= 2, so ln(deg) > 0.
# Wedge join is bounded by the k-NN degree cap — n·k² candidates, never
# n·d_max² (the scale failure mode of link prediction on hub graphs).
# =============================================================================
_PARTNER_EDGE_CTES = """
    WITH p AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*)::BIGINT AS n
      FROM p a JOIN p b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
      GROUP BY 1, 2
    ),
    knn AS (
      SELECT u, v,
             row_number() OVER (PARTITION BY u ORDER BY n DESC, v) AS rk
      FROM pairs
    ),
    e AS (
      SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      FROM knn WHERE rk <= 3
    )
"""


@q(
    "graph_adamic_adar_suppliers",
    _PARTNER_EDGE_CTES
    + """,
    und AS (
      SELECT a AS w, b AS x FROM e UNION ALL SELECT b AS w, a AS x FROM e
    ),
    deg AS (SELECT w, count(*)::BIGINT AS d FROM und GROUP BY 1),
    wedges AS (
      SELECT n1.x AS u, n2.x AS v, n1.w AS w
      FROM und n1 JOIN und n2 ON n1.w = n2.w AND n1.x < n2.x
    ),
    cand AS (
      SELECT wd.u, wd.v, wd.w FROM wedges wd
      LEFT JOIN e ON e.a = wd.u AND e.b = wd.v
      WHERE e.a IS NULL
    )
    SELECT c.u, c.v,
           count(*)::BIGINT AS n_common,
           floor(sum(1.0 / ln(d.d)) * 1000000 + 0.5) / 1000000 AS aa_r
    FROM cand c JOIN deg d ON d.w = c.w
    GROUP BY 1, 2
    """,
)
def graph_adamic_adar_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.graph import _undirected
    from social_and_media_data_ingestion_spark.plans.queries_ext5 import _partner_edges

    e = _undirected(_partner_edges(spark, sf_dir), "src", "dst")
    und = e.select(F.col("a").alias("w"), F.col("b").alias("x")).unionAll(
        e.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    deg = und.groupBy("w").agg(F.count("*").alias("d"))
    n1 = und.select("w", F.col("x").alias("u"))
    n2 = und.select("w", F.col("x").alias("v"))
    wedges = n1.join(n2, "w").filter(F.col("u") < F.col("v"))
    cand = wedges.join(
        e, (e.a == wedges.u) & (e.b == wedges.v), "left_anti"
    )
    return (
        cand.join(deg, "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("n_common"),
            _r(F.sum(1.0 / F.log(F.col("d").cast("double"))), 6).alias("aa_r"),
        )
    )


# =============================================================================
# Time series — daily resample + gap-fill per user (users 0-29): build
# each user's dense day grid with sequence()+explode (grid bounded by
# the user's own span — no global calendar cross join, no driver loop),
# left-join the real daily aggregate, zero-fill counts, carry-forward
# the last seen daily value. The daily value is rounded BEFORE the
# carry-forward so both engines propagate the identical double.
# =============================================================================
@q(
    "events_resample_gapfill",
    """
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS day,
             count(*)::BIGINT AS n_events,
             floor(sum(value) * 1000000 + 0.5) / 1000000 AS day_value_r
      FROM events WHERE user_id < 30 GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY))::TIMESTAMP AS day
      FROM span
    ),
    joined AS (
      SELECT g.user_id, g.day,
             coalesce(d.n_events, 0)::BIGINT AS n_events,
             d.day_value_r
      FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    )
    SELECT user_id, day, n_events,
           last_value(day_value_r IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled_r
    FROM joined
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            _r(F.sum("value"), 6).alias("day_value_r"),
        )
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    joined = grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "day_value_r",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        "n_events",
        F.last("day_value_r", ignorenulls=True).over(w).alias("value_filled_r"),
    )


# =============================================================================
# Robust statistics — winsorized mean/stddev of order totals per
# priority: exact p05/p95 per group (one hash-agg), broadcast the tiny
# percentile frame back, clip, aggregate. Means rounded to 2dp: the
# winsorized aggregates sit on ~10^5-scale doubles whose partial-sum
# order differs between engines; 2dp is far outside the ~1e-4 naive-
# summation drift, so the hash is stable (same reasoning as
# agg_pricing_summary).
# =============================================================================
@q(
    "stats_winsorized_prices",
    """
    WITH pct AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS p05,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY 1
    ),
    clipped AS (
      SELECT o.o_orderpriority,
             o.o_totalprice,
             least(greatest(o.o_totalprice, p.p05), p.p95) AS wz
      FROM orders o JOIN pct p USING (o_orderpriority)
    )
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_orders,
           floor(avg(o_totalprice) * 100 + 0.5) / 100 AS mean_raw_r,
           floor(avg(wz) * 100 + 0.5) / 100 AS mean_winsor_r,
           floor(stddev_pop(wz) * 100 + 0.5) / 100 AS sd_winsor_r
    FROM clipped GROUP BY 1
    """,
)
def stats_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    pct = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p05"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
    )
    clipped = orders.join(F.broadcast(pct), "o_orderpriority").withColumn(
        "wz", F.least(F.greatest("o_totalprice", F.col("p05")), F.col("p95"))
    )
    return clipped.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        _r(F.avg("o_totalprice"), 2).alias("mean_raw_r"),
        _r(F.avg("wz"), 2).alias("mean_winsor_r"),
        _r(F.stddev_pop("wz"), 2).alias("sd_winsor_r"),
    )


# =============================================================================
# Data quality — constraint report over the lake tables: the ingestion
# gatekeeper a 100 TB pipeline runs before publishing a snapshot. Each
# check is an independent partial-aggregable scan (count/count_if —
# map-side combinable); the report is their union. Checks: row count,
# PK uniqueness, FK orphans (orders→customer), null fraction, value
# range, non-empty-text fraction.
# =============================================================================
@q(
    "dq_constraint_report",
    """
    SELECT 'orders_rowcount' AS check_id,
           count(*)::DOUBLE AS metric, count(*) > 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'orders_pk_dups',
           (count(*) - count(DISTINCT o_orderkey))::DOUBLE,
           count(*) = count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_null_frac',
           floor(avg(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END)
                 * 1000000 + 0.5) / 1000000,
           count(*) FILTER (WHERE o_custkey IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer_orphans',
           count(*)::DOUBLE, count(*) = 0
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem_qty_out_of_range',
           count(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 100)::DOUBLE,
           count(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 100) = 0
    FROM lineitem
    UNION ALL
    SELECT 'events_ts_nulls',
           count(*) FILTER (WHERE ts IS NULL)::DOUBLE,
           count(*) FILTER (WHERE ts IS NULL) = 0
    FROM events
    UNION ALL
    SELECT 'events_pk_dups',
           (count(*) - count(DISTINCT event_id))::DOUBLE,
           count(*) = count(DISTINCT event_id)
    FROM events
    UNION ALL
    SELECT 'documents_pk_dups',
           (count(*) - count(DISTINCT doc_id))::DOUBLE,
           count(*) = count(DISTINCT doc_id)
    FROM documents
    UNION ALL
    SELECT 'documents_nonempty_text_frac',
           floor(avg(CASE WHEN len(trim(text)) > 0 THEN 1.0 ELSE 0.0 END)
                 * 1000000 + 0.5) / 1000000,
           avg(CASE WHEN len(trim(text)) > 0 THEN 1.0 ELSE 0.0 END) >= 0.99
    FROM documents
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    lineitem = t(spark, sf_dir, "lineitem")
    events = t(spark, sf_dir, "events")
    documents = t(spark, sf_dir, "documents")

    # Scan sharing (r10): every per-table group of aggregate checks
    # computes in ONE partial-aggregable pass — a single combined agg
    # row exploded to (check_id, metric, passed) rows — instead of one
    # full table scan per check. 10 scans became 6; at 100 TB each
    # eliminated scan is a full table read. Values are bit-identical
    # (same aggregate expressions, just co-planned), so the oracle and
    # the degenerate-input harnesses are untouched.
    def _rows(agg_row: DataFrame, *checks) -> DataFrame:
        return agg_row.select(
            F.explode(F.array(*[F.struct(*c) for c in checks])).alias("c")
        ).select("c.*")

    o_agg = orders.agg(
        F.count("*").alias("n"),
        F.countDistinct("o_orderkey").alias("nd"),
        F.count_if(F.col("o_custkey").isNull()).alias("n_null"),
        _r(
            F.avg(F.when(F.col("o_custkey").isNull(), 1.0).otherwise(0.0)), 6
        ).alias("null_frac"),
    )
    n, nd = F.col("n"), F.col("nd")
    orders_checks = _rows(
        o_agg,
        (
            F.lit("orders_rowcount").alias("check_id"),
            n.cast("double").alias("metric"),
            (n > 0).alias("passed"),
        ),
        (
            F.lit("orders_pk_dups").alias("check_id"),
            (n - nd).cast("double").alias("metric"),
            (n == nd).alias("passed"),
        ),
        (
            F.lit("orders_custkey_null_frac").alias("check_id"),
            F.col("null_frac").alias("metric"),
            (F.col("n_null") == 0).alias("passed"),
        ),
    )
    orphans = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        ).agg(
            F.lit("orders_fk_customer_orphans").alias("check_id"),
            F.count("*").cast("double").alias("metric"),
            (F.count("*") == 0).alias("passed"),
        )
    )
    bad_qty = (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 100)
    qty = lineitem.agg(
        F.lit("lineitem_qty_out_of_range").alias("check_id"),
        F.count_if(bad_qty).cast("double").alias("metric"),
        (F.count_if(bad_qty) == 0).alias("passed"),
    )
    # event_id is the events PK: per-id grouping, tie-breaks, and
    # id-keyed joins are all ambiguous under at-least-once replays, so
    # duplicates must be caught HERE (and cured by the keep-first /
    # watermark dedup operators) before analytics run — the r7
    # duplicate-id probe showed 3 queries legitimately diverging on a
    # violated PK
    e_agg = events.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("nd"),
        F.count_if(F.col("ts").isNull()).alias("n_ts_null"),
    )
    events_checks = _rows(
        e_agg,
        (
            F.lit("events_ts_nulls").alias("check_id"),
            F.col("n_ts_null").cast("double").alias("metric"),
            (F.col("n_ts_null") == 0).alias("passed"),
        ),
        (
            F.lit("events_pk_dups").alias("check_id"),
            (n - nd).cast("double").alias("metric"),
            (n == nd).alias("passed"),
        ),
    )
    # doc_id is the documents PK — same at-least-once contract as
    # event_id (the r7 duplicate-doc_id probe: 69/71 documents queries
    # agree on a violated PK, curation keep-first and RRF fusion
    # legitimately diverge; and the image-profile re-join it exposed is
    # now a passthrough). Detect here, cure with keep-first dedup.
    nonempty = F.when(F.length(F.trim("text")) > 0, 1.0).otherwise(0.0)
    d_agg = documents.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        _r(F.avg(nonempty), 6).alias("nonempty_frac"),
        F.avg(nonempty).alias("nonempty_raw"),
    )
    documents_checks = _rows(
        d_agg,
        (
            F.lit("documents_pk_dups").alias("check_id"),
            (n - nd).cast("double").alias("metric"),
            (n == nd).alias("passed"),
        ),
        (
            F.lit("documents_nonempty_text_frac").alias("check_id"),
            F.col("nonempty_frac").alias("metric"),
            (F.col("nonempty_raw") >= 0.99).alias("passed"),
        ),
    )
    out = orders_checks
    for part in (orphans, qty, events_checks, documents_checks):
        out = out.unionAll(part)
    return out


# =============================================================================
# DQ — non-finite metrics audit (r7). The engine's metric queries
# assume FINITE inputs: NaN/Inf survive IEEE arithmetic differently
# depending on EXPRESSION SHAPE (0*inf vs inf*0 ordering, and Spark's
# floor(inf * 10^dp) silently wraps to LONG_MAX-scale garbage while
# DuckDB keeps inf — found by the r7 extreme-values probe), so the
# contract is enforced at ingestion, not re-derived in every
# aggregation. This is the gate: per metric column, how many rows are
# NULL / NaN / ±Inf, and the finite fraction a pipeline can threshold
# on. One partial-aggregable scan; no shuffle beyond |event_type| rows.
# =============================================================================
@q(
    "events_nonfinite_audit",
    """
    SELECT event_type,
           count(*)::BIGINT AS n_rows,
           count(*) FILTER (WHERE value IS NULL)::BIGINT AS n_null,
           count(*) FILTER (WHERE isnan(value))::BIGINT AS n_nan,
           count(*) FILTER (WHERE isinf(value))::BIGINT AS n_inf,
           count(*) FILTER (WHERE value IS NOT NULL
                              AND NOT isnan(value)
                              AND NOT isinf(value))::BIGINT AS n_finite,
           floor(count(*) FILTER (WHERE value IS NOT NULL
                                    AND NOT isnan(value)
                                    AND NOT isinf(value))::DOUBLE
                 / count(*) * 1000000 + 0.5) / 1000000 AS finite_frac
    FROM events GROUP BY 1
    """,
)
def events_nonfinite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = F.col("value")
    inf = F.lit(float("inf"))
    is_nan = v.isNotNull() & F.isnan(v)
    is_inf = v.isNotNull() & ((v == inf) | (v == -inf))
    is_finite = v.isNotNull() & ~F.isnan(v) & (v != inf) & (v != -inf)
    n_finite = F.count_if(is_finite)
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count_if(v.isNull()).cast("bigint").alias("n_null"),
        F.count_if(is_nan).cast("bigint").alias("n_nan"),
        F.count_if(is_inf).cast("bigint").alias("n_inf"),
        n_finite.cast("bigint").alias("n_finite"),
        (
            F.floor(
                n_finite.cast("double") / F.count("*") * 1000000 + F.lit(0.5)
            )
            / 1000000
        ).alias("finite_frac"),
    )


# =============================================================================
# Embedding audit — k-NN label consistency (leave-one-out): for a
# hash-sampled probe set (vec_id % 40 == 0), predict each probe's label
# by majority vote of its 5 nearest neighbors (cosine; the probe itself
# excluded), tie-break to the lower label; report per-true-label
# accuracy. The standard cheap label-noise detector for a labeled
# embedding corpus. Probes broadcast against the corpus scan — the same
# 100 TB posture as sim_cosine_topk (brute force is the audit truth;
# the serving path is the ANN trio).
# =============================================================================
@q(
    "emb_knn_label_audit",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    probes AS (
      SELECT vec_id, embedding, label FROM valid_embeddings WHERE vec_id % 40 = 0
    ),
    scored AS (
      SELECT p.vec_id AS query_id, p.label AS true_label,
             c.vec_id AS neighbor_id, c.label AS n_label,
             list_sum(list_transform(range(len(p.embedding)),
               i -> p.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE))
             / (sqrt(list_sum(list_transform(p.embedding,
                  x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(c.embedding,
                  x -> x::DOUBLE * x::DOUBLE)))) AS cos
      FROM probes p JOIN valid_embeddings c ON c.vec_id <> p.vec_id
    ),
    knn AS (
      SELECT query_id, true_label, n_label
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rk
        FROM scored
      ) WHERE rk <= 5
    ),
    votes AS (
      SELECT query_id, true_label, n_label, count(*)::BIGINT AS nv
      FROM knn GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label, n_label AS pred_label
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY nv DESC, n_label ASC) AS rk
        FROM votes
      ) WHERE rk = 1
    )
    SELECT true_label::BIGINT AS true_label,
           count(*)::BIGINT AS n_probes,
           count(*) FILTER (WHERE pred_label = true_label)::BIGINT AS n_correct,
           floor(count(*) FILTER (WHERE pred_label = true_label)::DOUBLE
                 / count(*) * 1000000 + 0.5) / 1000000 AS acc_r
    FROM pred GROUP BY 1
    """,
)
def emb_knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.similarity import cosine_topk

    emb = vectors(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") % 40 == 0)
    knn = cosine_topk(emb, probes, k=5)
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    true_l = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    votes = (
        knn.join(F.broadcast(labels), "neighbor_id")
        .join(F.broadcast(true_l), "query_id")
        .groupBy("query_id", "true_label", "n_label")
        .agg(F.count("*").alias("nv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("nv"), F.asc("n_label"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("pred_label"))
    )
    return pred.groupBy(F.col("true_label").cast("bigint").alias("true_label")).agg(
        F.count("*").alias("n_probes"),
        F.count_if(F.col("pred_label") == F.col("true_label")).alias("n_correct"),
        _r(
            F.count_if(F.col("pred_label") == F.col("true_label"))
            / F.count("*").cast("double"),
            6,
        ).alias("acc_r"),
    )


# =============================================================================
# Hybrid retrieval — reciprocal rank fusion (RRF, k=60) of two BM25
# rankings: the standard way to merge lexical and semantic rankings in a
# retrieval pipeline (here two lexical rankings with different query
# term sets — the fusion operator is identical). Ranks come from
# row_number over the ROUNDED score (ties to lower doc_id) so both
# engines rank identically; 1/(60+rank) on small integers is then
# bit-exact IEEE on both. Full-outer join keeps docs present in only
# one list (their missing-list contribution is 0).
# =============================================================================
_RRF_K = 60
_RRF_TERMS_A = ["spark", "vector"]
_RRF_TERMS_B = ["merge", "batch"]


@q(
    "text_rrf_fusion",
    f"""
    WITH ra AS (
      -- rank per physical match row, then collapse to ONE row per
      -- doc_id (max rank — the Spark twin's union+hash-agg does the
      -- same), so legal whole-row duplicate ingests cannot fan out the
      -- fusion join (r13 fuzz). Identical dup rows take consecutive
      -- ranks (full tie -> adjacent positions), so max is deterministic.
      SELECT doc_id, max(rank_a) AS rank_a FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25_r DESC, doc_id) AS rank_a
        FROM ({_bm25_oracle_sql(_RRF_TERMS_A, "a")})
      ) GROUP BY doc_id
    ),
    rb AS (
      SELECT doc_id, max(rank_b) AS rank_b FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25_r DESC, doc_id) AS rank_b
        FROM ({_bm25_oracle_sql(_RRF_TERMS_B, "b")})
      ) GROUP BY doc_id
    )
    SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
           ra.rank_a::BIGINT AS rank_a,
           rb.rank_b::BIGINT AS rank_b,
           floor((coalesce(1.0 / ({_RRF_K} + ra.rank_a), 0.0)
                  + coalesce(1.0 / ({_RRF_K} + rb.rank_b), 0.0))
                 * 1000000 + 0.5) / 1000000 AS rrf_r
    FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    """,
)
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE stats pass + ONE scoring pass for BOTH rankings (round-11
    # scan sharing via _bm25_multi_df; was 2 standalone BM25 runs = 4
    # corpus reads). The scored frame is lazily pinned — match-bounded,
    # far smaller than the corpus — and each ranking slices its
    # matching rows out of the pin; per-set float association is
    # unchanged, so the ranks are exactly the standalone ranks.
    scored = _bm25_multi_df(
        spark, sf_dir, {"a": _RRF_TERMS_A, "b": _RRF_TERMS_B}
    ).transform(pin)

    def ranked(name, out):
        # r13 opt round: the rank used to be an UNPARTITIONED window —
        # a single-task sort of the whole match set (fine at sf0.1,
        # a funnel at scale). global_row_number is the distributed
        # spelling (one range shuffle + a map-only Arrow rank pass) and
        # the (bm25 DESC, doc_id) total order makes it deterministic.
        # Only the two columns the rank needs cross the Python boundary.
        from social_and_media_data_ingestion_spark.operators.scale import (
            global_row_number,
        )

        return global_row_number(
            scored.filter(F.col(f"match_{name}")).select(
                "doc_id", f"bm25_{name}"
            ),
            [F.desc(f"bm25_{name}"), F.asc("doc_id")],
            out_col=out,
        ).select("doc_id", out)

    ra = ranked("a", "rank_a")
    rb = ranked("b", "rank_b")
    # outer-merge via union + hash-agg (max of the at-most-one non-null
    # rank per side): one exchange on doc_id, no sort-merge join
    # (ranks are bigint since the global_row_number rewrite)
    merged = (
        ra.withColumn("rank_b", F.lit(None).cast("bigint"))
        .unionByName(rb.withColumn("rank_a", F.lit(None).cast("bigint")))
        .groupBy("doc_id")
        .agg(F.max("rank_a").alias("rank_a"), F.max("rank_b").alias("rank_b"))
    )
    contrib_a = F.coalesce(1.0 / (_RRF_K + F.col("rank_a")), F.lit(0.0))
    contrib_b = F.coalesce(1.0 / (_RRF_K + F.col("rank_b")), F.lit(0.0))
    return merged.select(
        "doc_id",
        F.col("rank_a").cast("bigint").alias("rank_a"),
        F.col("rank_b").cast("bigint").alias("rank_b"),
        _r(contrib_a + contrib_b, 6).alias("rrf_r"),
    )


# =============================================================================
# Join pre-filtering — Bloom-filter semi-join audit: build a k=3,
# m=8192-bit Bloom filter over a selective customer subset, probe every
# order through it, and report the false-positive rate against the
# exact semi-join. This is the runtime-filter pattern that replaces a
# shuffle semi-join at 100 TB (ship the bitset, not the rows); the
# audit quantifies the extra rows a downstream exact filter must still
# reject. Bucket choice = the cross-engine universal hash family on the
# integer key, so both engines build the identical filter.
# =============================================================================
_BLOOM_M = 8192


def _bloom_pos_sql(key: str, i: int) -> str:
    a, b = _CMS_AB[i]
    return f"((({a} * {key} + {b}) % {_CMS_P}) % {_BLOOM_M})"


@q(
    "join_bloom_filter_audit",
    f"""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    ),
    pos AS (
      SELECT DISTINCT unnest([{_bloom_pos_sql("c_custkey", 0)},
                              {_bloom_pos_sql("c_custkey", 1)},
                              {_bloom_pos_sql("c_custkey", 2)}]) AS p
      FROM dim
    ),
    probe AS (
      SELECT o_orderkey, o_custkey,
             EXISTS (SELECT 1 FROM pos WHERE p = {_bloom_pos_sql("o_custkey", 0)})
             AND EXISTS (SELECT 1 FROM pos WHERE p = {_bloom_pos_sql("o_custkey", 1)})
             AND EXISTS (SELECT 1 FROM pos WHERE p = {_bloom_pos_sql("o_custkey", 2)})
               AS bloom_hit,
             EXISTS (SELECT 1 FROM dim WHERE c_custkey = o_custkey) AS true_hit
      FROM orders
    )
    SELECT count(*)::BIGINT AS n_orders,
           count(*) FILTER (WHERE bloom_hit)::BIGINT AS n_bloom_pos,
           count(*) FILTER (WHERE true_hit)::BIGINT AS n_true_pos,
           count(*) FILTER (WHERE bloom_hit AND NOT true_hit)::BIGINT
             AS n_false_pos,
           CASE WHEN count(*) FILTER (WHERE NOT true_hit) = 0 THEN 0.0
                ELSE floor(count(*) FILTER (WHERE bloom_hit AND NOT true_hit)::DOUBLE
                           / count(*) FILTER (WHERE NOT true_hit)
                           * 1000000 + 0.5) / 1000000
           END AS fp_rate_r
    FROM probe
    """,
)
def join_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def pos(key, i):
        a, b = _CMS_AB[i]
        return ((F.lit(a) * F.col(key) + F.lit(b)) % _CMS_P) % _BLOOM_M

    dim = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    positions = dim.select(
        F.explode(F.array(*[pos("c_custkey", i) for i in range(3)])).alias("p")
    ).distinct()
    probe = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", *[pos("o_custkey", i).alias(f"p{i}") for i in range(3)]
    )
    marked = probe
    for i in range(3):
        hit = positions.select(F.col("p").alias(f"p{i}"), F.lit(True).alias(f"hit{i}"))
        marked = marked.join(F.broadcast(hit), f"p{i}", "left")
    bloom_hit = (
        F.coalesce("hit0", F.lit(False))
        & F.coalesce("hit1", F.lit(False))
        & F.coalesce("hit2", F.lit(False))
    )
    truth = dim.select(F.col("c_custkey").alias("o_custkey"), F.lit(True).alias("th"))
    marked = marked.join(F.broadcast(truth), "o_custkey", "left").withColumn(
        "true_hit", F.coalesce("th", F.lit(False))
    )
    n_neg = F.count_if(~F.col("true_hit"))
    n_fp = F.count_if(bloom_hit & ~F.col("true_hit"))
    return marked.agg(
        F.count("*").alias("n_orders"),
        F.count_if(bloom_hit).alias("n_bloom_pos"),
        F.count_if(F.col("true_hit")).alias("n_true_pos"),
        n_fp.alias("n_false_pos"),
        F.when(n_neg == 0, F.lit(0.0))
        .otherwise(_r(n_fp.cast("double") / n_neg, 6))
        .alias("fp_rate_r"),
    )


# =============================================================================
# ABC / Pareto classification — rank parts by revenue, classify by
# cumulative revenue share (A: first 80%, B: next 15%, C: tail). The
# prefix sum runs on operators/scale.py global_running_sum — the
# distributed spelling, NOT a single-partition window sort (the 100 TB
# funnel). Revenue stays an EXACT value·10⁴ integer per part in 128-bit
# (HUGEINT / decimal(38,0)) through the prefix sum, so the distributed
# partial-total offsets associate exactly and both engines see
# identical cumulative values. 128-bit because the int64 forms CRASHED
# the r13 fuzz at in-quantization-domain extremes: a 2^53-dollar price
# is legal int64 CENTS but its ·10⁴ row product is ~1.4e20.
# =============================================================================
@q(
    "lineitem_abc_pareto",
    """
    WITH rev AS (
      -- per-row value·10⁴ as a pure-integer product (2dp inputs),
      -- summed exactly — the old floor(float_sum·100+0.5) flipped
      -- cents with partial-sum order (r7 duplicate-rows probe)
      SELECT l_partkey,
             sum(floor(l_extendedprice * 100 + 0.5)::HUGEINT
                 * (100 - floor(l_discount * 100 + 0.5)::BIGINT)) AS rev4
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(rev4) AS t FROM rev),
    run AS (
      SELECT l_partkey, rev4,
             sum(rev4) OVER (ORDER BY rev4 DESC, l_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum4
      FROM rev
    ),
    cls AS (
      SELECT l_partkey, rev4,
             CASE WHEN cum4::DOUBLE / t <= 0.80 THEN 'A'
                  WHEN cum4::DOUBLE / t <= 0.95 THEN 'B'
                  ELSE 'C' END AS pareto_class
      FROM run, tot
    )
    SELECT pareto_class,
           count(*)::BIGINT AS n_parts,
           floor(sum(rev4)::DOUBLE / 10000 * 100 + 0.5) / 100 AS revenue_r,
           floor(sum(rev4)::DOUBLE / (SELECT t FROM tot)
                 * 1000000 + 0.5) / 1000000 AS revenue_share_r
    FROM cls GROUP BY 1
    """,
)
def lineitem_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_sum,
    )

    # per-row value·10⁴ integers, 128-bit accumulation (header comment)
    rev4 = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "decimal(38,0)"
    ) * (100 - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint"))
    rev = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey", rev4.alias("rev4"))
        .groupBy("l_partkey")
        .agg(F.sum("rev4").cast("decimal(38,0)").alias("rev4"))
    )
    # the prefix pass hands back the exact grand total for FREE (it is
    # the last per-partition offset its bounded collect already
    # computed) — the pre-r13 spelling re-scanned and re-aggregated
    # lineitem for `tot` (a second full pass over the fact table at
    # 100 TB) and crossJoined the 1-row frame back on (guide §2.4).
    # NULL-total edge: an all-NULL rev4 column has a None total, shipped
    # as 0 — every output expression involving t is NULL either way
    # (cum4 and the class sums are NULL), so results match the SQL sum.
    run, tot_val = global_running_sum(
        rev,
        order_by=[F.desc("rev4"), F.asc("l_partkey")],
        value_col="rev4",
        out_col="cum4",
        return_total=True,
    )
    # decimal totals past ~1e19 don't survive the plain lit() py4j
    # path — ship as a string literal cast back (bit-exact)
    cls = run.withColumn(
        "t", F.lit(str(tot_val or 0)).cast("decimal(38,0)")
    ).withColumn(
        "pareto_class",
        F.when(F.col("cum4").cast("double") / F.col("t") <= 0.80, "A")
        .when(F.col("cum4").cast("double") / F.col("t") <= 0.95, "B")
        .otherwise("C"),
    )
    return cls.groupBy("pareto_class").agg(
        F.count("*").alias("n_parts"),
        _r(F.sum("rev4").cast("double") / 10000, 2).alias("revenue_r"),
        _r(
            F.sum("rev4").cast("double") / F.first("t").cast("double"), 6
        ).alias("revenue_share_r"),
    )


# =============================================================================
# ML data prep — train/validation split leakage audit: compare row-hash
# splitting (fold = hash(event_id) % k — leaks users across folds, the
# classic eval-contamination bug) against group-hash splitting
# (fold = hash(user_id) % k — leakage-free by construction), and report
# the measured leakage of each strategy. Fold choice uses the
# cross-engine universal hash so both engines assign identical folds.
# One pass per strategy: groupBy user → distinct folds, then a 2-row
# summary. At 100 TB this is the audit you run BEFORE training, and it
# is partial-aggregable all the way down.
# =============================================================================
_FOLD_K = 5


def _fold_sql(key: str) -> str:
    a, b = _CMS_AB[0]
    return f"((({a} * {key} + {b}) % {_CMS_P}) % {_FOLD_K})"


@q(
    "ml_split_leakage_audit",
    f"""
    WITH per_user AS (
      SELECT user_id,
             count(DISTINCT {_fold_sql("event_id")}) AS nf_row,
             count(DISTINCT {_fold_sql("user_id")}) AS nf_group
      FROM events GROUP BY 1
    )
    SELECT 'row_hash' AS strategy,
           count(*)::BIGINT AS n_users,
           count(*) FILTER (WHERE nf_row > 1)::BIGINT AS n_users_leaked,
           floor(count(*) FILTER (WHERE nf_row > 1)::DOUBLE / count(*)
                 * 1000000 + 0.5) / 1000000 AS leak_frac_r
    FROM per_user
    UNION ALL
    SELECT 'group_hash',
           count(*)::BIGINT,
           count(*) FILTER (WHERE nf_group > 1)::BIGINT,
           floor(count(*) FILTER (WHERE nf_group > 1)::DOUBLE / count(*)
                 * 1000000 + 0.5) / 1000000
    FROM per_user
    """,
)
def ml_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _CMS_AB[0]

    def fold(key):
        return ((F.lit(a) * F.col(key) + F.lit(b)) % _CMS_P) % _FOLD_K

    per_user = (
        t(spark, sf_dir, "events")
        .select("user_id", fold("event_id").alias("f_row"), fold("user_id").alias("f_grp"))
        .groupBy("user_id")
        .agg(
            F.countDistinct("f_row").alias("nf_row"),
            F.countDistinct("f_grp").alias("nf_group"),
        )
    )

    def summary(col, label):
        leaked = F.count_if(F.col(col) > 1)
        return per_user.agg(
            F.lit(label).alias("strategy"),
            F.count("*").alias("n_users"),
            leaked.alias("n_users_leaked"),
            # try_divide: 0 users -> NULL leak fraction, matching DuckDB
            # where float division by zero yields NULL (Spark ANSI `/`
            # raises; r7 empty-tables probe)
            _r(F.try_divide(leaked.cast("double"), F.count("*")), 6).alias(
                "leak_frac_r"
            ),
        )

    return summary("nf_row", "row_hash").unionAll(summary("nf_group", "group_hash"))


# =============================================================================
# Trend features — per-priority OLS slope of daily revenue over the
# day index. All five OLS sufficient statistics (n, Σx, Σy, Σxy, Σx²)
# are computed over INTEGERS (day index since the first order date;
# revenue fixed to cents per order before any sum), so the distributed
# aggregation is exact regardless of partial-sum order; the closed-form
# slope/intercept then divides exact integers in double — identical on
# both engines. One groupBy(priority, day) + one groupBy(priority).
# =============================================================================
@q(
    "orders_daily_trend",
    """
    WITH daily AS (
      SELECT o_orderpriority,
             date_diff('day',
                       (SELECT min(o_orderdate) FROM orders),
                       o_orderdate)::BIGINT AS x,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS y_cents
      FROM orders GROUP BY 1, 2
    ),
    stats AS (
      -- sy/sxy stay in DuckDB's native HUGEINT sum type (no ::BIGINT
      -- narrowing): the r12 numeric-extremes probe showed the int64
      -- forms crash at 1e12-dollar rows; Spark mirrors with
      -- decimal(38,0) so both engines hold the same exact integers
      SELECT o_orderpriority,
             count(*)::BIGINT AS n_days,
             sum(x)::BIGINT AS sx,
             sum(y_cents) AS sy,
             sum(x * y_cents) AS sxy,
             sum(x * x)::BIGINT AS sxx
      FROM daily GROUP BY 1
    )
    SELECT o_orderpriority, n_days,
           floor((n_days * sxy - sx * sy)::DOUBLE
                 / (n_days * sxx - sx * sx) / 100.0 * 10000 + 0.5) / 10000
             AS slope_per_day_r,
           floor((sy::DOUBLE / n_days
                  - ((n_days * sxy - sx * sy)::DOUBLE
                     / (n_days * sxx - sx * sx))
                    * (sx::DOUBLE / n_days)) / 100.0 * 100 + 0.5) / 100
             AS intercept_r
    FROM stats
    """,
)
def orders_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    d0 = orders.agg(F.min("o_orderdate").alias("d0"))
    daily = (
        orders.crossJoin(F.broadcast(d0))
        .select(
            "o_orderpriority",
            F.datediff("o_orderdate", "d0").cast("bigint").alias("x"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("o_orderpriority", "x")
        # decimal widening: the 128-bit twin of the oracle's HUGEINT
        # sums (see the oracle's stats comment)
        .agg(F.sum(F.col("cents").cast("decimal(19,0)")).alias("y_cents"))
    )
    stats = daily.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y_cents").alias("sy"),
        F.sum(F.col("x") * F.col("y_cents")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # try_divide: a single-day priority has n·Σx² − (Σx)² = 0 (no x
    # spread, the OLS slope is undefined) — NULL like the oracle's
    # x/0, not a Spark ANSI crash (r7 one-row probe)
    slope = F.try_divide(
        (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        ),
        F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    intercept = (
        F.col("sy").cast("double") / F.col("n_days")
        - slope * (F.col("sx").cast("double") / F.col("n_days"))
    )
    return stats.select(
        "o_orderpriority",
        "n_days",
        _r(slope / 100.0, 4).alias("slope_per_day_r"),
        _r(intercept / 100.0, 2).alias("intercept_r"),
    )


# =============================================================================
# Statistical testing — chi-square independence of event_type ×
# weekday: the standard drift/seasonality detector over a categorical
# contingency table. Observed counts and margins are exact integers;
# only the ~35 per-cell (obs-exp)²/exp contributions are doubles, and
# their final sum is rounded to 6dp (cell count is bounded by the
# category product, so the float tail is far below the rounding
# resolution). Margins ride broadcast joins back onto the cell frame.
# =============================================================================
@q(
    "events_chi2_type_weekday",
    """
    WITH obs AS (
      SELECT event_type, dayofweek(ts)::BIGINT AS dow, count(*)::BIGINT AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(o)::BIGINT AS r FROM obs GROUP BY 1),
    ct AS (SELECT dow, sum(o)::BIGINT AS c FROM obs GROUP BY 1),
    n AS (SELECT sum(o)::BIGINT AS n FROM obs)
    SELECT floor(sum(power(o - r::DOUBLE * c / n.n, 2)
                     / (r::DOUBLE * c / n.n)) * 1000000 + 0.5) / 1000000
             AS chi2_r,
           ((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1)
             AS dof
    FROM obs JOIN rt USING (event_type) JOIN ct USING (dow), n
    """,
)
def events_chi2_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the contingency table is the ONLY corpus-scale work in the query
    # — pin it (lazily; it's |types|×7 rows) so the two margins, the
    # grand total, the cell join and the dof cardinalities all read the
    # pinned aggregate instead of re-scanning events once each
    obs = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofweek("ts").cast("bigint").alias("dow"))
        .agg(F.count("*").alias("o"))
        .transform(pin)
    )
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
    )
    exp = F.col("r").cast("double") * F.col("c") / F.col("n")
    # category cardinalities: count(*) over the margins, so a NULL
    # event_type is a category and empty input gives (-1)*(-1) = 1
    dof = (
        rt.agg(F.count("*").alias("nr"))
        .crossJoin(ct.agg(F.count("*").alias("nc")))
        .select(((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"))
    )
    return cells.agg(
        _r(F.sum(F.pow(F.col("o") - exp, 2) / exp), 6).alias("chi2_r")
    ).crossJoin(F.broadcast(dof))


# =============================================================================
# Corpus inspection — keyword-in-context (KWIC): every occurrence of
# the keyword with a ±3-token window, extracted entirely in-row
# (positions via a filtered index sequence, window via slice) and then
# exploded to one row per hit. MAP-ONLY: zero shuffle, the 100 TB plan
# is scan + flatMap. The inspection step a curation pipeline runs when
# a keyword filter (F2/F3) needs human QA.
# =============================================================================
_KWIC_WORD = "spark"
_KWIC_WIN = 3


@q(
    "text_kwic_contexts",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    hits AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(list_filter(range(1, len(toks) + 1),
                                p -> toks[p] = '{_KWIC_WORD}')) AS pos
      FROM d
    )
    SELECT doc_id, pos::BIGINT AS pos,
           array_to_string(
             toks[greatest(1, pos - {_KWIC_WIN}):least(n, pos + {_KWIC_WIN})],
             ' ') AS context
    FROM hits
    """,
)
def text_kwic_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "doc_id", _tokens("text").alias("toks")
    )
    # the match-position filter LET-BINDS toks as lambda var tk: an
    # outer column ref inside the filter lambda is inlined by
    # CollapseProject and re-evaluates the tokenizer per position —
    # O(tokens^2) per document (see operators/dedup._sql_ngrams).
    # Positions come from an index-carrying transform over the array
    # itself, NOT sequence(1, size(tk)) + element_at: Spark's sequence
    # steps BACKWARD when start > stop, so an EMPTY token array (blank
    # text) yielded [1, 0] and element_at(tk, 1) threw
    # INVALID_ARRAY_INDEX under ANSI — a job-killing crash on any
    # pathological document (found by the r7 null-riddled harness; the
    # transform spelling is empty- and NULL-safe by construction)
    pos_arr = (
        "flatten(transform(array(toks), tk -> "
        f"filter(transform(tk, (x, i) -> IF(x = '{_KWIC_WORD}', i + 1, -1)), "
        "p -> p > 0)))"
    )
    hits = d.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.explode(F.expr(pos_arr)).alias("pos"),
    )
    start = F.greatest(F.lit(1), F.col("pos") - _KWIC_WIN)
    end = F.least(F.col("n"), F.col("pos") + _KWIC_WIN)
    return hits.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.concat_ws(" ", F.slice("toks", start, end - start + 1)).alias("context"),
    )


# =============================================================================
# Curation metric — exact-dup rate per source: documents per source vs
# distinct normalized fingerprints (operators/dedup.py
# normalized_fingerprint — md5 of whitespace-collapsed lowercased
# text), the per-provider duplication scorecard a curation run reports.
# One hash-agg on (source, fingerprint)-reduced keys; the shuffle key
# is the 32-byte digest, never the document text.
# =============================================================================
@q(
    "corpus_dedup_rate_by_source",
    r"""
    SELECT source,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))::BIGINT
             AS n_unique,
           floor((1.0 - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))::DOUBLE
                        / count(*)) * 1000000 + 0.5) / 1000000 AS dup_rate_r
    FROM documents GROUP BY 1
    """,
)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.dedup import (
        normalized_fingerprint,
    )

    docs = t(spark, sf_dir, "documents").select(
        "source", normalized_fingerprint("text").alias("fp")
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        _r(1.0 - F.countDistinct("fp").cast("double") / F.count("*"), 6).alias(
            "dup_rate_r"
        ),
    )
