"""Registry extension 2 — embedding compression, centroid analytics,
time-range window frames, per-group mode, hypertable-style time rollups.

Same conventions as queries.py: identical aliases both sides, doubles
rounded identically, counts cast to BIGINT, deterministic tie-breaks.
Imported inside queries.registry() alongside queries_ext / queries_tpch.

Scale notes (100 TB posture):
- emb_quantize_int8 is a pure map (per-row array math, no shuffle) — the
  standard int8 scalar-quantization step before shipping vectors to an ANN
  index; 4x memory reduction at ~1e-3 RMSE.
- emb_label_centroid_distances shuffles once on (label, pos) — cardinality
  |labels| x dim, tiny regardless of input size — then joins centroids
  pairwise (|labels|^2 x dim rows, still tiny). The big table is touched
  map-only via posexplode.
- window_time_range_moving_avg / agg_mode_event_type shuffle once on their
  partition key (hash partition by customer / user) — the frame/rank work
  is then partition-local.
- events_time_bucket_rollup is the hypertable multi-resolution rollup:
  Spark expands rollup levels BEFORE the exchange, so partial aggregation
  (map-side combine) applies to every granularity; output cardinality is
  bounded by the bucket count, not the event count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators import similarity as SIM
from social_and_media_data_ingestion_spark.plans.queries import _TOKS, q
from social_and_media_data_ingestion_spark.plans.tables import (
    t,
    vectors,
)
from social_and_media_data_ingestion_spark.session import pin


# =============================================================================
# LLM layer — int8 scalar quantization of embeddings (map-only).
# Per-vector min/max affine quantization to 0..255 codes; reports the code
# checksum and reconstruction RMSE. floor(x + 0.5) rounding is used on BOTH
# sides (IEEE-identical, unlike round() whose half-even/half-up differs).
# =============================================================================
@q(
    "emb_quantize_int8",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ed
      FROM valid_embeddings
    ),
    s AS (
      SELECT vec_id, ed, list_min(ed) AS vmin,
             CASE WHEN list_max(ed) - list_min(ed) <= 0 THEN 1.0
                  ELSE (list_max(ed) - list_min(ed)) / 255.0 END AS scale
      FROM e
    ),
    c AS (
      SELECT vec_id, ed, vmin, scale,
             list_transform(ed, x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT)) AS codes
      FROM s
    )
    SELECT vec_id,
           len(codes)::BIGINT AS dim,
           round(scale, 6) AS scale,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           round(sqrt(list_sum(list_transform(range(len(ed)),
                 i -> pow(ed[i+1] - (vmin + codes[i+1] * scale), 2))) / len(ed)), 6) AS rmse
    FROM c
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    # Every intermediate (the double-cast vector, vmin, scale, the code
    # array) is LET-BOUND as a lambda variable in one nested expression:
    # column refs inside HOF lambdas are inlined by CollapseProject and
    # re-evaluated PER ELEMENT, which turns the per-vector affine
    # quantization into O(dim^2) work (array_min(ed) recomputed for
    # every code) — invisible at dim 64, a 100x penalty at dim 1024.
    # Lambda variables are values: inner lambdas referencing ed/p/codes
    # pay O(1) per access. Same idiom as operators/dedup._sql_ngrams.
    q_expr = """
    transform(array(transform(embedding, x -> CAST(x AS DOUBLE))), ed ->
      transform(array(struct(
          array_min(ed) AS vmin,
          CASE WHEN array_max(ed) - array_min(ed) <= 0D THEN 1.0D
               ELSE (array_max(ed) - array_min(ed)) / 255.0D END AS scale_raw)), p ->
        transform(array(transform(ed,
            x -> CAST(floor((x - p.vmin) / p.scale_raw + 0.5D) AS BIGINT))), codes ->
          struct(
            CAST(size(codes) AS BIGINT) AS dim,
            p.scale_raw AS scale_raw,
            aggregate(codes, CAST(0 AS BIGINT), (a, v) -> a + v) AS code_sum,
            aggregate(zip_with(ed, codes,
                (x, c) -> pow(x - (p.vmin + CAST(c AS DOUBLE) * p.scale_raw), 2.0D)),
              0.0D, (a, v) -> a + v) / size(ed) AS mse
          )
        )[0]
      )[0]
    )[0]
    """
    return emb.select("vec_id", F.expr(q_expr).alias("qs")).select(
        "vec_id",
        F.col("qs.dim").alias("dim"),
        F.round(F.col("qs.scale_raw"), 6).alias("scale"),
        F.col("qs.code_sum").alias("code_sum"),
        F.round(F.sqrt(F.col("qs.mse")), 6).alias("rmse"),
    )


# =============================================================================
# LLM layer — pairwise cosine between per-label centroids (class-separation
# diagnostic for labeled embedding corpora). posexplode -> one shuffle on
# (label, pos) whose output is |labels| x dim rows; the pairwise join runs
# on that tiny centroid table only.
# =============================================================================
@q(
    "emb_label_centroid_distances",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    ex AS (
      SELECT label, unnest(range(len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
      FROM valid_embeddings
    ),
    cent AS (SELECT label, pos, avg(val) AS v FROM ex GROUP BY 1, 2)
    SELECT CAST(a.label AS BIGINT) AS label_a, CAST(b.label AS BIGINT) AS label_b,
           round(sum(a.v * b.v) / (sqrt(sum(a.v * a.v)) * sqrt(sum(b.v * b.v))), 4)
             AS cosine
    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
    GROUP BY 1, 2
    """,
)
def emb_label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    ex = emb.select(
        "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    cent = ex.groupBy("label", "pos").agg(F.avg("val").alias("v"))
    a = cent.alias("a")
    b = cent.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos")) & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").cast("long").alias("label_a"),
            F.col("b.label").cast("long").alias("label_b"),
        )
        .agg(
            F.round(
                F.sum(F.col("a.v") * F.col("b.v"))
                / (
                    F.sqrt(F.sum(F.col("a.v") * F.col("a.v")))
                    * F.sqrt(F.sum(F.col("b.v") * F.col("b.v")))
                ),
                4,
            ).alias("cosine")
        )
    )


# =============================================================================
# §2.6 extension — event-time RANGE frame: 7-day trailing average order value
# per customer. Spark expresses the interval frame as rangeBetween over
# epoch seconds (equivalent to DuckDB's RANGE INTERVAL frame); one hash
# partition on o_custkey, then the frame scan is partition-local.
# =============================================================================
@q(
    "window_time_range_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           floor(avg(o_totalprice) OVER w * 100 + 0.5) / 100 AS avg_7d,
           CAST(count(*) OVER w AS BIGINT) AS n_7d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        # o_orderdate is TIMESTAMP_NTZ, which has no direct long cast; the
        # session is pinned to UTC so NTZ -> LTZ -> epoch-seconds is exact.
        .orderBy(F.col("o_orderdate").cast("timestamp_ltz").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    # floor(x*100 + 0.5)/100 instead of round(x, 2): the two engines'
    # decimal-string round() can split a half-boundary double differently;
    # floor arithmetic is IEEE-identical on both.
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.floor(F.avg("o_totalprice").over(w) * 100 + F.lit(0.5)) / 100).alias(
            "avg_7d"
        ),
        F.count("*").over(w).alias("n_7d"),
    )


# =============================================================================
# §2.5 extension — per-group mode: each user's most frequent event type,
# tie-broken deterministically (higher count first, then event_type asc).
# Two-level: partial-combinable count, then a tiny per-user rank.
# =============================================================================
@q(
    "agg_mode_event_type",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      -- NULLS LAST on the type tie-break, both engines (r13 fuzz): a
      -- NULL event_type is a real group; under Spark's ASC default it
      -- sorted FIRST and won count ties that DuckDB gave to a named type
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC,
                                         event_type ASC NULLS LAST) AS rk
      FROM c
    )
    SELECT user_id, event_type AS top_event_type, n
    FROM r WHERE rk = 1
    """,
)
def agg_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc_nulls_last("event_type")
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"), "n")
    )


# =============================================================================
# Hypertable-style multi-resolution time rollup — hour buckets rolled up to
# day and grand total in ONE pass (ROLLUP expands grouping sets before the
# exchange, so map-side combine applies at every granularity). Buckets are
# formatted as strings on both sides because DuckDB's date_trunc('day')
# yields DATE while Spark's yields TIMESTAMP.
# =============================================================================
@q(
    "events_time_bucket_rollup",
    """
    WITH b AS (
      SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP),
                      '%Y-%m-%d %H:%M:%S') AS day_bucket,
             strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP),
                      '%Y-%m-%d %H:%M:%S') AS hour_bucket,
             value
      FROM events
    )
    SELECT coalesce(day_bucket, 'ALL') AS day_bucket,
           coalesce(hour_bucket, 'ALL') AS hour_bucket,
           count(*)::BIGINT AS n_events,
           -- 6dp, not 2dp (r13 fuzz seed 1014; see events_daily_active:
           -- free-form metric sums land ON the half-cent boundary and a
           -- 2dp rounding amplifies ulp noise into a cent flip)
           floor(sum(value) * 1000000 + 0.5) / 1000000 AS total_value
    FROM b GROUP BY ROLLUP(day_bucket, hour_bucket)
    """,
)
def events_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.plans.queries_ext5 import _r

    ev = t(spark, sf_dir, "events")
    b = ev.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "day_bucket"
        ),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_bucket"
        ),
        "value",
    )
    return (
        b.rollup("day_bucket", "hour_bucket")
        .agg(
            F.count("*").alias("n_events"),
            _r(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.coalesce("day_bucket", F.lit("ALL")).alias("day_bucket"),
            F.coalesce("hour_bucket", F.lit("ALL")).alias("hour_bucket"),
            "n_events",
            "total_value",
        )
    )


# =============================================================================
# LLM layer — benchmark decontamination: flag training documents sharing
# word-3-gram shingles with an eval split (source 'src0' stands in for the
# held-out benchmark). Distinct shingles are exploded on both sides; the
# eval side is tiny and BROADCAST, so the contamination probe is a map-side
# hash join over the (much larger) training shingle stream — no shuffle
# until the per-document count, which is partial-agg combinable. This is
# the standard train/test-overlap sweep run before LLM pretraining.
# =============================================================================
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


@q(
    "corpus_decontaminate",
    f"""
    WITH tok AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, source, unnest({_SHINGLES_SQL}) AS shingle
      FROM tok
    ),
    ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE source = 'src0'),
    tr AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    tot AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM tr GROUP BY 1),
    hit AS (
      SELECT t.doc_id,
             count(DISTINCT t.shingle)::BIGINT AS n_shared,
             count(DISTINCT e.eval_id)::BIGINT AS n_eval_docs
      FROM tr t JOIN ev e ON t.shingle = e.shingle
      GROUP BY 1
    )
    SELECT h.doc_id, tot.n_shingles, h.n_shared, h.n_eval_docs,
           floor(h.n_shared::DOUBLE / tot.n_shingles * 10000 + 0.5) / 10000
             AS contamination
    FROM hit h JOIN tot ON h.doc_id = tot.doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(D._shingle_array("text", 3))).alias("shingle"),
    )
    ev = sh.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    tr = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    tot = tr.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hit = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )
    return hit.join(tot, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_shared",
        "n_eval_docs",
        (
            F.floor(F.col("n_shared") / F.col("n_shingles") * 10000 + F.lit(0.5))
            / 10000
        ).alias("contamination"),
    )


# =============================================================================
# LLM layer — similarity search over int8-quantized vectors: quantize the
# corpus (4x memory reduction — the form a 100 TB embedding store actually
# ships to ANN serving), dequantize on the fly, exact top-5 by cosine.
# Reuses the brute-force kernel on the dequantized column; ranking happens
# BEFORE rounding so near-tie neighbors order identically on both sides.
# =============================================================================
_QUANT_SQL = """
      SELECT vec_id,
             list_transform(ed, x -> vmin + CAST(floor((x - vmin) / scale + 0.5)
               AS BIGINT) * scale) AS dq
      FROM (
        SELECT vec_id, ed, list_min(ed) AS vmin,
               CASE WHEN list_max(ed) - list_min(ed) <= 0 THEN 1.0
                    ELSE (list_max(ed) - list_min(ed)) / 255.0 END AS scale
        FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ed
              FROM valid_embeddings)
      )
"""


@q(
    "sim_int8_topk",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    d AS ({_QUANT_SQL}),
    q AS (SELECT vec_id AS qid, dq AS qe FROM d WHERE vec_id < 10),
    s AS (
      SELECT qid AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(len(qe)), i -> qe[i+1] * c.dq[i+1]))
             / (sqrt(list_sum(list_transform(range(len(qe)), i -> qe[i+1] * qe[i+1])))
                * sqrt(list_sum(list_transform(range(len(c.dq)), i -> c.dq[i+1] * c.dq[i+1]))))
               AS cos
      FROM d c, q WHERE c.vec_id <> qid
    ),
    r AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC)::BIGINT AS rank
      FROM s
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
    FROM r WHERE rank <= 5
    """,
)
def sim_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    # quantize -> dequantize in ONE nested let-bound expression (vmin /
    # scale bound as lambda-var struct fields, never re-evaluated per
    # element — see emb_quantize_int8 above for the O(dim^2) rationale)
    dq_expr = """
    transform(array(transform(embedding, x -> CAST(x AS DOUBLE))), ed ->
      transform(array(struct(
          array_min(ed) AS vmin,
          CASE WHEN array_max(ed) - array_min(ed) <= 0D THEN 1.0D
               ELSE (array_max(ed) - array_min(ed)) / 255.0D END AS scale_raw)), p ->
        transform(ed, x -> p.vmin +
          CAST(CAST(floor((x - p.vmin) / p.scale_raw + 0.5D) AS BIGINT) AS DOUBLE)
          * p.scale_raw)
      )[0]
    )[0]
    """
    dq = emb.select("vec_id", F.expr(dq_expr).alias("embedding"))
    res = SIM.cosine_topk(dq, dq.filter(F.col("vec_id") < 10), k=5)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


# =============================================================================
# LLM layer — bigram language-model quality score (CCNet-style): score each
# document by the mean log conditional probability ln(C(ab)/C(a-)) of its
# word bigrams under the corpus's own bigram statistics. Three phases, each
# shuffle-bounded by vocabulary (not corpus) size: bigram explode is
# map-only; counts are partial-agg combinable; the score join is keyed on
# the bigram string, so it co-partitions with the count table. At 100 TB
# the count tables get a min-count threshold and the join stays hash-keyed.
# =============================================================================
@q(
    "text_bigram_logprob",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
        i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM tok
    ),
    bc AS (SELECT bigram, count(*)::BIGINT AS c_bg FROM bg GROUP BY 1),
    fc AS (SELECT string_split(bigram, ' ')[1] AS tok1, sum(c_bg)::BIGINT AS c_first
           FROM bc GROUP BY 1),
    scored AS (
      SELECT g.doc_id, ln(bc.c_bg::DOUBLE / fc.c_first) AS lp
      FROM bg g
      JOIN bc ON g.bigram = bc.bigram
      JOIN fc ON string_split(g.bigram, ' ')[1] = fc.tok1
    )
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           floor(avg(lp) * 10000 + 0.5) / 10000 AS avg_logprob
    FROM scored GROUP BY 1
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", F.explode(D._shingle_array("text", 2)).alias("bigram")
    )
    # ONE corpus pass and ONE corpus-scale shuffle (round-11 scan
    # sharing): the bigram stream aggregates once to (doc_id, bigram)
    # postings, lazily pinned; the bigram count table derives from the
    # postings and the per-doc score re-joins the SAME postings with
    # instance multiplicity as a weight. The old spelling scanned and
    # re-tokenized documents for the count table, for the totals, and
    # for the scoring join (3 full corpus reads at 100 TB); the
    # weighted mean sum(cnt*lp)/sum(cnt) is exactly the old
    # per-instance avg(lp).
    gb = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .transform(pin)
    )
    bc = gb.groupBy("bigram").agg(F.sum("cnt").alias("c_bg"))
    fc = (
        bc.withColumn("tok1", F.split("bigram", " ")[0])
        .groupBy("tok1")
        .agg(F.sum("c_bg").alias("c_first"))
    )
    # shuffle_hash: the pinned postings scan as an ExistingRDD with no
    # stats — the static planner would otherwise pick SMJ (the
    # er_resolution_pipeline precedent)
    scored = (
        gb.join(bc.hint("shuffle_hash"), "bigram")
        .withColumn("tok1", F.split("bigram", " ")[0])
        .join(fc.hint("shuffle_hash"), "tok1")
        .select(
            "doc_id", "cnt", F.log(F.col("c_bg") / F.col("c_first")).alias("lp")
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        (
            F.floor(F.sum(F.col("cnt") * F.col("lp")) / F.sum("cnt") * 10000 + F.lit(0.5))
            / 10000
        ).alias("avg_logprob"),
    )


# =============================================================================
# LLM layer — temperature-based source resampling (the multilingual /
# multi-source mixing rule: weight ~ size^alpha, alpha=0.7, so small
# sources are upsampled relative to their share). Two tiny aggregates over
# per-source totals; the per-source table is broadcast-scale regardless of
# corpus size, so the whole mixing computation is driver-negligible at
# 100 TB — the weights then parameterize sample_hash_mod-style selection.
# =============================================================================
@q(
    "sample_temperature_by_source",
    """
    WITH s AS (
      SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_docs, total_chars,
             pow(total_chars::DOUBLE / (SELECT sum(total_chars) FROM s), 0.7) AS raw
      FROM s
    )
    SELECT source, n_docs, total_chars,
           floor(raw / (SELECT sum(raw) FROM w) * 1000000 + 0.5) / 1000000 AS weight,
           CAST(floor(raw / (SELECT sum(raw) FROM w)
                * (SELECT sum(n_docs) FROM s) + 0.5) AS BIGINT) AS expected_samples
    FROM w
    """,
)
def sample_temperature_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    # The global totals come from UNPARTITIONED windows over the per-source
    # table (|sources| rows — single tiny partition by design), so the whole
    # query is ONE documents scan + one combinable aggregate; the earlier
    # crossJoin(broadcast(agg)) spelling re-scanned documents 4x.
    wall = Window.partitionBy()
    return (
        s.withColumn("g_chars", F.sum("total_chars").over(wall))
        .withColumn("g_docs", F.sum("n_docs").over(wall))
        .withColumn(
            "raw", F.pow(F.col("total_chars") / F.col("g_chars"), F.lit(0.7))
        )
        .withColumn("g_raw", F.sum("raw").over(wall))
        .select(
            "source",
            "n_docs",
            "total_chars",
            (F.floor(F.col("raw") / F.col("g_raw") * 1000000 + F.lit(0.5)) / 1000000)
            .alias("weight"),
            F.floor(F.col("raw") / F.col("g_raw") * F.col("g_docs") + F.lit(0.5))
            .cast("long")
            .alias("expected_samples"),
        )
    )


# =============================================================================
# LLM layer — MinHash calibration: for every LSH candidate pair, the
# signature-agreement Jaccard ESTIMATE (matching minhash positions / K)
# against the EXACT shingle Jaccard, with absolute error. This is the
# accuracy audit run before trusting a sketch config at corpus scale —
# the estimate is row-local (signatures already computed), and the exact
# verify runs only on the LSH candidates, never all pairs.
# =============================================================================
from social_and_media_data_ingestion_spark.operators import dedup as D  # noqa: E402
from social_and_media_data_ingestion_spark.plans.queries import (  # noqa: E402
    REGISTRY,
    _HASH_MINS,
    _LSH_BANDS,
    _LSH_BUCKETS,
    _LSH_ROWS,
    _MINHASH_K,
    _POLYHASH_SQL,
)

_EST_SQL = " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(_MINHASH_K)
)


@q(
    "dedup_minhash_calibration",
    f"""
    WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 300),
    hashed AS (
      SELECT doc_id AS id, {_POLYHASH_SQL.format(arr="toks")} AS hs FROM docs
    ),
    sigs AS (SELECT id, {_HASH_MINS} FROM hashed),
    banded AS (SELECT id, {_LSH_BUCKETS} FROM sigs),
    longf AS (
      {" UNION ALL ".join(f"SELECT id, {b} AS band, bucket{b} AS bucket FROM banded" for b in range(_LSH_BANDS))}
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM longf a JOIN longf b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    est AS (
      SELECT p.id_a, p.id_b, ({_EST_SQL})::DOUBLE / {_MINHASH_K} AS est_jaccard
      FROM pairs p
      JOIN sigs sa ON sa.id = p.id_a
      JOIN sigs sb ON sb.id = p.id_b
    ),
    sh AS (SELECT DISTINCT doc_id AS id, unnest(toks) AS shingle FROM docs),
    sizes AS (SELECT id, count(*)::BIGINT AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS j
      FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
    )
    SELECT e.id_a, e.id_b, e.est_jaccard,
           round(coalesce(x.j, 0.0), 6) AS exact_jaccard,
           floor(abs(e.est_jaccard - coalesce(x.j, 0.0)) * 10000 + 0.5) / 10000
             AS abs_err
    FROM est e LEFT JOIN ex x ON e.id_a = x.id_a AND e.id_b = x.id_b
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=1, num_hashes=_MINHASH_K)
    pairs = D.minhash_lsh_candidates(sigs, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v,
                    )
                ).cast("double")
                / F.lit(_MINHASH_K)
            ).alias("est_jaccard"),
        )
    )
    exact = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=1, threshold=0.0, candidates=pairs
    )
    ex = exact.select("id_a", "id_b", F.col("jaccard").alias("j"))
    return est.join(ex, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "est_jaccard",
        F.round(F.coalesce("j", F.lit(0.0)), 6).alias("exact_jaccard"),
        (
            F.floor(
                F.abs(F.col("est_jaccard") - F.coalesce("j", F.lit(0.0))) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("abs_err"),
    )


# =============================================================================
# LLM layer — ANN recall audit: recall@5 of the LSH-bucketed ANN against
# the exact brute-force top-5, per query vector. Composes the two registry
# plans; counts are exact multiples of 0.2 so the comparison is float-safe.
# The same audit pattern applies to the IVF variant.
# =============================================================================
_REG_BASE = {d.name: d for d in REGISTRY}


@q(
    "sim_ann_recall",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    exact AS ({_REG_BASE["sim_cosine_topk"].oracle}),
    approx AS ({_REG_BASE["sim_lsh_topk"].oracle})
    SELECT e.query_id,
           count(a.neighbor_id)::BIGINT AS n_hit,
           count(a.neighbor_id)::DOUBLE / 5 AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
    """,
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _REG_BASE["sim_cosine_topk"].spark(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = (
        _REG_BASE["sim_lsh_topk"].spark(spark, sf_dir)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hit"),
            (F.count("hit").cast("double") / 5).alias("recall_at_5"),
        )
    )


# =============================================================================
# §2.5 extension — linear-regression drift: value slope/intercept/
# correlation per event type over hours since 2024-01-01 (exact
# microsecond epochs on both sides). Built on EXPLICIT moment sums
# (n, Σx, Σy, Σx², Σxy, Σy²) rather than regr_slope/regr_intercept/
# corr: the r12 inf probe showed DuckDB's built-ins raise
# OutOfRangeException from their internal STDDEV_POP guard when a
# co-moment overflows at ±1e308, while plain double sums overflow to
# ±inf/NaN without crashing on either engine (the no-crash contract
# tests/test_numeric_extremes.py pins). Both engines evaluate the
# IDENTICAL closed forms — pairwise null filtering via conditional
# sums so empty/degenerate groups still emit a row of NULLs, matching
# regr_* group semantics. Still one map-combinable shuffle.
# =============================================================================
@q(
    "agg_linear_regression",
    """
    WITH p AS (
      SELECT event_type,
             (epoch_us(ts) / 1000000.0 - 1704067200) / 3600.0 AS x,
             value AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             count(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END)
               ::DOUBLE AS n,
             sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN x END) AS sx,
             sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN y END) AS sy,
             sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN x * x END)
               AS sxx,
             sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN x * y END)
               AS sxy,
             sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN y * y END)
               AS syy
      FROM p GROUP BY 1
    )
    SELECT event_type,
           floor(CASE WHEN n > 0 AND (n * sxx - sx * sx) <> 0
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END
                 * 1000000 + 0.5) / 1000000 AS slope_per_hour,
           floor(CASE WHEN n > 0 AND (n * sxx - sx * sx) <> 0
                      THEN (sy - (n * sxy - sx * sy)
                                 / (n * sxx - sx * sx) * sx) / n END
                 * 10000 + 0.5) / 10000 AS intercept,
           floor(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                      THEN (n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy)) END
                 * 10000 + 0.5) / 10000 AS r
    FROM m
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.plans.queries_ext5 import _r

    ev = t(spark, sf_dir, "events")
    x = (F.unix_micros("ts") / F.lit(1000000.0) - F.lit(1704067200)) / F.lit(3600.0)
    ev = ev.withColumn("x", x).withColumn("y", F.col("value"))
    ok = F.col("x").isNotNull() & F.col("y").isNotNull()

    def _csum(expr):
        return F.sum(F.when(ok, expr))

    m = ev.groupBy("event_type").agg(
        F.count(F.when(ok, F.lit(1))).cast("double").alias("n"),
        _csum(F.col("x")).alias("sx"),
        _csum(F.col("y")).alias("sy"),
        _csum(F.col("x") * F.col("x")).alias("sxx"),
        _csum(F.col("x") * F.col("y")).alias("sxy"),
        _csum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    dx = n * F.col("sxx") - sx * sx
    dy = n * F.col("syy") - sy * sy
    cov_n = n * F.col("sxy") - sx * sy
    slope = F.when((n > 0) & (dx != 0), cov_n / dx)
    intercept = F.when((n > 0) & (dx != 0), (sy - cov_n / dx * sx) / n)
    # _r (not bare floor) on the Spark side: Spark's floor(double)
    # returns LONG and saturates past 2^63; the oracle's double-native
    # floor is an arithmetic identity there, which _r reproduces
    corr = F.when((dx > 0) & (dy > 0), cov_n / (F.sqrt(dx) * F.sqrt(dy)))
    return m.select(
        "event_type",
        _r(slope, 6).alias("slope_per_hour"),
        _r(intercept, 4).alias("intercept"),
        _r(corr, 4).alias("r"),
    )


# =============================================================================
# LLM layer — token-distribution Shannon entropy per source: the standard
# corpus-diversity metric (low entropy -> repetitive/templated source,
# a curation red flag). Token counts are partial-combinable; the entropy
# reduction runs over the (source, token) count table, whose size is
# bounded by vocabulary, not corpus. ln(x)/ln(2) is used on BOTH sides
# rather than log2() so the engines evaluate the identical expression.
# =============================================================================
@q(
    "agg_entropy_by_source",
    f"""
    WITH tk AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    c AS (SELECT source, tok, count(*)::DOUBLE AS n FROM tk GROUP BY 1, 2),
    tot AS (SELECT source, sum(n) AS tot, count(*)::BIGINT AS n_types FROM c GROUP BY 1)
    SELECT c.source, any_value(n_types) AS vocab,
           floor(-sum((n / tot) * ln(n / tot) / ln(2)) * 10000 + 0.5) / 10000
             AS entropy_bits
    FROM c JOIN tot ON c.source = tot.source
    GROUP BY 1
    """,
)
def agg_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    tk = docs.select("source", F.explode(toks).alias("tok"))
    c = tk.groupBy("source", "tok").agg(F.count("*").cast("double").alias("n"))
    tot = c.groupBy("source").agg(
        F.sum("n").alias("tot"), F.count("*").alias("n_types")
    )
    p = F.col("n") / F.col("tot")
    return (
        c.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.any_value("n_types").alias("vocab"),
            (
                F.floor(
                    -F.sum(p * F.log(p) / F.lit(math.log(2.0))) * 10000 + F.lit(0.5)
                )
                / 10000
            ).alias("entropy_bits"),
        )
    )


# =============================================================================
# §2.6 extension — event-type transition matrix (first-order Markov):
# lead() within each user's time-ordered stream, then transition counts
# and per-source-state probabilities. One shuffle on user_id for the
# sequence reconstruction; the probability normalization runs on the tiny
# |types|^2 transition table.
# =============================================================================
@q(
    "events_transition_matrix",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      -- time-semantics contract (r13 fuzz): transition order over
      -- unknown-time rows is ill-defined; excluded on both engines
      FROM events WHERE ts IS NOT NULL
    ),
    p AS (
      SELECT event_type, next_type, count(*)::BIGINT AS n
      FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, next_type, n,
           floor(n::DOUBLE / sum(n) OVER (PARTITION BY event_type) * 10000 + 0.5)
             / 10000 AS p_next
    FROM p
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    p = (
        o.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("event_type")
    return p.select(
        "event_type",
        "next_type",
        "n",
        (
            F.floor(F.col("n") / F.sum("n").over(wt) * 10000 + F.lit(0.5)) / 10000
        ).alias("p_next"),
    )


# =============================================================================
# §2.6 extension — unpivot/melt: revenue decomposed into gross/discount/tax
# components per return flag. Spark's native unpivot emits the long format
# map-side (an Expand node, like rollup), so the only shuffle is the final
# partial-combinable aggregate — never a UNION of three scans.
# =============================================================================
@q(
    "unpivot_price_components",
    """
    WITH comp AS (
      SELECT l_returnflag, 'gross' AS component, l_extendedprice AS amount
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', l_extendedprice * l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'tax', l_extendedprice * (1 - l_discount) * l_tax
      FROM lineitem
    )
    SELECT l_returnflag, component, count(*)::BIGINT AS n,
           -- quantize-then-sum integer cents per component row (r13
           -- fuzz: round(sum(double),2) flips a cent when the float sum
           -- straddles a half-cent under run-to-run partial ordering)
           (sum(floor(amount * 100 + 0.5)::HUGEINT))::DOUBLE / 100 AS total
    FROM comp GROUP BY 1, 2
    """,
)
def unpivot_price_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    wide = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("gross"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("discount"),
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax")
        ).alias("tax"),
    )
    melted = wide.unpivot(
        ["l_returnflag"], ["gross", "discount", "tax"], "component", "amount"
    )
    cents = F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    return melted.groupBy("l_returnflag", "component").agg(
        F.count("*").alias("n"),
        (F.sum(cents).cast("double") / 100).alias("total"),
    )


# =============================================================================
# Growth analytics — cumulative distinct users per day. The naive spelling
# (COUNT(DISTINCT) over a growing window) is quadratic and unshardable;
# the scalable rewrite is first-seen-day per user (one combinable
# min-aggregate over the full stream) + a cumulative sum over the tiny
# per-day table — the global window runs on |days| rows, not |events|.
# =============================================================================
@q(
    "events_cumulative_distinct_users",
    """
    WITH fs AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS first_day
      FROM events GROUP BY 1
    ),
    nu AS (
      SELECT strftime(first_day, '%Y-%m-%d') AS day, count(*)::BIGINT AS new_users
      FROM fs GROUP BY 1
    )
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_users
    FROM nu
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.date_trunc("day", "ts")).alias("first_day"))
    nu = (
        fs.groupBy(F.date_format("first_day", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return nu.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


# =============================================================================
# LLM layer — boilerplate fraction per document (the CCNet line-dedup
# analog for flat token streams): a bigram is "boilerplate" when it occurs
# in >= 25 documents; each doc reports the fraction of its distinct
# bigrams that are boilerplate. Both exchanges are vocabulary-keyed
# (doc-frequency count, then the probe join co-partitions with it); the
# per-doc reduction is partial-combinable. At 100 TB the df table gets a
# min-count threshold and fits the same plan.
# =============================================================================
_BP_DF = 25


@q(
    "text_boilerplate_fraction",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
          i -> toks[i] || ' ' || toks[i+1]))) AS shingle
      FROM tok
    ),
    df AS (SELECT shingle, count(*)::BIGINT AS doc_freq FROM sh GROUP BY 1),
    j AS (
      SELECT s.doc_id, CASE WHEN df.doc_freq >= {_BP_DF} THEN 1 ELSE 0 END AS is_bp
      FROM sh s JOIN df ON s.shingle = df.shingle
    )
    SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(is_bp)::BIGINT AS n_boilerplate,
           floor(sum(is_bp)::DOUBLE / count(*) * 10000 + 0.5) / 10000 AS bp_fraction
    FROM j GROUP BY 1
    """,
)
def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(D._shingle_array("text", 2))).alias("shingle"),
    )
    df_ = sh.groupBy("shingle").agg(F.count("*").alias("doc_freq"))
    j = sh.join(df_, "shingle").select(
        "doc_id",
        F.when(F.col("doc_freq") >= _BP_DF, F.lit(1)).otherwise(F.lit(0)).alias(
            "is_bp"
        ),
    )
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("is_bp").alias("n_boilerplate"),
        (
            F.floor(F.sum("is_bp") / F.count("*") * 10000 + F.lit(0.5)) / 10000
        ).alias("bp_fraction"),
    )


# =============================================================================
# Association analytics — market-basket part pairs: parts co-ordered in the
# same order, top-20 by support. The pair expansion is an equi-join keyed
# on l_orderkey (co-partitioned, never a cross join); pairs per order are
# bounded by lines-per-order squared (~49). Top-k goes through orderBy +
# limit (TakeOrderedAndProject — distributed partial top-k per partition),
# then ranks the 20 survivors.
# =============================================================================
@q(
    "orders_market_basket",
    """
    WITH pr AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*)::BIGINT AS n_orders
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    top AS (SELECT * FROM pr ORDER BY n_orders DESC, part_a, part_b LIMIT 20)
    SELECT part_a, part_b, n_orders,
           row_number() OVER (ORDER BY n_orders DESC, part_a, part_b)::BIGINT AS rk
    FROM top
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders"))
    )
    top = pr.orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")).limit(20)
    w = Window.orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


# =============================================================================
# LLM layer — IVF ANN recall audit (same pattern as sim_ann_recall, for the
# IVF variant): recall@5 of centroid-probed search vs brute-force top-5.
# =============================================================================
@q(
    "sim_ivf_recall",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    exact AS ({_REG_BASE["sim_cosine_topk"].oracle}),
    approx AS ({_REG_BASE["sim_ivf_topk"].oracle})
    SELECT e.query_id,
           count(a.neighbor_id)::BIGINT AS n_hit,
           count(a.neighbor_id)::DOUBLE / 5 AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
    """,
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _REG_BASE["sim_cosine_topk"].spark(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = (
        _REG_BASE["sim_ivf_topk"].spark(spark, sf_dir)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hit"),
            (F.count("hit").cast("double") / 5).alias("recall_at_5"),
        )
    )


# =============================================================================
# LLM layer — recall audit for the Lloyd-refined IVF: same exact-vs-approx
# recall@5 as sim_ivf_recall, over sim_ivf_lloyd_topk. Comparing the two
# audits quantifies what 2 k-means rounds buy at the SAME nprobe — the
# accuracy check needed before trusting the cheaper index config.
# =============================================================================
@q(
    "sim_ivf_lloyd_recall",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    exact AS ({_REG_BASE["sim_cosine_topk"].oracle}),
    approx AS ({_REG_BASE["sim_ivf_lloyd_topk"].oracle})
    SELECT e.query_id,
           count(a.neighbor_id)::BIGINT AS n_hit,
           count(a.neighbor_id)::DOUBLE / 5 AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
    """,
)
def sim_ivf_lloyd_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _REG_BASE["sim_cosine_topk"].spark(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = (
        _REG_BASE["sim_ivf_lloyd_topk"].spark(spark, sf_dir)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hit"),
            (F.count("hit").cast("double") / 5).alias("recall_at_5"),
        )
    )


# =============================================================================
# §2.6 extension — gaps-and-islands: longest streak of consecutive active
# months per customer via the classic index-minus-row_number grouping.
# One shuffle on the customer key; the streak bookkeeping is entirely
# partition-local window + agg over the deduplicated (customer, month)
# table, which is orders-of-magnitude smaller than the fact table.
# =============================================================================
@q(
    "window_activity_streaks",
    """
    WITH m AS (
      SELECT DISTINCT o_custkey,
             CAST(date_part('year', o_orderdate) * 12
                  + date_part('month', o_orderdate) AS BIGINT) AS mi
      FROM orders
    ),
    g AS (
      SELECT o_custkey, mi,
             mi - row_number() OVER (PARTITION BY o_custkey ORDER BY mi) AS grp
      FROM m
    ),
    s AS (
      SELECT o_custkey, count(*)::BIGINT AS streak_months
      FROM g GROUP BY o_custkey, grp
    )
    SELECT o_custkey, max(streak_months)::BIGINT AS longest_streak,
           count(*)::BIGINT AS n_streaks
    FROM s GROUP BY 1
    """,
)
def window_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    m = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mi"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("mi")
    g = m.withColumn("grp", F.col("mi") - F.row_number().over(w))
    s = g.groupBy("o_custkey", "grp").agg(F.count("*").alias("streak_months"))
    return s.groupBy("o_custkey").agg(
        F.max("streak_months").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


# =============================================================================
# Growth analytics — RFM segmentation: recency/frequency/monetary quartiles
# per customer, reported as segment sizes. The fact table reduces to one
# row per customer FIRST (combinable agg); the three ntile windows then run
# over the |customers| table. At 100 TB the quartile step works on ~10^7
# rows, not 10^12 — and could switch to approx percentile cutoffs if even
# that table outgrew a window sort.
# =============================================================================
@q(
    "orders_rfm_segmentation",
    """
    WITH rfm AS (
      -- monetary in exact integer CENTS (quantize-then-sum, r7
      -- duplicate-rows probe: the float sum's partial order flipped
      -- the last cent run-to-run); cents order == dollars order, so
      -- the quartile windows are unchanged
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*)::BIGINT AS frequency,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS m_cents
      FROM orders GROUP BY 1
    ),
    q AS (
      -- NULLS LAST spelled on every key, BOTH engines (r13 fuzz): the
      -- o_custkey tie-break can be NULL (a NULL custkey is a real
      -- group) and Spark's ASC default is NULLS FIRST vs DuckDB's LAST
      SELECT o_custkey, frequency, m_cents,
             ntile(4) OVER (ORDER BY last_order DESC NULLS LAST,
                            o_custkey NULLS LAST) AS r_q,
             ntile(4) OVER (ORDER BY frequency DESC NULLS LAST,
                            o_custkey NULLS LAST) AS f_q,
             ntile(4) OVER (ORDER BY m_cents DESC NULLS LAST,
                            o_custkey NULLS LAST) AS m_q
      FROM rfm
    )
    SELECT (r_q::VARCHAR || f_q::VARCHAR || m_q::VARCHAR) AS segment,
           count(*)::BIGINT AS n_customers,
           floor(avg(m_cents) + 0.5) / 100 AS avg_monetary
    FROM q GROUP BY 1
    """,
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle uses three unpartitioned ntile windows; here the three
    # quartiles come from ONE fused distributed-ntile pass (r13 opt
    # round): the customer-grain table is union-tagged 3 ways (one tag
    # per R/F/M sort key, every key order-embedded into a single LONG),
    # range-partitioned ONCE on (tag, value DESC, custkey), and a
    # map-only Arrow pass assigns each tag's exact global ntile bucket
    # from per-(partition, tag) offset counts — the same bucket formula
    # and total order as operators.scale.global_ntile, so the buckets
    # are hash-identical. vs the previous 3 sequential global_ntile
    # calls: ONE range shuffle of 3n skinny rows + one bounded collect
    # instead of three range shuffles + three pid re-exchanges + three
    # collects (guide §2.4); no single task ever sorts the whole table.
    from social_and_media_data_ingestion_spark.operators.scale import (
        _default_partitions,
    )

    orders = t(spark, sf_dir, "orders")
    # monetary as exact integer CENTS (quantize-then-sum, r7
    # duplicate-rows probe): the quartile order is unchanged (cents
    # order == dollars order) and the segment average divides exact
    # integers instead of re-summing floats
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("m_cents"),
    )
    # order-preserving LONG embeddings of the three sort keys
    # (last_order -> epoch MICROS via a timestamp cast, NOT epoch days:
    # the ingestion contract allows o_orderdate to arrive as a full
    # timestamp, and a day-granular embedding would collapse same-day
    # instants into ties the original per-key ntile order never had —
    # caught by the r13 orders fuzz seeds 1013/2013;
    # frequency/m_cents are already LONG); NULL keys stay NULL and sort
    # last under desc_nulls_last, exactly as in the per-key ntile
    # orders they replace
    tags = [
        (1, F.unix_micros(F.col("last_order").cast("timestamp"))),
        (2, F.col("frequency").cast("long")),
        (3, F.col("m_cents").cast("long")),
    ]
    tagged = None
    for tg, val in tags:
        part = rfm.select(
            F.lit(tg).alias("__tag"),
            val.alias("__val"),
            "o_custkey",
            "m_cents",
        )
        tagged = part if tagged is None else tagged.unionAll(part)
    sort_cols = [
        F.asc("__tag"),
        F.desc_nulls_last("__val"),
        F.asc_nulls_last("o_custkey"),
    ]
    ranged = (
        tagged.repartitionByRange(_default_partitions(spark), *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .transform(pin)
    )
    counts = ranged.groupBy("__pid", "__tag").count().collect()
    # per-(pid, tag) global-rank offsets and the per-tag row count n —
    # bounded O(partitions x 3) driver state
    offsets: dict[tuple[int, int], int] = {}
    n_per_tag: dict[int, int] = {}
    for row in sorted(counts, key=lambda r: (r["__tag"], r["__pid"])):
        offsets[(row["__pid"], row["__tag"])] = n_per_tag.get(row["__tag"], 0)
        n_per_tag[row["__tag"]] = (
            n_per_tag.get(row["__tag"], 0) + row["count"]
        )
    # standard SQL ntile split per tag (first n % k buckets get one
    # extra row) — the global_ntile formula, precomputed driver-side
    k = 4
    params = {
        tg: (divmod(n, k)) for tg, n in n_per_tag.items()
    }  # tag -> (base, rem)
    names_in = [f.name for f in ranged.schema.fields]
    tag_i = names_in.index("__tag")
    cust_i = names_in.index("o_custkey")
    cents_i = names_in.index("m_cents")
    pid_i = names_in.index("__pid")
    cust_dt = ranged.schema["o_custkey"].dataType.simpleString()
    out_schema = (
        f"o_custkey {cust_dt}, m_cents bigint, __tag int, __bucket bigint"
    )

    def _buckets(it):
        import numpy as np
        import pyarrow as pa

        pos: dict[int, int] = {}  # tag -> next 0-based global rank
        pid = None
        for rb in it:
            if rb.num_rows == 0:
                continue
            if pid is None:
                pid = rb.column(pid_i)[0].as_py()
            tg_arr = rb.column(tag_i).to_numpy(zero_copy_only=False)
            ranks = np.empty(len(tg_arr), dtype=np.int64)
            bounds = (
                [0]
                + (np.flatnonzero(np.diff(tg_arr)) + 1).tolist()
                + [len(tg_arr)]
            )
            buckets = np.empty(len(tg_arr), dtype=np.int64)
            for i0, i1 in zip(bounds[:-1], bounds[1:]):
                tg = int(tg_arr[i0])
                start = pos.get(tg, offsets.get((pid, tg), 0))
                ranks[i0:i1] = np.arange(start + 1, start + 1 + (i1 - i0))
                pos[tg] = start + (i1 - i0)
                base, rem = params[tg]
                cut = rem * (base + 1)
                rk = ranks[i0:i1]
                first = (rk - 1) // (base + 1) + 1
                if base > 0:
                    rest = (rk - 1 - cut) // base + rem + 1
                    buckets[i0:i1] = np.where(rk <= cut, first, rest)
                else:
                    buckets[i0:i1] = first
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(cust_i),
                    rb.column(cents_i),
                    rb.column(tag_i),
                    pa.array(buckets, type=pa.int64()),
                ],
                names=["o_custkey", "m_cents", "__tag", "__bucket"],
            )

    assigned = ranged.mapInArrow(_buckets, out_schema)
    # pivot the three tag rows back to one row per customer (NULL
    # custkey is a real group and groupBy keeps it); m_cents rides every
    # replica, so any aggregate of it per key returns the key's value
    seg = assigned.groupBy("o_custkey").agg(
        F.max(F.when(F.col("__tag") == 1, F.col("__bucket"))).alias("r_q"),
        F.max(F.when(F.col("__tag") == 2, F.col("__bucket"))).alias("f_q"),
        F.max(F.when(F.col("__tag") == 3, F.col("__bucket"))).alias("m_q"),
        F.max("m_cents").alias("m_cents"),
    )
    seg = seg.select(
        "m_cents",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("segment"),
    )
    return seg.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        (F.floor(F.avg("m_cents") + F.lit(0.5)) / 100).alias("avg_monetary"),
    )


# =============================================================================
# LLM layer — per-dimension variance ranking over the embedding corpus
# (variance-based feature selection / dead-dimension detection). One
# posexplode (map-only) + one combinable aggregate keyed on dimension —
# the ranked table has |dim| rows regardless of corpus size.
# =============================================================================
@q(
    "emb_dim_variance",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    ex AS (
      SELECT unnest(range(len(embedding))) AS pos,
             unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
      FROM valid_embeddings
    ),
    v AS (SELECT pos, var_samp(val) AS variance FROM ex GROUP BY 1),
    r AS (SELECT pos::BIGINT AS dim, variance,
                 row_number() OVER (ORDER BY variance DESC, pos) AS rk FROM v)
    SELECT dim, floor(variance * 100000000 + 0.5) / 100000000 AS variance,
           rk::BIGINT AS rk
    FROM r WHERE rk <= 16
    """,
)
def emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    ex = emb.select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        )
    )
    v = ex.groupBy("pos").agg(F.var_samp("val").alias("variance"))
    top = v.orderBy(F.desc("variance"), F.asc("pos")).limit(16)
    w = Window.orderBy(F.desc("variance"), F.asc("pos"))
    return (
        top.withColumn("rk", F.row_number().over(w).cast("long"))
        .select(
            F.col("pos").cast("long").alias("dim"),
            (F.floor(F.col("variance") * 100000000 + F.lit(0.5)) / 100000000).alias(
                "variance"
            ),
            "rk",
        )
    )


# =============================================================================
# DQ — embedding DIMENSION audit: the histogram of vector lengths over
# the RAW table (deliberately not vectors(): the audit must see what
# the contract would filter), with the modal dimension flagged. The
# dimension contract companion to the valid-vector contract
# (plans/tables.py): vector math assumes a dim-consistent corpus —
# zip_with silently truncates a wrong-dim pair to the shorter length
# and index-based access ANSI-crashes past the shorter end (r7
# mixed-dim probe: 18 of 24 vector queries corrupt or die on 3 bad
# rows) — so this one-scan partial-aggregable gate is the ingestion
# enforcement point, and `vectors(dim=...)` is the cure. NULL
# embeddings group under a NULL dim (size(NULL) is NULL on both
# engines); the modal pick orders NULLS LAST explicitly since Spark
# ASC defaults NULLS FIRST where DuckDB defaults NULLS LAST.
# =============================================================================
@q(
    "emb_dim_audit",
    """
    WITH d AS (
      SELECT len(embedding)::BIGINT AS dim, count(*)::BIGINT AS n
      FROM embeddings GROUP BY 1
    ),
    tot AS (SELECT sum(n)::BIGINT AS tot FROM d)
    SELECT dim, n,
           (row_number() OVER (ORDER BY n DESC, dim ASC NULLS LAST) = 1)
             AS is_modal,
           floor(n::DOUBLE / tot * 1000000 + 0.5) / 1000000 AS frac_r
    FROM d, tot
    """,
)
def emb_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    d = (
        emb.select(F.size("embedding").cast("long").alias("dim"))
        .groupBy("dim")
        .agg(F.count("*").alias("n"))
    )
    tot = d.agg(F.sum("n").alias("tot"))
    w = Window.orderBy(F.desc("n"), F.asc_nulls_last("dim"))
    return (
        d.crossJoin(F.broadcast(tot))
        .withColumn("is_modal", F.row_number().over(w) == 1)
        .select(
            "dim",
            "n",
            "is_modal",
            (
                F.floor(F.col("n") / F.col("tot") * 1000000 + F.lit(0.5))
                / 1000000
            ).alias("frac_r"),
        )
    )


# =============================================================================
# LLM layer — canonical selection: per near-dup cluster, keep the "best"
# member (longest text, doc_id as tie-break) and count what gets dropped —
# the decision step that turns clustering into an actual dedup. The
# argmax is a struct-max AGGREGATE (partial-combinable, no per-cluster
# window sort); cluster ids come from the same connected-components
# label propagation as dedup_near_dup_clusters.
# =============================================================================
@q(
    "dedup_canonical_selection",
    f"""
    WITH RECURSIVE
    docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 300),
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
    ),
    clusters AS (
      SELECT node::BIGINT AS id, min(root)::BIGINT AS cluster_id
      FROM reach GROUP BY node
    )
    SELECT c.cluster_id,
           first(d.doc_id ORDER BY d.n_chars DESC, d.doc_id ASC)::BIGINT
             AS canonical_id,
           count(*)::BIGINT AS n_members,
           (count(*) - 1)::BIGINT AS n_dropped,
           max(d.n_chars)::BIGINT AS kept_chars
    FROM clusters c JOIN documents d ON d.doc_id = c.id
    GROUP BY 1
    """,
)
def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    edges = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.75)
    clusters = D.connected_components(edges)
    j = clusters.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    # struct-max argmax: (n_chars, -id) lexicographic max = longest text,
    # lowest doc_id on ties — combinable, no per-cluster window sort
    best = F.max(
        F.struct(
            F.col("n_chars").alias("chars"), (-F.col("id")).alias("neg_id")
        )
    )
    return j.groupBy("cluster_id").agg(
        (-best.getField("neg_id")).cast("long").alias("canonical_id"),
        F.count("*").alias("n_members"),
        (F.count("*") - 1).cast("long").alias("n_dropped"),
        F.max("n_chars").cast("long").alias("kept_chars"),
    )


# =============================================================================
# Growth analytics — audience overlap matrix: Jaccard between the
# high-value user sets of each event-type pair. The fact table reduces to
# distinct (type, user) FIRST; the pair join then runs keyed on user_id
# over that reduced table, and the |types|^2 output is tiny. The exact
# twin of the MinHash estimate — at 10^9 users per audience you would swap
# the distinct sets for per-type MinHash sketches (dedup.minhash machinery)
# and keep this query as the calibration oracle on a sample.
# =============================================================================
@q(
    "events_audience_overlap",
    """
    WITH au AS (SELECT DISTINCT event_type, user_id FROM events WHERE value >= 90),
    sz AS (SELECT event_type, count(*)::BIGINT AS n FROM au GROUP BY 1),
    ov AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*)::BIGINT AS n_both
      FROM au a JOIN au b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           floor(n_both::DOUBLE / (sa.n + sb.n - n_both) * 10000 + 0.5) / 10000
             AS jaccard
    FROM ov
    JOIN sz sa ON sa.event_type = type_a
    JOIN sz sb ON sb.event_type = type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    au = ev.filter(F.col("value") >= 90).select("event_type", "user_id").distinct()
    sz = au.groupBy("event_type").agg(F.count("*").alias("n"))
    a = au.alias("a")
    b = au.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        ov.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            (
                F.floor(
                    F.col("n_both")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("jaccard"),
        )
    )


# =============================================================================
# Time-series analytics — time-weighted average (TWAP) of value per user:
# each observation is weighted by how long it was "current" (gap to the
# next event), the hypertable time_weight aggregate. One shuffle on
# user_id; the lead() and weighted reduction are partition-local.
# Durations come from exact microsecond epochs on both sides.
# =============================================================================
@q(
    "events_time_weighted_avg",
    """
    WITH o AS (
      SELECT user_id, value, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
      -- time-semantics contract (r13 fuzz): interval durations need a
      -- known time; unknown-time rows excluded on both engines
      FROM events WHERE ts IS NOT NULL
    ),
    w AS (
      SELECT user_id, value,
             epoch_us(next_ts) / 1000000.0 - epoch_us(ts) / 1000000.0 AS dur
      FROM o WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           floor(sum(value * dur) / sum(dur) * 10000 + 0.5) / 10000 AS twap,
           count(*)::BIGINT AS n_intervals
    FROM w GROUP BY 1
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "value", "ts", F.lead("ts").over(w).alias("next_ts")
    )
    d = o.filter(F.col("next_ts").isNotNull()).select(
        "user_id",
        "value",
        (
            F.unix_micros("next_ts") / F.lit(1000000.0)
            - F.unix_micros("ts") / F.lit(1000000.0)
        ).alias("dur"),
    )
    return d.groupBy("user_id").agg(
        (
            F.floor(
                F.sum(F.col("value") * F.col("dur")) / F.sum("dur") * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("twap"),
        F.count("*").alias("n_intervals"),
    )


# =============================================================================
# FLAGSHIP COMPOSITE — the entire pretraining-curation pipeline
# (pipelines.pretraining_corpus_pipeline) verified against ONE oracle:
# quality gate -> exact fingerprint dedup -> LSH near-dedup with
# canonical keep -> bigram decontamination vs the src0 eval split.
# Every stage reuses a fragment already proven by its standalone query
# (corpus_curate_pipeline, dedup_minhash_lsh_pairs, dedup_near_dup_
# clusters, corpus_decontaminate), so this pins the COMPOSITION:
# stage order, survivor threading, and anti-join semantics.
# =============================================================================
from social_and_media_data_ingestion_spark import pipelines as PL  # noqa: E402
from social_and_media_data_ingestion_spark.plans.queries import (  # noqa: E402
    _SHINGLE_SQL,
    _lang_hits_sql,
)
from social_and_media_data_ingestion_spark.plans.queries_ext import (  # noqa: E402
    _CURATE_FP_SQL,
)

_FC_OVERLAP = 0.85


@q(
    "corpus_full_curation",
    rf"""
    WITH RECURSIVE
    train AS (SELECT * FROM documents WHERE source <> 'src0'),
    feats AS (
      SELECT doc_id, source, n_chars,
             {_TOKS} AS toks,
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
      FROM train
    ),
    gated AS (
      SELECT doc_id, source, n_chars, toks, {_CURATE_FP_SQL}::BIGINT AS fp
      FROM feats
      WHERE greatest(h_en, h_de, h_es, h_fr) > 0
        AND h_en = greatest(h_en, h_de, h_es, h_fr)
        AND n_tok BETWEEN 10 AND 1000
        AND pr <= 0.2
    ),
    -- the dedup survivor CARRIES its own columns forward — re-joining
    -- train by doc_id resurrected every physical duplicate of a
    -- surviving id (r13 fuzz: legal whole-row re-ingest dups fanned the
    -- survivor set back out; the Spark pipeline carries the deduped
    -- frame itself and never re-reads the input)
    surv AS MATERIALIZED (
      SELECT doc_id, source, n_chars, toks FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    hashed AS (
      -- 3-gram shingles (see pipelines.near_dedup): discriminative at
      -- scale, unlike unigrams whose background overlap floods the bands
      SELECT doc_id AS id, n_chars,
             {_POLYHASH_SQL.format(arr=_SHINGLE_SQL)} AS hs
      FROM surv
    ),
    sigs AS (SELECT id, {_HASH_MINS} FROM hashed),
    banded AS (SELECT id, {_LSH_BUCKETS} FROM sigs),
    longf AS (
      {" UNION ALL ".join(f"SELECT id, {b} AS band, bucket{b} AS bucket FROM banded" for b in range(_LSH_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM longf a JOIN longf b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    sh AS (SELECT DISTINCT doc_id AS id, unnest({_SHINGLE_SQL}) AS shingle
           FROM surv),
    sizes AS (SELECT id, count(*)::BIGINT AS sz FROM sh GROUP BY id),
    -- candidate-restricted intersection (mirrors the engine: Jaccard is
    -- verified only on LSH candidates, never all-pairs)
    inter AS (
      SELECT c.id_a, c.id_b, count(*)::BIGINT AS i
      FROM cand c
      JOIN sh a ON a.id = c.id_a
      JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT i.id_a, i.id_b FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE i.i::DOUBLE / (sa.sz + sb.sz - i.i) >= 0.75
    ),
    bi AS (SELECT id_a AS s, id_b AS t FROM edges
           UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT s AS node, s AS root FROM bi
      UNION
      SELECT b.t AS node, r.root FROM reach r JOIN bi b ON b.s = r.node
    ),
    clusters AS MATERIALIZED (
      SELECT node::BIGINT AS id, min(root)::BIGINT AS cluster_id
      FROM reach GROUP BY node
    ),
    canon AS MATERIALIZED (
      SELECT cluster_id,
             first(c.id ORDER BY h.n_chars DESC, c.id ASC) AS canonical_id
      FROM clusters c JOIN hashed h ON h.id = c.id
      GROUP BY 1
    ),
    nd_surv AS MATERIALIZED (
      SELECT s.* FROM surv s
      WHERE s.doc_id NOT IN (
        SELECT c.id FROM clusters c
        WHERE c.id NOT IN (SELECT canonical_id FROM canon)
      )
    ),
    tr_sh AS MATERIALIZED (
      -- word-3-gram shingles, matching pipelines.decontaminate
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM nd_surv
    ),
    ev_sh AS (
      SELECT DISTINCT unnest(list_distinct(
        list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM (SELECT {_TOKS} AS toks FROM documents WHERE source = 'src0')
    ),
    tot AS (SELECT doc_id, count(*)::BIGINT AS n FROM tr_sh GROUP BY 1),
    hit AS (
      SELECT t.doc_id, count(*)::BIGINT AS h
      FROM tr_sh t JOIN ev_sh e ON t.shingle = e.shingle
      GROUP BY 1
    ),
    contaminated AS (
      SELECT tot.doc_id FROM tot JOIN hit ON tot.doc_id = hit.doc_id
      WHERE hit.h::DOUBLE / tot.n > {_FC_OVERLAP}
    )
    SELECT s.doc_id, s.source, s.n_chars::BIGINT AS n_chars
    FROM nd_surv s
    WHERE s.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def corpus_full_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    eval_docs = docs.filter(F.col("source") == "src0")
    # persist=True: the gate+dedup lineage re-executes once per later
    # stage otherwise (measured 125s vs 51s at sf0.1 — the stage-boundary
    # cache is the same call a cluster run would make with checkpoints).
    stages = PL.pretraining_corpus_pipeline(
        train, eval_docs, max_overlap=_FC_OVERLAP, persist=True
    )
    return stages["decontaminated"].select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# =============================================================================
# LLM layer — Zipf-law fit: regress ln(frequency) on ln(rank) over the top
# token ranks. Natural corpora fit slope ~ -1; a flat slope (like this
# synthetic near-uniform vocabulary) or broken fit flags templated or
# machine-generated text. Token counts are combinable; the regression
# runs over the tiny rank table.
# =============================================================================
@q(
    "text_zipf_fit",
    f"""
    WITH tk AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    c AS (SELECT tok, count(*)::BIGINT AS n FROM tk GROUP BY 1),
    r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM c)
    SELECT count(*)::BIGINT AS n_ranks,
           floor(regr_slope(ln(n::DOUBLE), ln(rk::DOUBLE)) * 10000 + 0.5) / 10000
             AS zipf_slope,
           floor(regr_r2(ln(n::DOUBLE), ln(rk::DOUBLE)) * 10000 + 0.5) / 10000
             AS r2
    FROM r WHERE rk <= 100
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    c = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    # distributed top-100 first (TakeOrderedAndProject partial top-k per
    # partition) — never a global rank window over the full vocabulary
    top = c.orderBy(F.desc("n"), F.asc("tok")).limit(100)
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    r = top.withColumn("rk", F.row_number().over(w))
    ln_n = F.log(F.col("n").cast("double"))
    ln_rk = F.log(F.col("rk").cast("double"))
    return r.agg(
        F.count("*").alias("n_ranks"),
        (F.floor(F.regr_slope(ln_n, ln_rk) * 10000 + F.lit(0.5)) / 10000).alias(
            "zipf_slope"
        ),
        (F.floor(F.regr_r2(ln_n, ln_rk) * 10000 + F.lit(0.5)) / 10000).alias("r2"),
    )


# =============================================================================
# §2.6 extension — grouped top-k: the 3 longest documents per source.
# Rank windows are PARTITIONED by source (never a global sort): each
# group ranks locally after one shuffle on the group key, so the pattern
# holds at any number of groups x corpus size.
# =============================================================================
@q(
    "docs_topk_per_source",
    """
    SELECT source, doc_id, n_chars, rk FROM (
      SELECT source, doc_id, n_chars::BIGINT AS n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC)::BIGINT AS rk
      FROM documents
    ) WHERE rk <= 3
    """,
)
def docs_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


# =============================================================================
# LLM layer — fixed-quota deterministic sampling: exactly 5 docs per
# source, chosen by ranking on the content fingerprint (the reservoir-
# sample analog that is reproducible across runs and engines — no RNG).
# Complements sample_stratified_hash (rate-based): quotas guarantee
# exact per-stratum sizes for eval-set construction. Partition-local
# rank after one shuffle on source.
# =============================================================================
@q(
    "sample_fixed_quota_per_source",
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
             -- -1 for NULL text: the window ORDER BY must never see a
             -- NULL key — Spark sorts NULLS FIRST, DuckDB NULLS LAST,
             -- so a NULL fingerprint silently permutes every rank in
             -- its partition (r7 null-riddled harness)
             CASE WHEN cs IS NULL THEN -1
                  WHEN len(cs) = 0 THEN 0
                  ELSE list_reduce(cs, (acc, x) -> (acc * 31 + x) % 1000000007)
             END::BIGINT AS fp
      FROM d
    )
    SELECT source, doc_id, rk FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY fp, doc_id)::BIGINT AS rk
      FROM fp
    ) WHERE rk <= 5
    """,
)
def sample_fixed_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import text_analysis as TA

    docs = t(spark, sf_dir, "documents")
    # -1 for NULL text (mirrors the oracle CASE): Spark orders ASC
    # NULLS FIRST but DuckDB NULLS LAST, so a NULL sampling key would
    # permute every rank in its partition between engines
    fp = F.coalesce(TA.rolling_fingerprint("text"), F.lit(-1))
    w = Window.partitionBy("source").orderBy(fp, F.asc("doc_id"))
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).cast("long").alias("rk")
        )
        .filter(F.col("rk") <= 5)
    )


# =============================================================================
# Reporting — day-over-day percent change of total value per event type:
# lag() over the per-(type, day) aggregate, so the window touches
# |types| x |days| rows regardless of event volume.
# =============================================================================
@q(
    "events_percent_change_daily",
    """
    WITH daily AS (
      SELECT event_type,
             strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
             round(sum(value), 2) AS total
      -- time-semantics contract (r13 fuzz): a NULL day group would
      -- sort FIRST in Spark's lag window and LAST in DuckDB's,
      -- shifting the whole pct_change chain
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, day, total,
           floor(coalesce((total - lag(total) OVER w) / lag(total) OVER w, 0.0)
                 * 10000 + 0.5) / 10000 AS pct_change
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def events_percent_change_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.round(F.sum("value"), 2).alias("total"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("total").over(w)
    return daily.select(
        "event_type",
        "day",
        "total",
        (
            F.floor(
                # try_divide: a zero-revenue previous day must yield
                # pct_change 0.0 (via NULL -> coalesce), not an ANSI
                # DIVIDE_BY_ZERO crash — DuckDB's x/0 is NULL, so the
                # oracle always had the coalesce path (r7
                # extreme-values probe)
                F.coalesce(
                    F.try_divide(F.col("total") - prev, prev), F.lit(0.0)
                )
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("pct_change"),
    )


# =============================================================================
# §2.5 extension — bitwise aggregate family (bit_and/bit_or/bit_xor):
# used for permission masks, bloom-style membership unions, parity checks.
# Plain combinable aggregates, one shuffle.
# =============================================================================
@q(
    "agg_bitwise_masks",
    """
    SELECT event_type,
           bit_and(event_id)::BIGINT AS band,
           bit_or(event_id)::BIGINT AS bor,
           bit_xor(event_id)::BIGINT AS bxor
    FROM events GROUP BY 1
    """,
)
def agg_bitwise_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_and("event_id").alias("band"),
        F.bit_or("event_id").alias("bor"),
        F.bit_xor("event_id").alias("bxor"),
    )


# =============================================================================
# §2.5 extension — robust statistics: median and median absolute deviation
# per event type (the outlier-resistant mean/stddev pair). Two passes:
# per-group median (full-sort aggregate over each group), broadcast back,
# then median of absolute deviations. At 100 TB swap exact median for
# percentile_approx with the same shape.
# =============================================================================
@q(
    "agg_median_mad",
    """
    WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
      FROM events e JOIN med m ON e.event_type = m.event_type
    )
    SELECT event_type,
           floor(any_value(med) * 10000 + 0.5) / 10000 AS median_value,
           floor(median(ad) * 10000 + 0.5) / 10000 AS mad
    FROM dev GROUP BY 1
    """,
)
def agg_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("ad"), "med"
    )
    return dev.groupBy("event_type").agg(
        (F.floor(F.any_value("med") * 10000 + F.lit(0.5)) / 10000).alias(
            "median_value"
        ),
        (F.floor(F.median("ad") * 10000 + F.lit(0.5)) / 10000).alias("mad"),
    )


# =============================================================================
# Reporting — hour-of-day activity profile per event type (seasonality
# fingerprint): counts and share of each type's daily cycle. Partial-
# combinable aggregate; the share normalization runs over the tiny
# |types| x 24 table.
# =============================================================================
@q(
    "events_hour_profile",
    """
    WITH h AS (
      SELECT event_type, CAST(date_part('hour', ts) AS BIGINT) AS hour,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hour, n,
           floor(n::DOUBLE / sum(n) OVER (PARTITION BY event_type) * 10000 + 0.5)
             / 10000 AS share
    FROM h
    """,
)
def events_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type")
    return h.select(
        "event_type",
        "hour",
        "n",
        (
            F.floor(F.col("n") / F.sum("n").over(w) * 10000 + F.lit(0.5)) / 10000
        ).alias("share"),
    )


# =============================================================================
# Reporting — market-segment mix per nation: customer dim joined up the
# nation hierarchy (broadcast), segment share within each nation.
# =============================================================================
@q(
    "customer_segment_mix",
    """
    WITH c AS (
      SELECT n.n_name, cu.c_mktsegment, count(*)::BIGINT AS n_customers
      FROM customer cu JOIN nation n ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, c_mktsegment, n_customers,
           floor(n_customers::DOUBLE / sum(n_customers) OVER (PARTITION BY n_name)
                 * 10000 + 0.5) / 10000 AS share
    FROM c
    """,
)
def customer_segment_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    c = (
        cu.join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )
    w = Window.partitionBy("n_name")
    return c.select(
        "n_name",
        "c_mktsegment",
        "n_customers",
        (
            F.floor(
                F.col("n_customers") / F.sum("n_customers").over(w) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("share"),
    )


# =============================================================================
# Reporting — group-size distribution: how many orders have k line items.
# The double aggregation (per-order count, then histogram of counts) is
# the canonical "distribution of group sizes" shape; both levels are
# partial-combinable and the second input is |orders| rows.
# =============================================================================
@q(
    "orders_size_distribution",
    """
    WITH per_order AS (
      SELECT l_orderkey, count(*)::BIGINT AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT n_lines, count(*)::BIGINT AS n_orders
    FROM per_order GROUP BY 1
    """,
)
def orders_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    return per_order.groupBy("n_lines").agg(F.count("*").alias("n_orders"))


# =============================================================================
# Reporting — shipping latency (order date -> line ship date) stats per
# return flag: the fact-fact join keyed on l_orderkey (broadcast at test
# SF; co-partitioned/bucketed at cluster scale per SCALE.md §6), then a
# combinable min/avg/max aggregate over day differences.
# =============================================================================
@q(
    "lineitem_ship_latency",
    """
    SELECT l_returnflag,
           count(*)::BIGINT AS n_lines,
           CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
             AS min_days,
           floor(avg(date_diff('day', o_orderdate, l_shipdate)) * 100 + 0.5) / 100
             AS avg_days,
           CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
             AS max_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def lineitem_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    d = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.min(d).cast("long").alias("min_days"),
            (F.floor(F.avg(d) * 100 + F.lit(0.5)) / 100).alias("avg_days"),
            F.max(d).cast("long").alias("max_days"),
        )
    )


# =============================================================================
# §2.5 extension — conditional aggregation (SQL FILTER clause): one pass
# over orders computing per-priority totals split by status — the
# "pivot-lite" shape that avoids two scans or a real pivot when only a
# few conditions are needed. Single combinable aggregate.
# =============================================================================
@q(
    "agg_filtered_counts",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F')::BIGINT AS n_finished,
           count(*) FILTER (WHERE o_orderstatus = 'O')::BIGINT AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'P')::BIGINT AS n_pending,
           -- quantize-then-sum integer cents (r13 fuzz seed 1014): the
           -- raw round(sum(double), 2) flips a cent on half-cent sums
           (sum(floor(o_totalprice * 100 + 0.5)::HUGEINT)
              FILTER (WHERE o_orderstatus = 'F'))::DOUBLE / 100
             AS finished_value
    FROM orders GROUP BY 1
    """,
)
def agg_filtered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    st = F.col("o_orderstatus")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(st == "F", 1)).alias("n_finished"),
        F.count(F.when(st == "O", 1)).alias("n_open"),
        F.count(F.when(st == "P", 1)).alias("n_pending"),
        (F.sum(F.when(st == "F", cents)).cast("double") / 100).alias(
            "finished_value"
        ),
    )


# =============================================================================
# §2.7 extension — structured string parsing in a reporting aggregate:
# p_name splits into (color, noun), brand number extracted from
# 'Brand#NN'. All parsing is scan-side (map) — the reference's regex
# projection pattern (parser_media_articles.py:14-15) applied to a dim.
# =============================================================================
@q(
    "part_name_parse",
    """
    WITH p AS (
      SELECT string_split(p_name, ' ')[1] AS color,
             string_split(p_name, ' ')[2] AS noun,
             CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS BIGINT) AS brand_num,
             p_retailprice
      FROM part
    )
    SELECT noun, count(*)::BIGINT AS n_parts,
           count(DISTINCT color)::BIGINT AS n_colors,
           CAST(max(brand_num) AS BIGINT) AS max_brand,
           floor(avg(p_retailprice) * 100 + 0.5) / 100 AS avg_price
    FROM p GROUP BY 1
    """,
)
def part_name_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    # F.get, never [] — ANSI getItem CRASHES the whole job at the first
    # single-token name (index 1 into a 1-element split; found by the
    # hostile-names harness), while DuckDB's 1-based [2] returns NULL
    p = part.select(
        F.get(F.split("p_name", " "), 0).alias("color"),
        F.get(F.split("p_name", " "), 1).alias("noun"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("long").alias("brand_num"),
        "p_retailprice",
    )
    return p.groupBy("noun").agg(
        F.count("*").alias("n_parts"),
        F.countDistinct("color").alias("n_colors"),
        F.max("brand_num").alias("max_brand"),
        (F.floor(F.avg("p_retailprice") * 100 + F.lit(0.5)) / 100).alias("avg_price"),
    )


# =============================================================================
# §2.5 extension — robust outlier detection: customers whose account
# balance deviates more than 1.2 MAD-sigma from the global median
# (median/MAD composed into the modified z-score screen — resistant to
# the outliers it hunts). Each global scalar is a one-row aggregate
# crossed back in via broadcast — the cheap global-scalar pattern.
# =============================================================================
@q(
    "customer_balance_outliers",
    """
    WITH stats AS (
      SELECT median(c_acctbal) AS med FROM customer
    ),
    dev AS (
      SELECT c.c_custkey, c.c_acctbal, s.med,
             abs(c.c_acctbal - s.med) AS ad
      FROM customer c, stats s
    ),
    mad AS (SELECT median(ad) AS mad FROM dev)
    SELECT d.c_custkey, d.c_acctbal,
           floor((d.c_acctbal - d.med) / (1.4826 * m.mad) * 100 + 0.5) / 100
             AS mod_z
    FROM dev d, mad m
    WHERE abs((d.c_acctbal - d.med) / (1.4826 * m.mad)) > 1.2
    """,
)
def customer_balance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    stats = cust.agg(F.median("c_acctbal").alias("med"))
    dev = cust.crossJoin(F.broadcast(stats)).select(
        "c_custkey",
        "c_acctbal",
        "med",
        F.abs(F.col("c_acctbal") - F.col("med")).alias("ad"),
    )
    mad = dev.agg(F.median("ad").alias("mad"))
    # try_divide: a degenerate corpus (one customer, or >=50% at the
    # median) has MAD 0 — the modified z is NULL and the screen keeps
    # nothing, exactly the oracle's x/0 -> NULL -> filtered path; Spark
    # ANSI `/` would crash the job instead (r7 one-row probe)
    z = F.try_divide(
        F.col("c_acctbal") - F.col("med"), F.lit(1.4826) * F.col("mad")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        # 1.2 (not the textbook 3): the synthetic balances are uniform, so
        # the tail past 3 MAD-sigma is empty at every sf — 1.2 keeps the
        # screen non-degenerate on this data
        .filter(F.abs(z) > 1.2)
        .select(
            "c_custkey",
            "c_acctbal",
            (F.floor(z * 100 + F.lit(0.5)) / 100).alias("mod_z"),
        )
    )


# =============================================================================
# Growth analytics — cohort LTV triangle: customers grouped by first-order
# month, cumulative revenue by months-since-acquisition. The fact table
# reduces to (cohort, months_since) revenue cells before the cumulative
# window, which then runs over the tiny triangle. Complements
# events_weekly_retention (presence) with revenue accumulation.
# Revenue is fixed to integer cents PER ORDER before any sum (the
# daily-trend convention) and accumulated in 128-bit integers (DuckDB
# HUGEINT / Spark decimal(38,0)) — the r12 numeric-extremes probe
# caught the previous raw-double spelling twice over: the float cell
# sums were summation-order-dependent at 1e12-dollar magnitudes, and
# Spark's long-typed floor SATURATED the cumulative at 2^63 (a 1.8e20
# silently reported as 9.2e18) while DuckDB's double floor did not.
# =============================================================================
@q(
    "orders_cohort_ltv",
    """
    WITH fo AS (
      SELECT o_custkey,
             min(date_part('year', o_orderdate) * 12
                 + date_part('month', o_orderdate)) AS cohort_mi
      FROM orders GROUP BY 1
    ),
    rev AS (
      SELECT f.cohort_mi,
             (date_part('year', o.o_orderdate) * 12
              + date_part('month', o.o_orderdate)) - f.cohort_mi AS months_since,
             sum(floor(o.o_totalprice * 100 + 0.5)::HUGEINT) AS rev_cents
      -- IS NOT DISTINCT FROM (r13 fuzz): a NULL custkey is a real
      -- customer group — the Spark side's window partition keeps it,
      -- so a plain = here would silently drop its revenue
      FROM orders o JOIN fo f ON o.o_custkey IS NOT DISTINCT FROM f.o_custkey
      GROUP BY 1, 2
    )
    SELECT CAST(cohort_mi AS BIGINT) AS cohort_mi,
           CAST(months_since AS BIGINT) AS months_since,
           -- NULLS LAST on both engines (r13 differential fuzz): a NULL
           -- months_since (NULL o_orderdate) sits FIRST under Spark's
           -- ASC default and LAST under DuckDB's, shifting every
           -- cumulative value in the partition
           (sum(rev_cents) OVER (PARTITION BY cohort_mi
                                 ORDER BY months_since NULLS LAST
                                 ROWS UNBOUNDED PRECEDING))::DOUBLE / 100
             AS cum_revenue
    FROM rev
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    # cohort month = min(order month) OVER the customer partition: the
    # same one customer-keyed shuffle the old agg+self-join spelling
    # paid, but ONE orders scan instead of two (round-11 scan sharing —
    # the aggregate was only ever joined straight back to its source)
    wc = Window.partitionBy("o_custkey")
    rev = (
        orders.select(
            mi.alias("mi"),
            F.min(mi).over(wc).alias("cohort_mi"),
            # integer cents per order, accumulated in decimal(38,0) —
            # the 128-bit twin of the oracle's HUGEINT (header comment)
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("decimal(19,0)")
            .alias("cents"),
        )
        .groupBy("cohort_mi", (F.col("mi") - F.col("cohort_mi")).alias("months_since"))
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_mi")
        .orderBy(F.asc_nulls_last("months_since"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        "cohort_mi",
        "months_since",
        (F.sum("rev_cents").over(w).cast("double") / 100).alias(
            "cum_revenue"
        ),
    )


# =============================================================================
# Economics — supplier revenue concentration per nation (Herfindahl-
# Hirschman index): sum of squared revenue shares across each nation's
# suppliers. Revenue reduces per supplier first (combinable), nation dim
# broadcasts, and the share/HHI math runs on the |suppliers| table.
# =============================================================================
@q(
    "supplier_concentration_hhi",
    """
    WITH sup_rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
      FROM lineitem GROUP BY 1
    ),
    by_nation AS (
      SELECT n.n_name, s.s_suppkey, sr.rev
      FROM sup_rev sr
      JOIN supplier s ON s.s_suppkey = sr.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    ),
    shares AS (
      SELECT n_name, rev / sum(rev) OVER (PARTITION BY n_name) AS share
      FROM by_nation
    )
    SELECT n_name, count(*)::BIGINT AS n_suppliers,
           floor(sum(pow(share, 2)) * 10000 + 0.5) / 10000 AS hhi
    FROM shares GROUP BY 1
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    sup_rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "rev"
        )
    )
    by_nation = sup_rev.join(
        sup, sup_rev.l_suppkey == sup.s_suppkey
    ).join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
    w = Window.partitionBy("n_name")
    shares = by_nation.select(
        "n_name", (F.col("rev") / F.sum("rev").over(w)).alias("share")
    )
    return shares.groupBy("n_name").agg(
        F.count("*").alias("n_suppliers"),
        (
            F.floor(F.sum(F.pow(F.col("share"), F.lit(2.0))) * 10000 + F.lit(0.5))
            / 10000
        ).alias("hhi"),
    )


# =============================================================================
# LLM layer — type-token ratio (lexical diversity) per document: distinct
# tokens over total tokens, the classic repetitiveness screen. Pure map —
# both counts are in-row array expressions.
# =============================================================================
@q(
    "text_type_token_ratio",
    f"""
    SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           len(list_distinct(toks))::BIGINT AS n_types,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE floor(len(list_distinct(toks))::DOUBLE / len(toks)
                           * 10000 + 0.5) / 10000 END AS ttr
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    """,
)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    d = docs.select("doc_id", toks.alias("toks"))
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_types"),
        F.when(F.size("toks") == 0, F.lit(0.0))
        .otherwise(
            F.floor(
                F.size(F.array_distinct("toks"))
                / F.size("toks").cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        )
        .alias("ttr"),
    )


# =============================================================================
# §2.6 extension — conditional window: longest run of consecutive
# same-type events per user (streak of identical values in sequence) via
# the islands trick on the type-change indicator. One shuffle on user_id;
# all run bookkeeping is partition-local.
# =============================================================================
@q(
    "events_repeat_runs",
    """
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_type
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, rn - rn_type AS grp, count(*)::BIGINT AS run_len
      FROM o GROUP BY 1, 2, 3
    )
    SELECT user_id, max(run_len)::BIGINT AS longest_run
    FROM runs GROUP BY 1
    """,
)
def events_repeat_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_type).alias("rn_type"),
    )
    runs = o.groupBy(
        "user_id", "event_type", (F.col("rn") - F.col("rn_type")).alias("grp")
    ).agg(F.count("*").alias("run_len"))
    return runs.groupBy("user_id").agg(F.max("run_len").alias("longest_run"))


# =============================================================================
# Reporting — supplier catalog coverage: distinct parts each supplier has
# shipped as a share of the full catalog. Distinct reduction per supplier
# (combinable via the distinct pre-aggregate), catalog size crossed in as
# a broadcast one-row aggregate.
# =============================================================================
@q(
    "supplier_part_coverage",
    """
    WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    per_s AS (SELECT l_suppkey, count(*)::BIGINT AS n_parts FROM sp GROUP BY 1),
    cat AS (SELECT count(*)::BIGINT AS total_parts FROM part)
    SELECT p.l_suppkey, p.n_parts, c.total_parts,
           floor(p.n_parts::DOUBLE / c.total_parts * 10000 + 0.5) / 10000
             AS coverage
    FROM per_s p, cat c
    """,
)
def supplier_part_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    sp = li.select("l_suppkey", "l_partkey").distinct()
    per_s = sp.groupBy("l_suppkey").agg(F.count("*").alias("n_parts"))
    cat = part.agg(F.count("*").alias("total_parts"))
    return per_s.crossJoin(F.broadcast(cat)).select(
        "l_suppkey",
        "n_parts",
        "total_parts",
        (
            F.floor(F.col("n_parts") / F.col("total_parts") * 10000 + F.lit(0.5))
            / 10000
        ).alias("coverage"),
    )


# =============================================================================
# LLM layer — Product Quantization ANN (emb_pq_topk): M=4 subspaces x K=16
# codewords (= subvectors of the first 16 vectors by id — deterministic
# index build), codes = per-subspace argmin-L2 codeword, scoring by
# asymmetric distance (exact query vs codeword reconstruction). Engine
# side: codebooks are PLAN LITERALS, so encode + ADC are map-only — the
# only exchange is the per-query top-k window (operators/similarity.py
# pq_*). The oracle mirrors every step as CTEs; the ADC sum runs in fixed
# subspace order as list arithmetic on BOTH sides so float summation
# order is identical.
# =============================================================================
_PQ_M, _PQ_K, _PQ_SUB = 4, 16, 16  # 64-dim embeddings -> 4 x 16-dim subspaces

_PQ_SQDIFF = (
    "(q.embedding[mm * {sub} + i + 1]::DOUBLE - bb[mm + 1][e.codes[mm + 1] + 1][i + 1])"
    " * (q.embedding[mm * {sub} + i + 1]::DOUBLE - bb[mm + 1][e.codes[mm + 1] + 1][i + 1])"
).format(sub=_PQ_SUB)

_PQ_TOPK_ORACLE = f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS kk, embedding
      FROM (SELECT vec_id, embedding FROM valid_embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    book AS (
      SELECT mm, kk,
             list_transform(range({_PQ_SUB}),
                            i -> embedding[mm * {_PQ_SUB} + i + 1]::DOUBLE) AS w
      FROM seeds CROSS JOIN (SELECT unnest(range({_PQ_M})) AS mm)
    ),
    enc AS (
      SELECT vec_id, mm, kk AS code FROM (
        SELECT e.vec_id, b.mm, b.kk,
               row_number() OVER (PARTITION BY e.vec_id, b.mm ORDER BY
                 list_sum(list_transform(range({_PQ_SUB}),
                   i -> (e.embedding[b.mm * {_PQ_SUB} + i + 1]::DOUBLE - b.w[i + 1])
                      * (e.embedding[b.mm * {_PQ_SUB} + i + 1]::DOUBLE - b.w[i + 1]))) ASC,
                 b.kk ASC) AS rn
        FROM valid_embeddings e CROSS JOIN book b
      ) WHERE rn = 1
    ),
    encl AS (SELECT vec_id, list(code ORDER BY mm) AS codes FROM enc GROUP BY vec_id),
    bl AS (SELECT mm, list(w ORDER BY kk) AS ws FROM book GROUP BY mm),
    books_all AS (SELECT list(ws ORDER BY mm) AS bb FROM bl),
    adc AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_sum(list_transform(range({_PQ_M}), mm ->
               list_sum(list_transform(range({_PQ_SUB}), i -> {_PQ_SQDIFF}))
             )) AS approx_d
      FROM (SELECT vec_id, embedding FROM valid_embeddings WHERE vec_id < 10) q
      CROSS JOIN encl e
      CROSS JOIN books_all
      WHERE e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, round(approx_d, 4) AS approx_dist, rank
    FROM (
      SELECT query_id, neighbor_id, approx_d,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_d ASC, neighbor_id ASC)::BIGINT AS rank
      FROM adc
    ) WHERE rank <= 5
    """


@q("emb_pq_topk", _PQ_TOPK_ORACLE)
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    res = SIM.pq_topk(
        emb, queries, k=5, m_subvectors=_PQ_M, n_codes=_PQ_K
    )
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("approx_dist", 4).alias("approx_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


# =============================================================================
# LLM layer — PQ recall audit: recall@5 of ADC-ranked PQ search vs exact
# SQUARED-L2 brute force (the metric PQ approximates — cosine would mix
# metrics). Same exact-vs-approx join pattern as the LSH/IVF audits.
# =============================================================================
@q(
    "emb_pq_recall",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(len(q.embedding)),
                   i -> (q.embedding[i + 1]::DOUBLE - e.embedding[i + 1]::DOUBLE)
                      * (q.embedding[i + 1]::DOUBLE - e.embedding[i + 1]::DOUBLE))) ASC,
                 e.vec_id ASC) AS rk
        FROM valid_embeddings q CROSS JOIN valid_embeddings e
        WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
      ) WHERE rk <= 5
    ),
    approx AS ({_PQ_TOPK_ORACLE})
    SELECT e.query_id,
           count(a.neighbor_id)::BIGINT AS n_hit,
           count(a.neighbor_id)::DOUBLE / 5 AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
    """,
)
def emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.l2_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = SIM.pq_topk(
        emb, queries, k=5, m_subvectors=_PQ_M, n_codes=_PQ_K
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hit"),
            (F.count("hit").cast("double") / 5).alias("recall_at_5"),
        )
    )


# =============================================================================
# Sketch audit — HyperLogLog distinct-count accuracy: per event type,
# Spark's approx_count_distinct (HLL++, rsd=0.05) against the exact
# distinct count, emitted as (exact count, within-10%-bound flag). The
# oracle computes the exact count and pins the flag TRUE — so the hash
# check FAILS if the sketch ever drifts outside its error contract. Exact
# countDistinct shuffles every distinct user once; the HLL path is the
# 100 TB answer (fixed-size sketch, partial-combinable, one tiny final
# merge) and this audit is the evidence it can replace the exact count.
# =============================================================================
@q(
    "agg_hll_distinct_audit",
    """
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS exact_distinct,
           TRUE AS hll_within_10pct
    FROM events GROUP BY 1
    """,
)
def agg_hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("hll"),
    )
    err = F.abs(F.col("hll") - F.col("exact_distinct")) / F.col("exact_distinct")
    return agg.select(
        "event_type",
        "exact_distinct",
        (err <= F.lit(0.10)).alias("hll_within_10pct"),
    )


# =============================================================================
# Sketch audit — approx-quantile accuracy: per event type, Spark's
# approx_percentile(value, 0.5, acc=10000) vs the exact interpolated
# median. The exact median is computed on BOTH sides (Spark `percentile`
# == DuckDB `quantile_cont`, both type-7 interpolation) and the sketch
# must land within 1% of the value range — flag pinned TRUE by the
# oracle. At scale the exact percentile needs a per-key sort; the KLL-ish
# sketch is partial-combinable with bounded memory.
# =============================================================================
@q(
    "agg_quantile_sketch_audit",
    """
    SELECT event_type,
           floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS exact_median,
           TRUE AS sketch_within_1pct
    FROM events GROUP BY 1
    """,
)
def agg_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("exact_median"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median"),
        (F.max("value") - F.min("value")).alias("rng"),
    )
    err = F.abs(F.col("approx_median") - F.col("exact_median")) / F.col("rng")
    # rng == 0 (a constant-valued group) would make err NULL and fail the
    # pinned-TRUE oracle through no fault of the sketch — degrade to exact
    # equality in that case.
    within = F.when(
        F.col("rng") == 0, F.col("approx_median") == F.col("exact_median")
    ).otherwise(err <= F.lit(0.01))
    return agg.select(
        "event_type",
        (F.floor(F.col("exact_median") * 10000 + F.lit(0.5)) / 10000).alias(
            "exact_median"
        ),
        within.alias("sketch_within_1pct"),
    )


# =============================================================================
# Structured Streaming — STREAM-STREAM interval join: the view stream
# joined to the purchase stream per user, purchase within +/-30 min of the
# view. Both sides watermarked (10 min) so join state is GC-able on a
# live run; with the file source drained via processAllAvailable the
# result equals the batch interval join, which is the oracle. Output is
# the matched pair stream (append mode — the only mode stream-stream
# inner joins support).
# =============================================================================
@q(
    "stream_stream_join_events",
    """
    SELECT v.user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           round(p.value - v.value, 4) AS value_delta
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts BETWEEN v.ts - INTERVAL 30 MINUTE AND v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from social_and_media_data_ingestion_spark.plans.tables import events_stream
    from social_and_media_data_ingestion_spark.streaming.pipeline import (
        run_to_memory,
        stream_stream_join,
    )

    ev = events_stream(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = stream_stream_join(
        views,
        purchases,
        keys=["user_id"],
        delay="10 minutes",
        within="30 minutes",
    )
    out = joined.select(
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        F.col("right_ts").alias("purchase_ts"),
        F.round(F.col("r.value") - F.col("l.value"), 4).alias("value_delta"),
    )
    name = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    query = run_to_memory(out, name, output_mode="append")
    query.stop()
    return spark.sql(
        f"SELECT user_id, view_ts, purchase_ts, value_delta FROM {name}"
    )


# =============================================================================
# Structured Streaming — stream-static dimension enrichment: the events
# stream broadcast-joined per micro-batch against the static customer dim
# (user_id -> market segment), rolled up to counts per (segment,
# event_type). Stateless stream-static equi-join (no watermark needed) +
# complete-mode aggregate; the batch join/agg is the oracle.
# =============================================================================
@q(
    "stream_static_enrich_counts",
    """
    SELECT c.c_mktsegment AS segment,
           e.event_type,
           count(*)::BIGINT AS n
    FROM events e
    JOIN customer c ON e.user_id % 1500 = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from social_and_media_data_ingestion_spark.plans.tables import events_stream
    from social_and_media_data_ingestion_spark.streaming.pipeline import (
        run_to_memory,
        stream_static_enrich,
    )

    ev = events_stream(spark, sf_dir).withColumn(
        "c_custkey", F.col("user_id") % 1500
    )
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream_static_enrich(ev, dim, on=["c_custkey"], how="inner")
    agg = enriched.groupBy(
        F.col("c_mktsegment").alias("segment"), "event_type"
    ).agg(F.count("*").alias("n"))
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    query = run_to_memory(agg, name, output_mode="complete")
    query.stop()
    return spark.sql(f"SELECT segment, event_type, n FROM {name}")


# =============================================================================
# LLM layer — BPE-training inner loop: adjacent-token pair frequencies
# over the corpus (the statistic every merge round of byte-pair encoding
# recomputes). Pair construction is IN-ROW (zip of the token array with
# its own tail — no self-join, no explode-then-join), counts are
# partial-combinable keyed on the pair string (vocab^2-bounded in theory,
# Heaps-bounded in practice), and the top-20 goes limit-first.
# =============================================================================
@q(
    "bpe_pair_counts",
    f"""
    WITH tk AS (SELECT {_TOKS} AS t FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(greatest(len(t) - 1, 0)),
                    i -> t[i + 1] || ' ' || t[i + 2])) AS pair
      FROM tk
    ),
    c AS (SELECT pair, count(*)::BIGINT AS n FROM pairs GROUP BY 1),
    top AS (SELECT * FROM c ORDER BY n DESC, pair LIMIT 20)
    SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair)::BIGINT AS rk
    FROM top
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    d = docs.select(toks.alias("t"))
    pairs = F.zip_with(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        F.slice(
            F.col("t"),
            2,
            F.greatest(F.size("t") - 1, F.lit(0)),
        ),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    c = (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
    )
    top = c.orderBy(F.desc("n"), F.asc("pair")).limit(20)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


# =============================================================================
# LLM layer — quality-decile curriculum binning: every document assigned
# an exact quality decile (equal-frequency, deterministic doc_id
# tie-break) — the binning used for quality-curriculum sampling. Uses the
# DISTRIBUTED global_ntile (range partition + offsets), never an
# unpartitioned ntile window; the oracle spells the same thing with the
# classic window ntile over the quality CTE.
# =============================================================================
@q(
    "docs_quality_deciles",
    f"""
    WITH qual AS ({_REG_BASE["text_quality_score"].oracle})
    SELECT decile, count(*)::BIGINT AS n_docs,
           min(quality) AS min_q, max(quality) AS max_q
    FROM (
      SELECT doc_id, quality,
             ntile(10) OVER (ORDER BY quality, doc_id)::BIGINT AS decile
      FROM qual
    ) GROUP BY 1
    """,
)
def docs_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators import text_analysis as TA
    from social_and_media_data_ingestion_spark.operators.scale import global_ntile

    docs = t(spark, sf_dir, "documents")
    qual = docs.select("doc_id", TA.quality_score("text").alias("quality"))
    binned = global_ntile(qual, 10, ["quality", "doc_id"], out_col="decile")
    return binned.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.min("quality").alias("min_q"),
        F.max("quality").alias("max_q"),
    )


# =============================================================================
# Structured Streaming — CUSTOM STATEFUL operator
# (applyInPandasWithState): running per-event-type counters that persist
# across micro-batches (streaming/stateful.py, SURVEY §2.9 beyond-parity).
# Counters are cumulative, so after the stream drains the LAST emit per
# key equals the batch aggregate whatever the micro-batch split was —
# max_by(n_total) selects it, and the batch groupBy is the oracle.
# =============================================================================
@q(
    "stream_stateful_running_totals",
    """
    SELECT event_type AS key,
           count(*)::BIGINT AS n_total,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from social_and_media_data_ingestion_spark.plans.tables import events_stream
    from social_and_media_data_ingestion_spark.streaming.pipeline import run_to_memory
    from social_and_media_data_ingestion_spark.streaming.stateful import (
        running_totals,
    )

    ev = events_stream(spark, sf_dir)
    totals = running_totals(ev, "event_type", "value")
    name = f"stream_state_{uuid.uuid4().hex[:8]}"
    query = run_to_memory(totals, name, output_mode="update")
    query.stop()
    return spark.sql(
        f"""
        SELECT key,
               max(n_total) AS n_total,
               round(max_by(sum_value, n_total), 2) AS sum_value
        FROM {name} GROUP BY key
        """
    )


# =============================================================================
# Time-series analytics — MAX CONCURRENT SESSIONS (sweep line): each
# event opens a 30-min presence interval; the answer is the peak of the
# running (+1 at start, -1 at end) sum over all boundary points in time
# order. The cumulative sum uses the DISTRIBUTED global_running_sum
# (range partition + per-partition totals as offsets) — the oracle spells
# the same sweep with a plain ORDER BY window. Ends sort before starts at
# the same instant (delta -1 < +1), so touching intervals don't overlap,
# and the peak is tie-order-invariant (same-sign runs are monotone).
# =============================================================================
@q(
    "events_max_concurrent",
    """
    WITH pts AS (
      SELECT ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events
    ),
    sweep AS (
      SELECT sum(delta) OVER (ORDER BY t, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrent
      FROM pts
    )
    SELECT max(concurrent)::BIGINT AS max_concurrent,
           (SELECT count(*) FROM pts)::BIGINT AS n_points
    FROM sweep
    """,
)
def events_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.scale import (
        global_running_sum,
    )

    ev = t(spark, sf_dir, "events").select("ts")
    starts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionAll(ends)
    swept = global_running_sum(pts, ["t", "delta"], "delta", out_col="concurrent")
    return swept.agg(
        F.max("concurrent").cast("long").alias("max_concurrent"),
        F.count("*").cast("long").alias("n_points"),
    )


# =============================================================================
# Retrieval-quality audit — MEAN RECIPROCAL RANK of every ANN method
# against its metric's brute-force truth (cosine top-5 for LSH/IVF,
# squared-L2 top-5 for PQ): rr(query) = 1/rank of the first true
# neighbor the method returns (0 if none in its top-5); MRR = mean over
# the 10 query vectors. Complements the recall@5 audits with a
# rank-aware score — a method can have identical recall but worse MRR if
# true neighbors surface late. Composes the already-verified per-method
# oracles, so the whole metric is hash-pinned.
# =============================================================================
_L2_EXACT_ORACLE = """
    SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_sum(list_transform(range(len(q.embedding)),
                 i -> (q.embedding[i + 1]::DOUBLE - e.embedding[i + 1]::DOUBLE)
                    * (q.embedding[i + 1]::DOUBLE - e.embedding[i + 1]::DOUBLE))) ASC,
               e.vec_id ASC) AS rk
      FROM valid_embeddings q CROSS JOIN valid_embeddings e
      WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
    ) WHERE rk <= 5
"""


def _mrr_sql(method: str, approx_oracle: str, exact_oracle: str) -> str:
    return f"""
    SELECT '{method}' AS method,
           floor(avg(rr) * 10000 + 0.5) / 10000 AS mrr
    FROM (
      SELECT e.query_id,
             coalesce(1.0 / min(a.rank), 0.0) AS rr
      FROM (SELECT DISTINCT query_id FROM ({exact_oracle})) e
      LEFT JOIN (
        SELECT a.query_id, a.rank FROM ({approx_oracle}) a
        JOIN ({exact_oracle}) x
          ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
      ) a ON a.query_id = e.query_id
      GROUP BY e.query_id
    )
    """


@q(
    "sim_retrieval_mrr",
    f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)
    {_mrr_sql("lsh", _REG_BASE["sim_lsh_topk"].oracle, _REG_BASE["sim_cosine_topk"].oracle)}
    UNION ALL
    {_mrr_sql("ivf", _REG_BASE["sim_ivf_topk"].oracle, _REG_BASE["sim_cosine_topk"].oracle)}
    UNION ALL
    {_mrr_sql("pq", _PQ_TOPK_ORACLE, _L2_EXACT_ORACLE)}
    """,
)
def sim_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)

    def mrr(method: str, approx: DataFrame, exact: DataFrame) -> DataFrame:
        rel = exact.select("query_id", "neighbor_id")
        qs = rel.select("query_id").distinct()
        hits = approx.select("query_id", "neighbor_id", "rank").join(
            rel, ["query_id", "neighbor_id"]
        )
        first = hits.groupBy("query_id").agg(F.min("rank").alias("first_rank"))
        rr = qs.join(first, "query_id", "left").select(
            "query_id",
            F.coalesce(1.0 / F.col("first_rank"), F.lit(0.0)).alias("rr"),
        )
        return rr.agg(
            F.lit(method).alias("method"),
            (F.floor(F.avg("rr") * 10000 + F.lit(0.5)) / 10000).alias("mrr"),
        )

    exact_cos = SIM.cosine_topk(emb, queries, k=5)
    exact_l2 = SIM.l2_topk(emb, queries, k=5)
    out = (
        mrr("lsh", SIM.lsh_bucketed_topk(emb, queries, k=5), exact_cos)
        .unionAll(mrr("ivf", SIM.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2), exact_cos))
        .unionAll(
            mrr("pq", SIM.pq_topk(emb, queries, k=5, m_subvectors=_PQ_M, n_codes=_PQ_K), exact_l2)
        )
    )
    return out


# =============================================================================
# Graph analytics — PageRank over the customer<->supplier purchase graph
# (undirected: both directions of every distinct (customer, supplier)
# trading pair from orders x lineitem). 3 synchronous rounds, damping
# 0.85, per-round 1e-10 rounding for cross-engine determinism (the
# lloyd trick). One shuffle per iteration (contribution aggregate keyed
# on the receiving node); N is a scalar count, no data collect. The
# oracle unrolls the identical 3 rounds as CTEs. Output: top-20 nodes.
# =============================================================================
_PR_D = 0.85
_PR_ITERS = 3


def _pagerank_oracle(
    iters: int = _PR_ITERS, bidirectional: bool = True, dangling: bool = False
) -> str:
    """Unrolled PageRank CTE chain over the customer<->supplier trading
    graph. Nodes are the UNION of edge sources and destinations —
    matching operators.graph.pagerank — so the oracle stays correct for
    DIRECTED edge lists with destination-only nodes, not just the
    bidirectional graph (where the two spellings coincide).
    dangling=True adds the per-round redistributed dangling mass
    (sum of rank on out-degree-0 nodes, spread uniformly)."""
    rounds = []
    prev = "pr0"
    for i in range(1, iters + 1):
        dang_term = ""
        if dangling:
            rounds.append(f"""
    dang{i - 1} AS (
      SELECT coalesce(sum(p.pr), 0.0) AS dm FROM {prev} p
      WHERE p.node NOT IN (SELECT node FROM deg)
    )""")
            dang_term = f" + (SELECT dm FROM dang{i - 1}) / (SELECT nn FROM cnt)"
        rounds.append(f"""
    pr{i} AS (
      SELECT n.node,
             round((1 - {_PR_D}) / (SELECT nn FROM cnt)
                   + {_PR_D} * (coalesce(c.c_sum, 0.0){dang_term}), 10) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.t AS node, sum(p.pr / d.deg) AS c_sum
        FROM e JOIN {prev} p ON p.node = e.s
        JOIN deg d ON d.node = e.s
        GROUP BY e.t
      ) c ON c.node = n.node
    )""")
        prev = f"pr{i}"
    edge_sql = "SELECT 'c' || ck AS s, 's' || sk AS t FROM pairs"
    if bidirectional:
        edge_sql += "\n      UNION ALL\n      SELECT 's' || sk AS s, 'c' || ck AS t FROM pairs"
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    e AS (
      {edge_sql}
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT s AS node FROM e UNION ALL SELECT t AS node FROM e
      )
    ),
    deg AS (SELECT s AS node, count(*)::BIGINT AS deg FROM e GROUP BY 1),
    cnt AS (SELECT count(*)::DOUBLE AS nn FROM nodes),
    pr0 AS (SELECT node, 1.0 / (SELECT nn FROM cnt) AS pr FROM nodes),
    {",".join(rounds)},
    top AS (
      SELECT node, pr FROM pr{iters}
      ORDER BY pr DESC, node LIMIT 20
    )
    SELECT node, floor(pr * 1000000 + 0.5) / 1000000 AS pr,
           row_number() OVER (ORDER BY pr DESC, node)::BIGINT AS rk
    FROM top
    """


def _trading_edges(
    spark: SparkSession, sf_dir: str, bidirectional: bool = True
) -> DataFrame:
    """Directed (src, dst) customer->supplier trading edges (each distinct
    trading pair from orders x lineitem); bidirectional adds the reverse
    direction (the undirected-graph spelling)."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    if bidirectional:
        edges = edges.unionAll(
            pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
    return edges


def _pr_top20(pr: DataFrame) -> DataFrame:
    top = pr.orderBy(F.desc("pr"), F.asc("node")).limit(20)
    w = Window.orderBy(F.desc("pr"), F.asc("node"))
    return top.select(
        "node",
        (F.floor(F.col("pr") * 1000000 + F.lit(0.5)) / 1000000).alias("pr"),
        F.row_number().over(w).cast("long").alias("rk"),
    )


@q("graph_pagerank_purchases", _pagerank_oracle())
def graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.graph import pagerank

    edges = _trading_edges(spark, sf_dir, bidirectional=True)
    pr = pagerank(edges, iters=_PR_ITERS, damping=_PR_D)
    return _pr_top20(pr)


# =============================================================================
# PageRank, LONG-RUN variant — 12 synchronous rounds with the rank frame
# pinned EVERY round (GraphX-Pregel cadence; see the operator
# docstring for the measured 2x): truncated lineage keeps the Catalyst
# tree bounded, and the per-round stats let AQE broadcast the rank side.
# Same trading graph and per-round arithmetic as graph_pagerank_purchases;
# the oracle unrolls the identical 12 rounds, so the hash check proves
# checkpoint truncation does not perturb the values.
# =============================================================================
@q("graph_pagerank_iters12", _pagerank_oracle(iters=12))
def graph_pagerank_iters12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.graph import pagerank

    edges = _trading_edges(spark, sf_dir, bidirectional=True)
    pr = pagerank(edges, iters=12, damping=_PR_D)
    return _pr_top20(pr)


# =============================================================================
# PageRank, DANGLING-MASS variant — the DIRECTED customer->supplier graph
# (no reverse edges), where every supplier node is dangling (out-degree
# 0). redistribute_dangling=True spreads the rank parked on dangling
# nodes uniformly each round — textbook PageRank, rather than the
# drop-dangling simplification (which here would leak ~half the total
# mass out of the system every round). One extra scalar aggregate per
# round, broadcast back in; no driver collect. Oracle unrolls the same
# recurrence including the dang_i mass terms.
# =============================================================================
@q(
    "graph_pagerank_dangling",
    _pagerank_oracle(iters=_PR_ITERS, bidirectional=False, dangling=True),
)
def graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.graph import pagerank

    edges = _trading_edges(spark, sf_dir, bidirectional=False)
    pr = pagerank(
        edges, iters=_PR_ITERS, damping=_PR_D, redistribute_dangling=True
    )
    return _pr_top20(pr)


# =============================================================================
# Embedding analytics — TOP PRINCIPAL COMPONENT by matrix-free power
# iteration (3 rounds on the uncentered Gram matrix): per round the
# projection s = x·v is in-row against the literal current vector, the d
# accumulator sums are one partial-combinable scalar aggregate (no
# shuffle of corpus rows, no posexplode), and the d-float normalize
# happens driver-side — bounded state, the pq_codebooks pattern. Raw
# sums are rounded to 8dp before normalizing on BOTH engines, absorbing
# float summation order, so the unrolled CTE oracle hash-matches.
# Output: per-dim loading of v_3 plus the Rayleigh quotient (the
# dominant-eigenvalue estimate = sum of squared projections).
# =============================================================================
_PCA_ITERS = 3

# floor(x*1e8 + 0.5)/1e8 on BOTH engines (the repo's cross-engine
# rounding convention): DuckDB round() is half-away-from-zero while the
# driver-side Python used to use round() (half-even) — a sum landing
# exactly on a half at the 8th decimal would have hash-mismatched.
_PCA_R8 = "floor(({x}) * 100000000 + 0.5) / 100000000"


def _pca_oracle() -> str:
    prev = "v0"
    rounds = []
    for k in range(1, _PCA_ITERS + 1):
        rounds.append(f"""
    s{k} AS (
      SELECT e.x,
             list_sum(list_transform(range(len(e.x)),
               i -> e.x[i + 1] * v.vec[i + 1])) AS s
      FROM e CROSS JOIN {prev} v
    ),
    ray{k} AS (SELECT {_PCA_R8.format(x="sum(s * s)")} AS ray FROM s{k}),
    acc{k} AS (
      SELECT list(a ORDER BY j) AS acc
      FROM (
        SELECT j, {_PCA_R8.format(x="sum(val * s)")} AS a
        FROM (
          SELECT unnest(x) AS val, generate_subscripts(x, 1) AS j, s
          FROM s{k}
        ) GROUP BY j
      )
    ),
    v{k} AS (
      SELECT list_transform(acc, a -> {_PCA_R8.format(
               x="a / sqrt(list_sum(list_transform(acc, b -> b * b)))")}) AS vec,
             ray
      FROM acc{k} CROSS JOIN ray{k}
    )""")
        prev = f"v{k}"
    return f"""
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    e AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS x FROM valid_embeddings
    ),
    dim AS (SELECT len(x) AS d FROM e LIMIT 1),
    v0 AS (
      SELECT list_transform(range(d), i -> {_PCA_R8.format(x="1.0 / sqrt(d)")}) AS vec
      FROM dim
    ),
    {",".join(rounds)}
    SELECT generate_subscripts(vec, 1)::BIGINT - 1 AS dim_idx,
           unnest(vec) AS loading,
           ray AS rayleigh
    FROM v{_PCA_ITERS}
    """


@q("emb_pca_top_component", _pca_oracle())
def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.similarity import (
        power_iteration_top_component,
    )

    emb = vectors(spark, sf_dir)
    v, ray = power_iteration_top_component(emb, iters=_PCA_ITERS)
    spark2 = emb.sparkSession
    return spark2.createDataFrame(
        [(j, v[j], ray) for j in range(len(v))],
        "dim_idx bigint, loading double, rayleigh double",
    )


# =============================================================================
# Structured Streaming — WATERMARKED DEDUPLICATION as a first-class
# query (T8, previously exercised only by tests): suppress to one event
# per (user, event_type, 5-minute bucket) over the live events stream
# via withWatermark + dropDuplicates — state is bounded by the
# watermark, so the operator survives unbounded streams. Output is the
# deduplicated KEY SET (which-row-kept is scheduler-dependent; the key
# set is not), so the drained stream must equal the batch DISTINCT —
# the oracle.
# =============================================================================
@q(
    "stream_dedup_watermark",
    """
    SELECT DISTINCT user_id,
           event_type,
           floor(epoch(ts) / 300)::BIGINT AS bucket
    FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from social_and_media_data_ingestion_spark.plans.tables import events_stream
    from social_and_media_data_ingestion_spark.streaming.pipeline import (
        dedup_within_watermark,
        run_to_memory,
    )

    stream = events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts",
        F.floor(F.unix_timestamp("ts") / 300).cast("long").alias("bucket"),
    )
    deduped = dedup_within_watermark(
        stream, ["user_id", "event_type", "bucket"], "ts", include_ts=False
    ).select("user_id", "event_type", "bucket")
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    query = run_to_memory(deduped, name, output_mode="append")
    query.stop()
    return spark.sql(f"SELECT user_id, event_type, bucket FROM {name}")
