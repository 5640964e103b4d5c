"""Registry extension 3 — round-4 additions: generalized temporal joins
(as-of, bounded time-band) and Gopher-style repetition quality signals.

The temporal joins are the two classic operators Spark lacks natively
(SURVEY §2.8's "operators the reference's row-loop scripts imply");
both are spelled shuffle-equi (operators/temporal_join.py), never a
BroadcastNestedLoopJoin. Oracles: DuckDB's native ASOF JOIN for the
as-of pair (a genuinely independent implementation), a plain
inequality join for the band join, and unnest+agg SQL for the
repetition metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators import dedup as D
from social_and_media_data_ingestion_spark.operators.temporal_join import (
    asof_join,
    time_band_join,
)
from social_and_media_data_ingestion_spark.plans.queries import _TOKS, q
from social_and_media_data_ingestion_spark.plans.tables import (
    t,
    vectors,
)
from social_and_media_data_ingestion_spark.session import pin


def _purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-dedup to one reference row per (user, instant) so the as-of
    # match is deterministic on BOTH engines (max value wins).
    # ts IS NOT NULL — time-semantics contract (r13 differential fuzz):
    # an as-of match against an unknown-time row is ill-defined, and the
    # engines' NULL comparison/sort conventions diverge (the oracle CTEs
    # carry the same filter).
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )


def _views(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "user_id", "ts")
    )


# uid: NULL user_id coalesced to a LONG_MIN-adjacent sentinel (r13
# fuzz) — a NULL user is a real group in the operator's carry-forward
# window, but DuckDB's ASOF equality rejects NULL = NULL (and ASOF
# accepts coalesce conditions where IS NOT DISTINCT FROM silently
# fails to match). A real id equal to the sentinel would merge with
# the NULL group — not a realistic key (the decayed-activity NUL-byte
# sentinel precedent). vrow: a per-physical-row key so j11's b/f
# remerge cannot fan out k² under a violated event_id PK; MATERIALIZED
# pins one row_number evaluation across the CTE's three consumers.
_ASOF_CTES = """
    WITH pur AS MATERIALIZED (
      SELECT coalesce(user_id, -9223372036854775807) AS uid, ts,
             max(value) AS value
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    vw AS MATERIALIZED (
      SELECT event_id, coalesce(user_id, -9223372036854775807) AS uid, ts,
             row_number() OVER (ORDER BY user_id, ts, event_id) AS vrow
      FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL
    )
"""


# =============================================================================
# J9 — generalized AS-OF join between two distinct streams: for every
# 'view' event, the value of the same user's most recent prior-or-equal
# 'purchase'. Operator: union + carry-forward window (ONE shuffle on
# user_id, no theta-join). Oracle: DuckDB's native ASOF JOIN — an
# independent engine-level implementation of the same semantics.
# =============================================================================
@q(
    "j9_asof_view_purchase",
    _ASOF_CTES
    + """
    SELECT v.event_id,
           p.ts    AS last_purchase_ts,
           p.value AS last_purchase_value
    FROM vw v ASOF LEFT JOIN pur p
      ON v.uid = p.uid AND v.ts >= p.ts
    """,
)
def j9_asof_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = asof_join(
        _views(spark, sf_dir),
        _purchases(spark, sf_dir),
        on=["user_id"],
        probe_ts="ts",
        ref_ts="ts",
        value_cols=["value"],
        direction="backward",
    )
    return res.select(
        "event_id",
        F.col("matched_ts").alias("last_purchase_ts"),
        F.col("value").alias("last_purchase_value"),
    )


# =============================================================================
# J10 — AS-OF with a match tolerance: same join, but a purchase older
# than 1 hour is no match (the standard "stale reference" guard in
# feature-store point-in-time lookups). Oracle: ASOF JOIN + CASE; the
# interval arithmetic is DuckDB-native, the null-out rule is the spec.
# =============================================================================
@q(
    "j10_asof_tolerance_1h",
    _ASOF_CTES
    + """
    SELECT v.event_id,
           CASE WHEN v.ts - p.ts <= INTERVAL 3600 SECOND THEN p.ts END
             AS last_purchase_ts,
           CASE WHEN v.ts - p.ts <= INTERVAL 3600 SECOND THEN p.value END
             AS last_purchase_value
    FROM vw v ASOF LEFT JOIN pur p
      ON v.uid = p.uid AND v.ts >= p.ts
    """,
)
def j10_asof_tolerance_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = asof_join(
        _views(spark, sf_dir),
        _purchases(spark, sf_dir),
        on=["user_id"],
        probe_ts="ts",
        ref_ts="ts",
        value_cols=["value"],
        direction="backward",
        tolerance_seconds=3600,
    )
    return res.select(
        "event_id",
        F.col("matched_ts").alias("last_purchase_ts"),
        F.col("value").alias("last_purchase_value"),
    )


# =============================================================================
# J11 — AS-OF 'nearest': the closer of the last-prior and first-later
# purchase (backward wins exact-distance ties — pandas merge_asof
# parity). Operator: both carry directions over ONE shuffle (two sorts,
# same hashpartitioning). Oracle: two DuckDB ASOF joins (>= and <=)
# merged by explicit microsecond gap comparison.
# =============================================================================
@q(
    "j11_asof_nearest_purchase",
    _ASOF_CTES
    + """
    , b AS (
      SELECT v.vrow, p.ts AS bts, p.value AS bval
      FROM vw v ASOF LEFT JOIN pur p
        ON v.uid = p.uid AND v.ts >= p.ts
    ),
    f AS (
      SELECT v.vrow, p.ts AS fts, p.value AS fval
      FROM vw v ASOF LEFT JOIN pur p
        ON v.uid = p.uid AND v.ts <= p.ts
    )
    SELECT v.event_id,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                     epoch_us(v.ts) - epoch_us(bts)
                       <= epoch_us(fts) - epoch_us(v.ts))
                THEN bts ELSE fts END AS nearest_purchase_ts,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                     epoch_us(v.ts) - epoch_us(bts)
                       <= epoch_us(fts) - epoch_us(v.ts))
                THEN bval ELSE fval END AS nearest_purchase_value
    FROM vw v
    JOIN b USING (vrow)
    JOIN f USING (vrow)
    """,
)
def j11_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = asof_join(
        _views(spark, sf_dir),
        _purchases(spark, sf_dir),
        on=["user_id"],
        probe_ts="ts",
        ref_ts="ts",
        value_cols=["value"],
        direction="nearest",
    )
    return res.select(
        "event_id",
        F.col("matched_ts").alias("nearest_purchase_ts"),
        F.col("value").alias("nearest_purchase_value"),
    )


# =============================================================================
# Bounded time-band join — co-activity: for every event, how many events
# by OTHER users happened within ±60 s; reported as a histogram
# (coactivity level -> number of events). The operator buckets time at
# the band width and equi-joins on the bucket id (probe exploded to the
# 3 covering buckets), so the plan is hash-partitioned and
# AQE-skew-splittable — the O(n²) BroadcastNestedLoopJoin the naive
# |Δt|<=band predicate would compile to never appears. Oracle: DuckDB
# inequality join (IEJoin), exact integer-microsecond comparison on
# both engines.
# =============================================================================
@q(
    "events_coactivity_histogram",
    """
    WITH pairs AS (
      SELECT e1.event_id AS pid, count(*)::BIGINT AS n
      FROM events e1 JOIN events e2
        ON e2.ts >= e1.ts - INTERVAL 60 SECOND
       AND e2.ts <= e1.ts + INTERVAL 60 SECOND
       AND e1.user_id <> e2.user_id
      GROUP BY 1
    )
    SELECT coalesce(p.n, 0)::BIGINT AS coactivity,
           count(*)::BIGINT AS n_events
    FROM events e LEFT JOIN pairs p ON e.event_id = p.pid
    GROUP BY 1
    """,
)
def events_coactivity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    pairs = time_band_join(ev, ev, "ts", "ts", band_seconds=60.0)
    cnt = (
        pairs.filter(F.col("p_user_id") != F.col("r_user_id"))
        .groupBy("p_event_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        ev.join(cnt, ev.event_id == cnt.p_event_id, "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("coactivity"))
        .groupBy("coactivity")
        .agg(F.count("*").alias("n_events"))
    )


# =============================================================================
# Time-decayed activity feature (EWMA-style, feature-store staple): for
# every event, sum of 2^(-age/1800s) over the same user's events in the
# PRECEDING hour (half-life 30 min), averaged per event type. Built ON
# the band join: the classic carry-forward EWMA factorization
# (exp(-λt)·Σ exp(λt_i)) overflows double once t_i spans days, so the
# decay exponent is computed PER PAIR — bounded [0, 2] inside the 1 h
# band — which the bucket equi-join makes scale-legal. Oracle: DuckDB
# inequality join with the identical per-pair formula.
# =============================================================================
@q(
    "events_decayed_activity",
    """
    WITH pairs AS (
      SELECT e1.event_id AS pid,
             sum(power(2.0, -(epoch_us(e1.ts) - epoch_us(e2.ts)) / 1800000000.0))
               AS decayed
      FROM events e1 JOIN events e2
        ON e2.user_id = e1.user_id
       AND e2.ts >= e1.ts - INTERVAL 3600 SECOND
       AND e2.ts < e1.ts
      GROUP BY 1
    )
    SELECT e.event_type,
           floor(avg(coalesce(p.decayed, 0.0)) * 10000 + 0.5) / 10000
             AS avg_decayed_activity,
           count(*)::BIGINT AS n_events
    FROM events e LEFT JOIN pairs p ON e.event_id = p.pid
    GROUP BY 1
    """,
)
def events_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The output is TYPE-level, so the per-event decayed sums never
    # need to materialize: avg over events of (sum of pair decays) ==
    # (sum of ALL pair decays for the type) / n_events_of_type, with
    # no-predecessor events contributing 0 to the numerator either way.
    # The r6 spelling aggregated per event_id and LEFT-joined back onto
    # events — an event_id-wide exchange plus a join (AQE flipped it to
    # an SMJ once the per-event frame outgrew the broadcast threshold;
    # caught by the r7 vs_anchor glance). Now the pair stream partial-
    # aggregates map-side straight onto |event_type| keys (<= 3 rows
    # per task leave the map side — no skew is constructible), the
    # event counts are one more tiny agg, and the only join is 3x3
    # broadcast.
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    pairs = time_band_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        ev.select("user_id", "ts"),
        "ts",
        "ts",
        band_seconds=3600.0,
        on=["user_id"],
    )
    age_us = F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("r_ts"))
    # every decay term is bounded in (0.5, 1] by the band, so the type
    # total sums them in whatever order the partials arrive — the 4 dp
    # floor-round absorbs float-ordering differences vs the oracle's
    # per-event-then-avg reduction (double carries ~15 significant
    # digits; the divergence is ~1e-10 relative)
    # NULL-safe type key via sentinel, NOT eqNullSafe: a NULL
    # event_type is a legitimate GROUP (groupBy keeps it on both
    # engines) but a plain join key silently drops its decayed sum
    # (r7 null-riddled events harness; the oracle's event_id-keyed
    # join never had the problem). eqNullSafe fixes it too but
    # measured ~3x slower on the broadcast join (0.38-0.47 s vs
    # 0.10-0.14 s plain at sf0.1); coalescing NULL to a NUL-byte
    # sentinel keeps the fast plain-equality path. A real type equal
    # to "\\x00" would merge with the NULL group — not a realistic
    # type string.
    _NULL_KEY = chr(0)
    by_type = (
        pairs.filter((age_us > 0) & (age_us <= 3_600_000_000))
        .groupBy(
            F.coalesce(F.col("p_event_type"), F.lit(_NULL_KEY)).alias("k")
        )
        .agg(
            F.sum(F.pow(F.lit(2.0), -age_us / F.lit(1_800_000_000.0))).alias(
                "sum_decayed"
            )
        )
    )
    counts = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .withColumn("k", F.coalesce(F.col("event_type"), F.lit(_NULL_KEY)))
    )
    return counts.join(F.broadcast(by_type), "k", "left").select(
        "event_type",
        (
            F.floor(
                F.coalesce("sum_decayed", F.lit(0.0))
                / F.col("n_events")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("avg_decayed_activity"),
        "n_events",
    )


# =============================================================================
# Triangle counting — global triangles / wedges / clustering coefficient
# of the supplier STRONG-PARTNER graph: each supplier keeps its top-3
# most frequent order-co-occurrence partners (ties to the lower id), a
# k-NN graph construction that stays <= 3n edges at ANY scale — the raw
# co-occurrence graph goes near-complete as orders grow (453k edges on
# 1000 suppliers at sf0.1), and on a near-complete graph EVERY triangle
# algorithm is Θ(n³) because the answer itself is. Operator:
# degree-ordered edge iterator (Suri & Vassilvitskii) — each edge
# oriented low-rank -> high-rank so no hub explodes the wedge join;
# three keyed equi-joins. Oracle: canonical triple self-join on the
# a<b<c edge form.
# =============================================================================
@q(
    "graph_triangle_suppliers",
    """
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
    ),
    deg AS (
      SELECT n, count(*)::BIGINT AS d
      FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
      GROUP BY 1
    ),
    tri AS (
      SELECT count(*)::BIGINT AS t
      FROM e ab JOIN e bc ON ab.b = bc.a
      JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    wd AS (SELECT sum(d * (d - 1) // 2)::BIGINT AS w FROM deg)
    SELECT t AS n_triangles, w AS n_wedges,
           CASE WHEN w = 0 THEN 0.0
                ELSE floor(3.0 * t / w * 1000000 + 0.5) / 1000000
           END AS clustering
    FROM tri, wd
    """,
)
def graph_triangle_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from social_and_media_data_ingestion_spark.operators.graph import triangle_count
    from social_and_media_data_ingestion_spark.plans.queries_ext5 import _partner_edges

    return triangle_count(_partner_edges(spark, sf_dir))


# =============================================================================
# Clustering-quality audit — per-cluster label purity of the k-means
# assignment (majority-label fraction): the standard external evaluation
# metric when ground-truth labels exist. Reuses the map-only assign
# (centroid literals, no corpus×k shuffle), joins the label column, and
# reduces to k rows via two partial-combinable aggregates. Ties on the
# majority label break to the lower label id on both engines.
# =============================================================================
@q(
    "emb_cluster_purity",
    """
    WITH valid_embeddings AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND len(list_filter(embedding, x -> x <> 0)) > 0),
    cent AS (
      -- vec_id < 8 over VALID vectors: mirrors emb_kmeans_assign's
      -- seed cache (vectors().filter(vec_id < k)), which this query
      -- composes — NOT the orderBy-limit seeding the Lloyd/IVF family
      -- uses
      SELECT vec_id AS cid, embedding AS ce
      FROM valid_embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT e.vec_id, e.label, cent.cid,
             list_sum(list_transform(range(len(e.embedding)),
               i -> e.embedding[i+1]::DOUBLE * ce[i+1]::DOUBLE))
             / (sqrt(list_sum(list_transform(e.embedding,
                  x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(ce, x -> x::DOUBLE * x::DOUBLE))))
               AS cos
      FROM valid_embeddings e CROSS JOIN cent
    ),
    assigned AS (
      SELECT vec_id, label, cid
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cid ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    lc AS (
      SELECT cid, label, count(*)::BIGINT AS n
      FROM assigned GROUP BY 1, 2
    ),
    best AS (
      SELECT cid, label AS majority_label, n AS n_majority,
             -- NULLS LAST explicitly: on a majority TIE between a
             -- real label and NULL (unlabeled members), the real label
             -- wins on both engines (Spark defaults NULLS FIRST,
             -- DuckDB NULLS LAST — r7 null harness)
             row_number() OVER (PARTITION BY cid
                                ORDER BY n DESC, label ASC NULLS LAST) AS rk
      FROM lc
    ),
    sizes AS (SELECT cid, sum(n)::BIGINT AS n_members FROM lc GROUP BY 1)
    SELECT s.cid AS centroid_id, s.n_members,
           b.majority_label::BIGINT AS majority_label,
           floor(b.n_majority::DOUBLE / s.n_members * 1000000 + 0.5) / 1000000
             AS purity
    FROM sizes s JOIN (SELECT * FROM best WHERE rk = 1) b ON b.cid = s.cid
    """,
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from social_and_media_data_ingestion_spark.plans.queries_ext import (
        emb_kmeans_assign,
    )

    assigned = emb_kmeans_assign(spark, sf_dir).select("vec_id", "centroid_id")
    labels = vectors(spark, sf_dir).select("vec_id", "label")
    lc = (
        assigned.join(labels, "vec_id")
        .groupBy("centroid_id", "label")
        .agg(F.count("*").alias("n"))
    )
    # NULLS LAST: mirror of the oracle tie-break (see its comment)
    w = Window.partitionBy("centroid_id").orderBy(
        F.desc("n"), F.asc_nulls_last("label")
    )
    best = (
        lc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "centroid_id",
            F.col("label").cast("long").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    sizes = lc.groupBy("centroid_id").agg(F.sum("n").alias("n_members"))
    return sizes.join(best, "centroid_id").select(
        "centroid_id",
        "n_members",
        "majority_label",
        (
            F.floor(F.col("n_majority") / F.col("n_members") * 1_000_000 + F.lit(0.5))
            / 1_000_000
        ).alias("purity"),
    )


# =============================================================================
# Survival analysis — customer repurchase curve: the empirical survival
# function of inter-order gaps, S(t) = P(next order takes more than t
# days), evaluated at the standard retention horizons. One lag() window
# per customer (single entity-key shuffle) then scalar aggregates —
# the churn-model feature every subscription/commerce pipeline derives.
# =============================================================================
@q(
    "orders_repurchase_survival",
    """
    WITH gaps AS (
      SELECT date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS gap_days
      FROM orders
    ),
    g AS (SELECT gap_days FROM gaps WHERE gap_days IS NOT NULL),
    h(t) AS (VALUES (7), (14), (30), (60), (90), (180))
    SELECT h.t AS horizon_days,
           floor(avg(CASE WHEN g.gap_days > h.t THEN 1.0 ELSE 0.0 END)
                 * 1000000 + 0.5) / 1000000 AS survival,
           count(*)::BIGINT AS n_gaps
    FROM h CROSS JOIN g
    GROUP BY 1
    """,
)
def orders_repurchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    horizons = spark.createDataFrame([(t,) for t in (7, 14, 30, 60, 90, 180)], ["t"])
    return (
        gaps.crossJoin(F.broadcast(horizons))
        .groupBy(F.col("t").alias("horizon_days"))
        .agg(
            (
                F.floor(
                    F.avg(
                        F.when(F.col("gap_days") > F.col("t"), 1.0).otherwise(0.0)
                    )
                    * 1_000_000
                    + F.lit(0.5)
                )
                / 1_000_000
            ).alias("survival"),
            F.count("*").alias("n_gaps"),
        )
    )


# =============================================================================
# Benford's-law audit — data-quality / fraud screen on order amounts:
# observed first-significant-digit frequencies vs the Benford
# expectation log10(1 + 1/d), with the chi-square contribution per
# digit. A 9-row vocabulary-bounded aggregate over any monetary column;
# the classic anomaly screen run over financial fact tables at scale.
# =============================================================================
@q(
    "orders_benford_audit",
    """
    WITH d AS (
      -- explicit floor: DuckDB's double->BIGINT cast rounds half-even,
      -- Spark's truncates; floor agrees everywhere
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                  1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
    tot AS (SELECT sum(n)::BIGINT AS total FROM c)
    SELECT digit,
           n,
           floor(n::DOUBLE / total * 1000000 + 0.5) / 1000000 AS observed,
           floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000
             AS benford,
           floor(pow(n::DOUBLE / total - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000
             AS chi2_term
    FROM c CROSS JOIN tot
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).cast("long").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").alias("total"))
    obs = F.col("n") / F.col("total")
    ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))

    def r6(x):
        return F.floor(x * 1_000_000 + F.lit(0.5)) / 1_000_000

    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        r6(obs).alias("observed"),
        r6(ben).alias("benford"),
        r6(F.pow(obs - ben, 2) / ben).alias("chi2_term"),
    )


# =============================================================================
# PMI phrase detection (word2vec-style collocation scoring, Mikolov et
# al. 2013): score adjacent bigrams by pointwise mutual information
# ln(p(ab) / (p(a)·p(b))) with a min-count support threshold, emit the
# top-20 collocations. Counts are partial-combinable keyed on the token
# / bigram (vocabulary-bounded post-combine); corpus totals are scalar
# aggregates broadcast back via cross join of a 1-row frame; top-k is
# limit-first. The phrase-merge preprocessing step every word2vec /
# tokenizer-training pipeline runs over a 100 TB corpus.
# =============================================================================
@q(
    "text_pmi_bigrams",
    f"""
    WITH tk AS (SELECT {_TOKS} AS toks FROM documents),
    uni AS (
      SELECT w, count(*)::BIGINT AS c
      FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1
    ),
    bi AS (
      SELECT b, count(*)::BIGINT AS c
      FROM (
        SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS b
        FROM tk
      ) GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT sum(c) FROM uni)::BIGINT AS nw,
             (SELECT sum(c) FROM bi)::BIGINT AS nb
    ),
    pmi AS (
      SELECT bi.b AS bigram, bi.c AS n,
             ln((bi.c::DOUBLE / tot.nb)
                / ((ua.c::DOUBLE / tot.nw) * (ub.c::DOUBLE / tot.nw))) AS pmi
      FROM bi
      CROSS JOIN tot
      JOIN uni ua ON ua.w = string_split(bi.b, ' ')[1]
      JOIN uni ub ON ub.w = string_split(bi.b, ' ')[2]
      WHERE bi.c >= 5
    ),
    top AS (SELECT * FROM pmi ORDER BY pmi DESC, bigram LIMIT 20)
    SELECT bigram, n,
           floor(pmi * 1000000 + 0.5) / 1000000 AS pmi,
           row_number() OVER (ORDER BY pmi DESC, bigram)::BIGINT AS rk
    FROM top
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        F.expr(D._sql_tokens("text")).alias("toks")
    )
    # ONE tokenize pass, ONE corpus-scale shuffle (round-11 scan
    # sharing): each row emits its unigrams AND bigrams as one tagged
    # gram stream, aggregated once to a vocabulary-scale (kind, gram)
    # count table that is lazily pinned; unigram counts, bigram counts,
    # and both corpus totals all derive from the pinned frame. The old
    # spelling tokenized and scanned documents once per count table and
    # once more for the totals (3 full corpus reads at 100 TB). Shuffle
    # bytes are unchanged — the tagged stream is exactly
    # |tokens| + |bigrams| rows, the same volume the two separate
    # aggregations shuffled.
    grams = F.expr(
        f"""concat(
      transform(toks, w -> named_struct('kind', 'u', 'g', w)),
      transform({D._sql_ngrams("toks", 2)},
        b -> named_struct('kind', 'b', 'g', b)))"""
    )
    gc = (
        docs.select(F.explode(grams).alias("kg"))
        .select(F.col("kg.kind").alias("kind"), F.col("kg.g").alias("g"))
        .groupBy("kind", "g")
        .agg(F.count("*").alias("c"))
        .transform(pin)
    )
    bi = gc.filter(F.col("kind") == "b").select(F.col("g").alias("b"), "c")
    tot = gc.agg(
        F.sum(F.when(F.col("kind") == "u", F.col("c"))).alias("nw"),
        F.sum(F.when(F.col("kind") == "b", F.col("c"))).alias("nb"),
    )
    ua = gc.filter(F.col("kind") == "u").select(
        F.col("g").alias("wa"), F.col("c").alias("ca")
    )
    ub = gc.filter(F.col("kind") == "u").select(
        F.col("g").alias("wb"), F.col("c").alias("cb")
    )
    # shuffle_hash, not SMJ: the pinned frame scans as an ExistingRDD
    # with no stats, so the static planner would sort-merge (the
    # er_resolution_pipeline precedent); vocabulary-scale sides hash
    # safely at any corpus size
    pmi = (
        bi.filter(F.col("c") >= 5)
        .withColumn("wa", F.split("b", " ")[0])
        .withColumn("wb", F.split("b", " ")[1])
        .join(ua.hint("shuffle_hash"), "wa")
        .join(ub.hint("shuffle_hash"), "wb")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("b").alias("bigram"),
            F.col("c").alias("n"),
            F.log(
                (F.col("c") / F.col("nb"))
                / ((F.col("ca") / F.col("nw")) * (F.col("cb") / F.col("nw")))
            ).alias("pmi_raw"),
        )
    )
    from pyspark.sql import Window

    top = pmi.orderBy(F.desc("pmi_raw"), F.asc("bigram")).limit(20)
    return top.select(
        "bigram",
        "n",
        (F.floor(F.col("pmi_raw") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "pmi"
        ),
        F.row_number()
        .over(Window.orderBy(F.desc("pmi_raw"), F.asc("bigram")))
        .cast("long")
        .alias("rk"),
    )


# =============================================================================
# SCD type-2 history construction — turn the events change-log into a
# slowly-changing-dimension state table: one row per (user, state spell)
# with valid_from / valid_to / is_current. Pure lead() over the per-user
# partition — ONE shuffle on the entity key, the canonical warehouse
# spelling. Spell boundaries collapse consecutive repeats of the same
# state first (lag != current), so re-assertions of an unchanged state
# don't open new spells.
# =============================================================================
@q(
    "scd2_user_state_history",
    """
    WITH log AS (
      SELECT user_id, ts, event_id, event_type AS state,
             lag(event_type) OVER w AS prev_state
      -- time-semantics contract (r13 fuzz): a spell needs a valid_from
      -- instant; unknown-time rows excluded on both engines
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, ts, event_id, state FROM log
      WHERE prev_state IS NULL OR state <> prev_state
    )
    SELECT user_id, state,
           ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("state"),
        F.lag("event_type").over(w).alias("prev_state"),
    )
    changes = log.filter(
        F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state"))
    )
    # (ts, event_id) — ts ALONE leaves spell order (and therefore
    # valid_to/is_current) engine-dependent when two state changes share
    # a timestamp (caught by the timestamp-tie robustness harness)
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


# =============================================================================
# MERGE / upsert semantics (lake table maintenance, Delta/Iceberg MERGE
# INTO re-expressed relationally): apply a derived change-set to the
# customer snapshot — matched keys update the balance, unmatched keys
# insert, and matched keys flagged delete drop. The spelling is a FULL
# OUTER join on the key (one shuffle; broadcast when the change-set is
# small), which is exactly how a MERGE compiles when the target has no
# transaction log. Change-set here: per-customer 1995 order revenue
# (update), synthetic new ids (insert), and high-balance flags (delete)
# — all derived deterministically from the test tables.
# =============================================================================
@q(
    "lake_merge_upsert",
    """
    WITH changes AS (
      SELECT o_custkey AS key,
             round(sum(o_totalprice), 2) AS new_bal,
             max(o_totalprice) > 400000 AS del
      FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      GROUP BY 1
      UNION ALL
      SELECT 1000000 + r AS key, 0.0 AS new_bal, false AS del
      FROM (SELECT unnest(range(5)) AS r)
    )
    SELECT coalesce(c.c_custkey, ch.key) AS c_custkey,
           CASE WHEN ch.key IS NULL THEN round(c.c_acctbal, 2)
                ELSE ch.new_bal END AS c_acctbal,
           (ch.key IS NOT NULL AND c.c_custkey IS NOT NULL) AS was_updated,
           (c.c_custkey IS NULL) AS was_inserted
    FROM customer c FULL OUTER JOIN changes ch ON c.c_custkey = ch.key
    WHERE NOT coalesce(ch.del, false)
    """,
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    upd = (
        orders.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("new_bal"),
            (F.max("o_totalprice") > 400000).alias("del"),
        )
    )
    ins = spark.range(5).select(
        (F.col("id") + 1_000_000).alias("key"),
        F.lit(0.0).alias("new_bal"),
        F.lit(False).alias("del"),
    )
    changes = upd.unionByName(ins)
    joined = cust.join(changes, cust.c_custkey == changes.key, "full_outer")
    return joined.filter(~F.coalesce("del", F.lit(False))).select(
        F.coalesce(cust.c_custkey, F.col("key")).alias("c_custkey"),
        F.when(F.col("key").isNull(), F.round("c_acctbal", 2))
        .otherwise(F.col("new_bal"))
        .alias("c_acctbal"),
        (F.col("key").isNotNull() & cust.c_custkey.isNotNull()).alias(
            "was_updated"
        ),
        cust.c_custkey.isNull().alias("was_inserted"),
    )


# =============================================================================
# Gopher-style repetition signals (Rae et al. 2021 quality filters):
# per-document top-word fraction, top-bigram fraction, and duplicate-
# trigram fraction, averaged per source. The n-gram mode fractions go
# through explode + two-level agg (partial-combinable, scales to any
# document length); the duplicate-trigram fraction is computed IN-ROW
# from array_distinct — zero extra shuffle. floor(x*1e6+0.5)/1e6
# rounding on both engines (repo convention).
# =============================================================================
# =============================================================================
# Streaming point-in-time enrichment — the j9 as-of join run as a
# STREAM: views arrive as micro-batches, each batch as-of joins the
# static purchase reference via foreachBatch (the window as-of spelling
# can't run natively on a stream), results append to parquet, the
# drained output is returned. Per-batch as-of == whole-stream as-of
# because a probe's match depends only on the static reference — so the
# SAME DuckDB ASOF JOIN oracle as the batch query must hash-match.
# =============================================================================
@q(
    "stream_asof_enrich_purchases",
    _ASOF_CTES
    + """
    SELECT v.event_id,
           p.ts    AS last_purchase_ts,
           p.value AS last_purchase_value
    FROM vw v ASOF LEFT JOIN pur p
      ON v.uid = p.uid AND v.ts >= p.ts
    """,
)
def stream_asof_enrich_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from social_and_media_data_ingestion_spark.plans.tables import events_stream
    from social_and_media_data_ingestion_spark.streaming.pipeline import (
        stream_asof_enrich,
    )

    views = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    ).select("event_id", "user_id", "ts")
    base = tempfile.mkdtemp(prefix="asof_stream_")
    out = stream_asof_enrich(
        views,
        _purchases(spark, sf_dir),
        out_dir=f"{base}/out",
        checkpoint_dir=f"{base}/chk",
        on=["user_id"],
        probe_ts="ts",
        ref_ts="ts",
        value_cols=["value"],
    )
    return out.select(
        "event_id",
        F.col("matched_ts").alias("last_purchase_ts"),
        F.col("value").alias("last_purchase_value"),
    )


# =============================================================================
# Streaming near-duplicate filter — ONLINE ingestion dedup: documents
# arrive as micro-batches and each batch is probed against the STATIC
# already-ingested corpus (doc_id < 250) through an inverted word-3-gram
# shingle index; a new doc is flagged dup when its Jaccard vs any static
# doc reaches 0.5 (dup_of = best match, ties to the lowest id). The
# index join shuffles on the shingle (vocabulary-bounded), the verify is
# candidates-only — the same scale posture as the batch near-dedup
# stack, applied per batch. Per-batch == whole-stream because each new
# doc is judged against the static side only. The reference dedupes
# batch-wise before its regex filter (parser_media_articles.py:84-85);
# this is that semantic on a live feed. Oracle: the identical
# split/index/Jaccard computation in DuckDB SQL.
# =============================================================================
_NEARDUP_SPLIT = 250
_DUCK_SH3 = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


@q(
    "stream_neardup_filter",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tg AS (SELECT doc_id, {_DUCK_SH3} AS sh FROM tok),
    sizes AS (SELECT doc_id, len(sh)::BIGINT AS sz FROM tg),
    stat AS (SELECT doc_id AS sid, unnest(sh) AS s FROM tg
             WHERE doc_id < {_NEARDUP_SPLIT}),
    new AS (SELECT doc_id AS nid, unnest(sh) AS s FROM tg
            WHERE doc_id >= {_NEARDUP_SPLIT}),
    inter AS (
      SELECT nid, sid, count(*)::BIGINT AS i
      FROM new JOIN stat ON new.s = stat.s
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT nid, sid,
             i::DOUBLE / (sn.sz + ss.sz - i) AS j
      FROM inter
      JOIN sizes sn ON sn.doc_id = nid
      JOIN sizes ss ON ss.doc_id = sid
      WHERE i::DOUBLE / (sn.sz + ss.sz - i) >= 0.5
    ),
    best AS (
      SELECT nid, sid, j,
             row_number() OVER (PARTITION BY nid ORDER BY j DESC, sid) AS rk
      FROM jac
    )
    SELECT t.doc_id,
           b.sid IS NOT NULL AS is_dup,
           b.sid AS dup_of,
           round(b.j, 6) AS jaccard
    FROM tg t LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
      ON t.doc_id = b.nid
    WHERE t.doc_id >= {_NEARDUP_SPLIT}
    """,
)
def stream_neardup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from social_and_media_data_ingestion_spark.operators.dedup import (
        _shingle_array,
        neardup_probe,
        word_shingles,
    )
    from social_and_media_data_ingestion_spark.plans.tables import documents_stream
    from social_and_media_data_ingestion_spark.streaming.pipeline import (
        stream_transform_to_parquet,
    )

    docs = t(spark, sf_dir, "documents")
    static = docs.filter(F.col("doc_id") < _NEARDUP_SPLIT)
    # built once, reused by every micro-batch probe
    static_idx = word_shingles(static, "doc_id", "text", n=3).select(
        F.col("id").alias("sid"), F.col("shingle").alias("s")
    ).cache()
    static_sizes = static.select(
        F.col("doc_id").alias("sid"),
        F.size(F.array_distinct(_shingle_array("text", 3))).cast("long").alias(
            "s_sz"
        ),
    ).cache()

    base = tempfile.mkdtemp(prefix="neardup_stream_")
    stream = documents_stream(spark, sf_dir).filter(
        F.col("doc_id") >= _NEARDUP_SPLIT
    )
    return stream_transform_to_parquet(
        stream,
        lambda batch: neardup_probe(
            batch, static_idx, static_sizes, "doc_id", "text", n=3, threshold=0.5
        ),
        f"{base}/out",
        f"{base}/chk",
    )


# =============================================================================
# Weighted reservoir sampling (Efraimidis–Espirakis A-ES): top-5 docs per
# source ranked by u^(1/w), u a deterministic integer-hash uniform and
# w = ln(1 + n_chars) the sampling weight — longer documents win
# proportionally more often, and the draw is reproducible across engines
# and runs (repo convention: pure-integer hashing, no RNG). One window
# shuffle on source; at scale the per-partition top-k pre-reduction
# (TakeOrdered-style) bounds the exchange. Complements the uniform
# quota/rate samplers (sample_fixed_quota_per_source, stratified_hash).
# =============================================================================
@q(
    "sample_weighted_reservoir",
    """
    WITH k AS (
      SELECT source, doc_id,
             (((doc_id * 2654435761) % 1000000007) % 1000000 + 1) / 1000001.0
               AS u,
             ln(1.0 + greatest(n_chars, 1)) AS w
      FROM documents
    ),
    r AS (
      SELECT source, doc_id, power(u, 1.0 / w) AS key,
             row_number() OVER (
               PARTITION BY source
               ORDER BY power(u, 1.0 / w) DESC, doc_id ASC
             ) AS rk
      FROM k
    )
    SELECT source, doc_id,
           floor(key * 1000000 + 0.5) / 1000000 AS sample_key
    FROM r WHERE rk <= 5
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    u = (
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007)) % F.lit(1000000)
        + 1
    ) / F.lit(1000001.0)
    # greatest(n_chars, 1): an empty doc must not put a zero in the
    # weight denominator (engines disagree on double x/0)
    key = F.pow(
        u, F.lit(1.0) / F.log(F.lit(1.0) + F.greatest("n_chars", F.lit(1)))
    )
    w = Window.partitionBy("source").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        docs.select("source", "doc_id", key.alias("key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            "doc_id",
            (F.floor(F.col("key") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "sample_key"
            ),
        )
    )


_DUCK_BIGRAMS = (
    "list_transform(range(1, len(toks)), "
    "i -> toks[i] || ' ' || toks[i + 1])"
)
_DUCK_TRIGRAMS = (
    "list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])"
)


@q(
    "text_repetition_signals",
    f"""
    WITH tk AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    -- vrow: the signals are PER PHYSICAL DOCUMENT (the Spark twin is a
    -- map-only per-row plan), so the stat CTEs key on a materialized
    -- per-row number, never doc_id — a doc_id-keyed join-back fans out
    -- k^2 under legal whole-row duplicate ingests (r13 fuzz). The
    -- ORDER BY makes numbering deterministic; fully-identical rows may
    -- swap numbers, which cannot change any joined result.
    base AS MATERIALIZED (
      SELECT row_number() OVER (
               ORDER BY doc_id, md5(array_to_string(toks, ' '))) AS vrow,
             source, toks
      FROM tk WHERE len(toks) >= 3
    ),
    wc AS (
      SELECT vrow, w, count(*)::BIGINT AS c
      FROM (SELECT vrow, unnest(toks) AS w FROM base) GROUP BY 1, 2
    ),
    wstat AS (
      SELECT vrow, max(c)::DOUBLE / sum(c) AS top_word_frac FROM wc GROUP BY 1
    ),
    bc AS (
      SELECT vrow, b, count(*)::BIGINT AS c
      FROM (SELECT vrow, unnest({_DUCK_BIGRAMS}) AS b FROM base) GROUP BY 1, 2
    ),
    bstat AS (
      SELECT vrow, max(c)::DOUBLE / sum(c) AS top_bigram_frac FROM bc GROUP BY 1
    ),
    tstat AS (
      SELECT vrow,
             1.0 - len(list_distinct(tg))::DOUBLE / len(tg) AS dup_trigram_frac
      FROM (SELECT vrow, {_DUCK_TRIGRAMS} AS tg FROM base)
    )
    SELECT b.source,
           floor(avg(w.top_word_frac)   * 1000000 + 0.5) / 1000000 AS avg_top_word_frac,
           floor(avg(bs.top_bigram_frac) * 1000000 + 0.5) / 1000000 AS avg_top_bigram_frac,
           floor(avg(ts.dup_trigram_frac) * 1000000 + 0.5) / 1000000 AS avg_dup_trigram_frac,
           count(*)::BIGINT AS n_docs
    FROM base b
    JOIN wstat w USING (vrow)
    JOIN bstat bs USING (vrow)
    JOIN tstat ts USING (vrow)
    GROUP BY 1
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(D._sql_tokens("text")).alias("toks")
    )
    base = docs.filter(F.size("toks") >= 3)

    # every signal is PER-DOCUMENT, so none of them needs a shuffle:
    # the max count of any gram equals the LONGEST RUN in the sorted
    # gram array — an O(n log n) in-row fold. The old spelling exploded
    # the corpus twice into (doc, gram) aggregations and joined three
    # per-doc frames back together: 4 documents scans and 2
    # corpus-scale shuffles for what is one scan + a |sources| hash-agg
    # at 100 TB (round-11 scan sharing).
    def run_max(arr_sql: str) -> str:
        return f"""aggregate(
          array_sort({arr_sql}),
          named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
          (s, x) -> named_struct(
            'prev', x,
            'run', IF(s.prev IS NOT NULL AND x = s.prev, s.run + 1L, 1L),
            'best', greatest(s.best,
                    IF(s.prev IS NOT NULL AND x = s.prev, s.run + 1L, 1L))),
          s -> s.best)"""

    bigrams, trigrams = D._sql_ngrams("toks", 2), D._sql_ngrams("toks", 3)
    per_doc = base.select(
        "source",
        (
            F.expr(run_max("toks")).cast("double") / F.size("toks")
        ).alias("top_word_frac"),
        F.expr(
            f"CAST({run_max(bigrams)} AS DOUBLE) / size({bigrams})"
        ).alias("top_bigram_frac"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(F.expr(trigrams))).cast("double")
            / F.size(F.expr(trigrams))
        ).alias("dup_trigram_frac"),
    )

    def r6(col):
        return F.floor(F.avg(col) * 1_000_000 + F.lit(0.5)) / 1_000_000

    return per_doc.groupBy("source").agg(
        r6("top_word_frac").alias("avg_top_word_frac"),
        r6("top_bigram_frac").alias("avg_top_bigram_frac"),
        r6("dup_trigram_frac").alias("avg_dup_trigram_frac"),
        F.count("*").alias("n_docs"),
    )
