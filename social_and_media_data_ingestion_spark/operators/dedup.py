"""Deduplication operators — exact + near-dup (SURVEY §2.5 A2/A3 and the
LLM-pipeline layer: MinHash-LSH, SimHash, n-gram Jaccard).

Determinism: Spark's `dropDuplicates` keeps an arbitrary row; where the
caller (or the oracle) needs stability we use keep-first = min(key) /
row_number, which is order-independent and reproducible.

Cross-engine determinism for near-dup: MinHash/SimHash usually use a
native hash (xxhash64) whose exact value differs between engines. To make
results verifiable against a SQL oracle, the token hash here is a
polynomial rolling hash over the shingle's characters (pure integer
arithmetic — identical in any engine), fed into the classic universal
hash family h_i(x) = (a_i * x + b_i) mod P. Pass hash_fn="xxhash64" to
swap in Spark's native hash (faster JVM path, not oracle-comparable).

Scale notes:
- Exact dedup: hash-aggregate on a fingerprint (one shuffle on a short
  key, not the full text).
- MinHash / SimHash signatures: MAP-ONLY — signatures are computed from
  the token array within each row (higher-order array functions), no
  explode, no shuffle, no global dictionary. This is the property that
  survives a 100 TB corpus: signature cost is O(tokens/doc) per row and
  partitions never exchange data.
- MinHash-LSH candidates: one self-join on (band, band_hash) buckets —
  candidate pairs only, never the n^2 cross join.
- Jaccard verify of candidates: joins per-document shingle arrays to the
  candidate pairs, so its volume follows the candidate set.
"""

from __future__ import annotations

import logging
import warnings

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types

from social_and_media_data_ingestion_spark.session import pin

_log = logging.getLogger(__name__)

# 32-bit-safe universal-hash parameters (P is a Mersenne prime 2^31-1).
_P = 2147483647
_HASH_AB = [
    (1103, 12345),
    (2654435761, 987654321),
    (97, 1013904223),
    (31_337, 271_828),
    (48271, 16807),
    (69621, 104729),
    (40692, 65537),
    (1583458089, 945_568_237),
    (784588716, 577_215_664),
    (16807, 282_475_249),
    (950706376, 141_421_356),
    (62089911, 173_205_080),
]


def exact_dedup_keep_first(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep-first (min id) exact dedup on a column's value — deterministic
    version of the reference's drop_duplicates("text1")
    (parser_media_articles.py:84). Aggregates on the dedup key, so the
    shuffle key is the text value itself; for long texts prefer
    `exact_dedup_by_fingerprint`."""
    keep = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    return keep.select(id_col, text_col)


def normalized_fingerprint(col):
    """md5 of whitespace-collapsed, lowercased, trimmed text — the document
    fingerprint used for exact near-normalization dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def exact_dedup_by_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup that shuffles a 32-byte fingerprint instead of the text.
    Returns one row per distinct fingerprint: (fingerprint, kept id, dup count)."""
    return (
        df.select(normalized_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )


def keep_latest(df: DataFrame, key: str, order_col: str, tiebreak: str) -> DataFrame:
    """Last-wins dedup (ref tweet_download.py:50-52 user map overwrite):
    one row per key, the one with the greatest (order_col, tiebreak)."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col), F.desc(tiebreak))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- Shingling ----------------------------------------------------------------


_POLY_BASE = 31
_POLY_MOD = 1_000_000_007


def _tokens(text_col: str):
    """Whitespace tokens of lowercased text; empty strings removed."""
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )


def _polyhash(s):
    """Polynomial rolling hash of a string column/lambda-var — the
    cross-engine-deterministic token hash (pure integer arithmetic)."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * _POLY_BASE + F.ascii(ch)) % _POLY_MOD,
    )


def _shingle_array(text_col: str, n: int):
    """Array of word n-grams (with multiplicity) of a text column —
    evaluated row-local, never exploded (see _sql_ngrams)."""
    if n == 1:
        return _tokens(text_col)
    return F.expr(_sql_shingles(text_col, n))


# --- SQL-string twins of the above (the similarity.py compiler pattern) ------
#
# MinHash signatures repeat the shingle+hash expression num_hashes times;
# built through the Column DSL that costs hundreds of Py4J round-trips of
# driver time per query build. These helpers emit the SAME expressions
# as ONE parsed SQL string. The SQL mirrors the DSL operation-for-
# operation; the cross-engine DuckDB oracles pin the equivalence.


def _quote_ident(col: str) -> str:
    """Backtick-quote a column NAME for interpolation into a SQL string
    (backticks inside the name escape by doubling, per Spark's parser).
    These helpers accept simple column identifiers only — not
    expressions — so quoting is always correct and makes names with
    spaces/hyphens/reserved words parse the same way F.col() would."""
    return "`" + col.replace("`", "``") + "`"


def _sql_tokens(text_col: str) -> str:
    return (
        "filter(split(lower(trim("
        f"{_quote_ident(text_col)})), '\\\\s+'), t -> t != '')"
    )


def _sql_ngrams(toks_sql: str, n: int) -> str:
    """Word n-grams (n >= 2, with multiplicity, in order) of a token-array
    SQL expression; an array shorter than n yields an empty array.

    The token array is bound as lambda var `tk` (flatten(transform(
    array(x), tk -> ...)) is the SQL-level let-binding) so it is
    evaluated ONCE per row: an outer reference inside the n-gram lambda
    is inlined by CollapseProject and re-evaluated per element, which
    made tokenization O(tokens x n-grams) work per row — measured 5x
    slower at sf0.1. The expression stays map-only whole-stage codegen
    (no shuffle, unlike a window-lead spelling)."""
    return (
        f"flatten(transform(array({toks_sql}), tk -> "
        f"CASE WHEN size(tk) >= {n} THEN "
        f"transform(sequence(0, size(tk) - {n}), "
        f"i -> concat_ws(' ', slice(tk, i + 1, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END))"
    )


def _sql_shingles(text_col: str, n: int) -> str:
    toks = _sql_tokens(text_col)
    return toks if n == 1 else _sql_ngrams(toks, n)


def _sql_hash_id(s: str, hash_fn: str) -> str:
    if hash_fn == "xxhash64":
        return f"pmod(xxhash64({s}), {_P})"
    return (
        f"aggregate(split({s}, ''), CAST(0 AS BIGINT), "
        f"(acc, ch) -> (acc * {_POLY_BASE} + ascii(ch)) % {_POLY_MOD})"
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) — distinct word n-grams per document, exploded for
    inverted-index joins (Jaccard verify stage)."""
    return df.select(
        F.col(id_col).alias("id"), F.explode(_shingle_array(text_col, n)).alias("shingle")
    ).distinct()


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    hash_fn: str = "poly",
) -> DataFrame:
    """(id, sig: array<long>) MinHash signature per document.

    MAP-ONLY: h_i = min over shingles of (a_i * hash(shingle) + b_i) % P,
    computed inside the row via transform + array_min — no explode, no
    shuffle, no token dictionary. hash_fn: "poly" (cross-engine
    deterministic) or "xxhash64" (native JVM, fastest). The whole
    signature is compiled to one parsed SQL expression (the num_hashes-
    way repetition through the Column DSL costs ~0.3 s of driver-side
    build per query)."""
    hashed = f"transform({_sql_shingles(text_col, n)}, s -> {_sql_hash_id('s', hash_fn)})"
    # the hashed-shingle array is let-bound as lambda var `hh` so the
    # shingle+hash pipeline runs ONCE per row — repeating {hashed}
    # num_hashes times in the array would re-evaluate it per signature
    # row (same CollapseProject/outer-ref pitfall as _sql_ngrams)
    hs = ",".join(
        f"array_min(transform(hh, x -> ({a} * x + {b}) % {_P}))"
        for a, b in _HASH_AB[:num_hashes]
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform(array({hashed}), hh -> array({hs}))[0]").alias("sig"),
    )


def minhash_lsh_candidates(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 2, max_bucket: int = 4096
) -> DataFrame:
    """(id_a, id_b) candidate near-dup pairs: docs sharing >= 1 LSH band.

    Single shuffle: group by (band index, band value), expand ordered
    pairs inside each bucket with array expressions. Beats the naive
    banded self-join at scale twice over — the signature computation
    (the expensive map side) is evaluated once instead of once per join
    side, and one hash-agg exchange replaces the join's two. Bucket pair
    expansion is quadratic per bucket by construction (that is LSH's
    candidate semantics); band width controls bucket size.

    Hot-bucket guard: a bucket with > max_bucket members (templated or
    identical docs concentrating one band value) would put its entire
    quadratic expansion in ONE task's row — an executor-OOM vector. Such
    buckets fall back to a banded self-join, which spreads the same pair
    set across tasks; buckets at or under the cap keep the in-row fast
    path.

    Documents too short to shingle carry NULL min-hashes (min over an
    empty shingle set). They can never be near-duplicates by the
    measure, so they must not band — without a guard, concat_ws (which
    SKIPS nulls) folds every such document into one shared garbage
    bucket: on a web-scale corpus the billions of empty/near-empty
    pages all land there, and its quadratic expansion is precisely the
    hot-bucket blowup this operator guards against (found by the r7
    null-riddled harness; the DuckDB oracle's NULL-propagating `||`
    concat never joined them, so the garbage bucket was also silently
    divergent cross-engine). The guard is a post-banding
    `bucket IS NOT NULL` filter rather than a sig-level null filter: a
    predicate on the sig column gets pushed into the signature
    projection and re-inlines the whole minhash expression per
    conjunct (r7's spelling tripled it — 24 array_min evaluations per
    row instead of 8, ~2x the query's map time), while the bucket
    string is generator OUTPUT, evaluated once by construction. The
    bucket is built with NULL-PROPAGATING concat (matching the
    oracle's `||`), never concat_ws: concat_ws SKIPS interior NULLs,
    so under a caller-supplied partially-NULL signature [5,NULL] and
    [NULL,5] would both bucket as '5' — spurious candidates no hash
    agreement justifies. With concat, ANY NULL hash in the band nulls
    the bucket and the row leaves that band; the NULL ⇔ unbandable
    mapping is total for ANY sigs frame, not just the all-NULL-or-none
    output of minhash_signatures (round-8 ADVICE)."""
    assert bands * rows_per_band <= 12
    band_entries = ",".join(
        "named_struct('band', {b}, 'bucket', concat({cols}))".format(
            b=b,
            cols=",'_',".join(
                f"cast(sig[{b * rows_per_band + r}] as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = (
        sigs.select(
            "id", F.explode(F.expr(f"array({band_entries})")).alias("bb")
        )
        .select("id", "bb.band", "bb.bucket")
        .filter(F.col("bucket").isNotNull())
    )
    ids = F.array_sort(F.collect_set("id"))
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # PIN the bucket frame: it feeds THREE consumers (small-bucket
    # expansion + both sides of the hot-bucket self-join), and Spark's
    # exchange reuse does not deduplicate the collect_set aggregation
    # subtree — unpinned, the corpus scan + signature computation + one
    # shuffle execute once PER consumer (measured 3 parquet scans and
    # zero ReusedExchange at sf0.1). The pinned frame is bucket-scale
    # (one row per non-singleton (band, bucket)), tiny next to the
    # corpus that built it. LAZY pin (eager=False, round-8 ADVICE):
    # the RDD is marked persistent at construction, so the first
    # action computes it once and all three consumers read the cached
    # blocks — same dedup as eager. Lazy is not free: under AQE,
    # building the pin runs the shuffle map stages below the
    # aggregation (the bucket exchange and any exchange of the
    # caller's lineage) as jobs, because the RDD comes from the final
    # adaptive plan (see `session.pin`). What it defers is the final
    # aggregation stage, so no pinned blocks exist until a caller
    # actually runs the query.
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
    ).transform(pin)
    small = (
        grouped.filter(F.size("ids") <= max_bucket)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    hot = grouped.filter(F.size("ids") > max_bucket)
    hot_members = hot.select(
        "band", "bucket", F.explode("ids").alias("id")
    )
    a, b = hot_members.alias("a"), hot_members.alias("b")
    # shuffled-hash, not sort-merge: the pinned frame scans as an
    # ExistingRDD with no stats, so the static planner would pick an
    # SMJ and AQE never revisits pinned segments; deliberately NOT a
    # broadcast hint — an adversarial corpus can make the hot-member
    # set arbitrarily large, and shuffle-hash degrades safely
    large = a.join(
        b.hint("shuffle_hash"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    return small.union(large).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with n-gram Jaccard >= threshold
    that share >= 1 shingle. Without `candidates`, pairs come from the
    inverted shingle index — never a blind cross join.

    With `candidates` (e.g. from MinHash-LSH) this is the exact verify
    stage, and it touches the candidates only: each candidate document
    gets ONE distinct-shingle array (rows sharing an id union their
    sets), the arrays join to the (id_a < id_b, deduplicated) pairs on
    both ends, and the intersection is counted row-locally. Building the
    inverted index instead would emit every pair sharing a shingle
    before the candidates could prune it, so the verify would cost as
    much as the index path no matter how selective the LSH stage is.
    A reversed (id_a > id_b) candidate is not a pair of this output, as
    on the index path."""
    if candidates is not None:
        return _verify_candidates(df, id_col, text_col, n, threshold, candidates)
    sh = word_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _verify_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    candidates: DataFrame,
) -> DataFrame:
    """The candidate path of :func:`ngram_jaccard_pairs`."""
    pairs = (
        candidates.select("id_a", "id_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    ids = pairs.select(F.col("id_a").alias("id")).union(
        pairs.select(F.col("id_b").alias("id"))
    )
    sets = (
        df.select(F.col(id_col).alias("id"), _shingle_array(text_col, n).alias("sh"))
        .join(ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.array_distinct(F.flatten(F.collect_list("sh"))).alias("sh"))
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - F.col("inter")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", inter)
        .filter(F.col("inter") > 0)
        .select("id_a", "id_b", (F.col("inter") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 12, hash_fn: str = "poly"
) -> DataFrame:
    """(id, simhash) — bit j of the signature is the sign of the sum over
    token INSTANCES of (2 * bit_j(token) - 1), where bit_j(token) =
    universal-hash parity of the token hash. Summing over instances is
    count-weighting, so the whole signature is computed row-local from the
    token array: MAP-ONLY, no explode/shuffle/dictionary.
    Identical-signature groups are near-dup clusters."""
    assert bits <= len(_HASH_AB)
    toks = _tokens(text_col)
    if hash_fn == "xxhash64":
        tid = lambda s: F.pmod(F.xxhash64(s), F.lit(_P))  # noqa: E731
    else:
        tid = _polyhash
    hashed = F.transform(toks, tid)
    bit_sums = [
        F.aggregate(
            F.transform(
                hashed,
                lambda x: ((F.lit(a) * x + F.lit(b)) % F.lit(_P)) % 2 * 2 - 1,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        for (a, b) in _HASH_AB[:bits]
    ]
    sig_expr = sum(
        [
            F.when(bit_sums[j] > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(bits)
        ],
        F.lit(0),
    )
    return df.select(F.col(id_col).alias("id"), sig_expr.cast("long").alias("simhash"))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(id, cluster_id) for every node in `edges`, cluster_id = min node id
    of its connected component — the clustering stage of near-dup dedup
    (pairs -> duplicate groups -> keep one representative per group).

    Iterative min-label propagation: each round every node takes the min
    label among itself and its neighbors; converges in <= diameter rounds
    (near-dup clusters are small and dense, so diameter is tiny in
    practice). Early-stops when no label changes; if max_iter is
    exhausted first, a warning is logged and the (possibly split) labels
    are returned — raise max_iter for graphs of diameter > max_iter.

    Per-round shape: the first round needs no join, because every
    initial label is the node's own id: a node's new label is
    `least(s, min(t))` over the doubled edge set, one aggregate. Each
    later round is ONE join + ONE aggregate. Its probe side carries a
    SELF-LOOP per node, so the neighbor-min aggregate folds the node's
    own label in for free, and the same aggregate yields the old label
    (the self-loop's contribution, `min(when(t == s))`). The labels side
    of the join is SHUFFLE_HASH-hinted: both sides are pinned
    ExistingRDD scans with no stats, so the static planner would
    otherwise SortMergeJoin every round (two sorts of the edge set per
    round) and AQE never revisits pinned segments; the build side is
    the label frame — node-scale, the smaller side by construction
    (|V| vs |2E + V|).

    Convergence: each round's frame counts the nodes whose label moved
    with an `observe()` metric that the round's eager pin computes in
    its own job, so no second job probes for change. The number of
    rounds and the moved count of each are logged at INFO.

    Lineage: the projected input edges and every round's labels are
    eager :func:`session.pin` pins, so the caller's edge lineage runs
    once and the checkpoint medium follows the deployment. The doubled
    edge set is a union over the pinned edges, with duplicates kept.

    Edges with a NULL `src` or `dst` are dropped at entry: a NULL
    endpoint names no node, so it joins no component and never appears
    as an `id`.
    """
    edges = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())

    # numeric ids normalize to long (doc_id ints of any width unify);
    # non-numeric ids (entity-resolution NAME nodes) keep their native
    # type — min-label propagation only needs a total order, which
    # strings have, and a lossy cast would corrupt them to NULL
    numeric = isinstance(
        edges.schema[src].dataType, types.NumericType
    ) and isinstance(edges.schema[dst].dataType, types.NumericType)
    # mixed endpoint types (e.g. a long src against a string dst) would
    # otherwise union a long column with a string column positionally
    # and fail analysis with an opaque error — normalize both sides to
    # string: min-label propagation only needs a total order, and the
    # string order is consistent across both endpoints (r7 ADVICE)
    to_string = not numeric and (
        edges.schema[src].dataType != edges.schema[dst].dataType
    )

    def _id(c: str) -> "F.Column":
        if numeric:
            return F.col(c).cast("long")
        return F.col(c).cast("string") if to_string else F.col(c)

    # materialize the edge set ONCE, FIRST, and derive everything else
    # from the pinned blocks: it is read every round, and the
    # caller's edge lineage (LSH candidates -> Jaccard verify ->
    # shingle scans) would otherwise re-execute per iteration x per
    # action — measured 8.5 s for a 193-edge graph at sf0.1, ~1 s with
    # the pin (the edge frame is tiny next to the corpus that built
    # it). Pinning the DOUBLED set instead still ran that lineage once
    # per union branch, as exchange reuse does not merge the two
    # branches. The doubled set is a map-side union of the pinned
    # blocks with no distinct and no second pin — a duplicate edge
    # only feeds min() the same value twice
    pinned = pin(edges.select(_id(src).alias("s"), _id(dst).alias("t")), eager=True)
    doubled = pinned.union(
        pinned.select(F.col("t").alias("s"), F.col("s").alias("t"))
    )
    moved: list[int] = []
    for _ in range(max_iter):
        if not moved:
            step = doubled.groupBy("s").agg(
                F.least(F.col("s"), F.min("t")).alias("label"),
                F.col("s").alias("__old"),
            )
        else:
            step = (
                bi.join(
                    labels.hint("shuffle_hash").select(
                        F.col("id").alias("t"), F.col("label").alias("t_label")
                    ),
                    "t",
                )
                .groupBy("s")
                .agg(
                    F.min("t_label").alias("label"),
                    F.min(
                        F.when(F.col("t") == F.col("s"), F.col("t_label"))
                    ).alias("__old"),
                )
            )
        seen = Observation()
        stepped = pin(
            step.observe(
                seen,
                F.count(F.when(F.col("label") != F.col("__old"), 1)).alias("moved"),
            ),
            eager=True,
        )
        moved.append(seen.get["moved"])
        labels = stepped.select(F.col("s").alias("id"), "label")
        if len(moved) == 1:
            # self-loops from the first round's pinned node set: `bi`
            # stays an unpinned map-side union of pinned block sets (a
            # duplicate self-loop from an (x, x) input edge only feeds
            # the same value to min() twice)
            bi = doubled.union(stepped.select("s", F.col("s").alias("t")))
        if moved[-1] == 0:
            break
    if not moved:  # max_iter < 1: no round ran, every node is alone
        labels = doubled.select(
            F.col("s").alias("id"), F.col("s").alias("label")
        ).distinct()
    converged = bool(moved) and moved[-1] == 0
    _log.info(
        "connected_components: %d round(s), converged=%s, "
        "labels moved per round: %s",
        len(moved),
        converged,
        moved,
    )
    if not converged:
        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} without "
            "converging; components with diameter > max_iter are split into "
            "multiple clusters. Raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def neardup_probe(
    new_docs: DataFrame,
    static_index: DataFrame,
    static_sizes: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Flag each row of `new_docs` against an already-built inverted
    shingle index of a static corpus: (doc_id, is_dup, dup_of, jaccard)
    with dup_of = the static doc with the highest word-n-gram Jaccard
    >= threshold (ties to the lowest id). `static_index` is the
    (sid, s) exploded-distinct-shingle frame from `word_shingles`
    (renamed), `static_sizes` the (sid, s_sz) distinct-shingle counts —
    build both ONCE and cache when probing repeatedly (the streaming
    ingestion-dedup pattern: each micro-batch probes the same static
    side, see plans/queries_ext3.stream_neardup_filter).

    Scale: one shuffle keyed on the shingle (vocabulary-bounded), the
    Jaccard verify runs on candidates only — never all-pairs.
    """
    from pyspark.sql import Window

    new = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(_shingle_array(text_col, n)).alias("sh"),
    )
    new_sh = new.select(F.col("doc_id").alias("nid"), F.explode("sh").alias("s"))
    inter = (
        new_sh.join(static_index, "s").groupBy("nid", "sid").agg(
            F.count("*").alias("i")
        )
    )
    jac = (
        inter.join(
            new.select(
                F.col("doc_id").alias("nid"),
                F.size("sh").cast("long").alias("n_sz"),
            ),
            "nid",
        )
        .join(static_sizes, "sid")
        .withColumn("j", F.col("i") / (F.col("n_sz") + F.col("s_sz") - F.col("i")))
        .filter(F.col("j") >= threshold)
    )
    w = Window.partitionBy("nid").orderBy(F.desc("j"), F.asc("sid"))
    best = (
        jac.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("nid", "sid", "j")
    )
    return (
        new.select("doc_id")
        .join(best, new.doc_id == best.nid, "left")
        .select(
            "doc_id",
            F.col("sid").isNotNull().alias("is_dup"),
            F.col("sid").alias("dup_of"),
            F.round("j", 6).alias("jaccard"),
        )
    )


def _pruned_postings(sh: DataFrame, max_df: int) -> DataFrame:
    """(shingle, ids) posting lists for shingles with document
    frequency <= max_df — document frequency computed FIRST as a count
    aggregate (constant-size buffer, map-side combinable), hot shingles
    dropped via LEFT ANTI join BEFORE any list is collected. A
    collect_list that is only filtered afterwards would still buffer
    the hottest shingle's full unbounded id list in one aggregation
    buffer — exactly the executor-OOM case the guard exists to prevent;
    after the anti-join every buffered list is <= max_df by
    construction.

    The anti join keys on the HOT set (df > max_df) rather than
    semi-joining on the kept set (df <= max_df): hot shingles are few
    BY DEFINITION (at most total_instances/max_df, in practice a
    handful of boilerplate n-grams), while the kept set is nearly the
    whole shingle vocabulary. With the tiny side as the join build,
    AQE broadcasts it at runtime and the full shingle stream reaches
    collect_list with NO join exchange — its only shuffle is the
    groupBy itself (r6 spelling: the big keep frame shuffled as the
    semi build AND the stream shuffled into the join; measured 2.80 s
    -> ~2.2 s at sf0.1). Deliberately NOT F.broadcast-hinted: in the
    adversarial corpus where the hot set outgrows the broadcast
    threshold, AQE falls back to a shuffle anti-join instead of an
    executor/driver OOM — the bounded-buffer invariant holds either
    way. Remaining fixed cost: the shingle stream is computed twice
    (count agg + anti probe; the count exchange carries only partial
    (shingle, count) rows so it is not reusable). Kept un-pinned so
    tests can assert the plan shape (collect_list strictly above the
    LeftAnti).

    NULL shingles are dropped up front: anti-join NULL semantics never
    match the hot set, so a NULL key would bypass the df guard entirely
    and buffer unbounded (unreachable from concat_ws-built shingles,
    which are non-null, but the bounded-buffer invariant must hold by
    construction for any caller — r7 ADVICE)."""
    sh = sh.filter(F.col("shingle").isNotNull())
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return (
        sh.join(hot, "shingle", "left_anti")
        .groupBy("shingle")
        .agg(F.collect_list("id").alias("ids"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, containment_ab, containment_ba, jaccard) for pairs
    whose MAX directional containment >= threshold.

    Containment C(A,B) = |S(A) ∩ S(B)| / |S(A)| is the ASYMMETRIC
    near-dup measure: a short document embedded verbatim inside a long
    one has high containment but low Jaccard, so symmetric-Jaccard
    dedup misses it (the classic quote/boilerplate/excerpt leak in
    training corpora — cf. Broder's containment vs resemblance split).
    Same inverted-shingle-index join as :func:`ngram_jaccard_pairs` —
    candidates share >= 1 shingle, never a blind cross join.

    `max_df` is the hot-shingle guard (mirror of the >4096 hot-bucket
    guard on the LSH path): a shingle occurring in d documents emits
    ~d^2/2 candidate pairs, so one boilerplate 3-gram shared by every
    document turns the plan quadratic. Shingles with document
    frequency > max_df are dropped BEFORE candidate generation — from
    the index AND from the size denominators, so containment is
    measured over the rare-shingle universe (rare shingles carry the
    containment signal; ubiquitous ones carry none). The default is
    None — EXACT semantics; dropping shingles changes numerators and
    denominators, so the cap is an explicit opt-in at scale-exposed
    call sites (the registry query passes max_df=256).

    With the guard on, candidates come from MATERIALIZED POSTING LISTS
    instead of an index self-join: document frequency is computed first
    as a COUNT aggregate (constant-size buffers), hot shingles are
    dropped with a left_semi join, and only the surviving shingles are
    collect_list'ed — so every buffered posting list is <= max_df
    elements by construction and no unbounded list ever materializes.
    The i<j pair explosion replaces the self-join's second
    shuffle-plus-probe of the full index. The pruned index is pinned
    because both the pair generator and the size denominators read it. `max_df=None` keeps the join formulation
    (unbounded posting lists must not be collected) — exact semantics
    on trusted-small corpora only."""
    sh = word_shingles(df, id_col, text_col, n)
    if max_df is not None:
        postings = _pruned_postings(sh, max_df).transform(pin)
        sh = postings.select(F.explode("ids").alias("id"), "shingle")
        # i<j combinations generated inside ONE whole-stage-codegen
        # expression over the SORTED list (so id_a < id_b holds by
        # construction): exactly d*(d-1)/2 rows leave the explode,
        # rather than d^2 rows pre-filter from a double explode
        pair_expr = (
            "flatten(transform(sids, (x, i) -> "
            "transform(slice(sids, i + 2, size(sids) - i - 1), "
            "y -> struct(x AS id_a, y AS id_b))))"
        )
        inter = (
            postings.select(F.array_sort("ids").alias("sids"))
            .select(F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    c_ab = F.col("inter") / F.col("sz_a")
    c_ba = F.col("inter") / F.col("sz_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.greatest(c_ab, c_ba) >= threshold)
        .select(
            "id_a",
            "id_b",
            c_ab.alias("containment_ab"),
            c_ba.alias("containment_ba"),
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
