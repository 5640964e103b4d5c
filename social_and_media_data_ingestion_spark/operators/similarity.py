"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force exact top-k — the correctness baseline.
  Dot products run entirely JVM-side via zip_with/aggregate in double
  precision (no Python boundary). The query side is broadcast; cost is
  O(|queries| * |corpus|) dot products, embarrassingly parallel over
  corpus partitions, top-k via per-query window.
- `lsh_bucketed_topk`: the scale path — random-hyperplane LSH buckets
  (sign of dot(v, r_i) for deterministic pseudo-random planes), candidates
  only from matching buckets, then exact re-rank. At 100 TB this turns a
  full scan per query into a bucket lookup; recall < 1.0, tunable by
  planes/tables.
- `ivf_topk`: IVF-style — assign corpus vectors to the nearest of k
  centroid seeds (deterministic: first k distinct vec_ids as seeds),
  probe the closest `nprobe` centroids per query.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _round_half_up(x: float, dp: int) -> float:
    """floor(x*10^dp + 0.5)/10^dp — the repo's cross-engine rounding
    convention (Python round() is banker's/half-even; DuckDB round() is
    half-away-from-zero; this floor form is identical on both engines
    when spelled the same way in the oracle SQL)."""
    m = 10.0 ** dp
    return math.floor(x * m + 0.5) / m


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(col: str):
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    return df.withColumn(out, _dot(a, b) / (_norm(a) * _norm(b)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Excludes self-matches.
    Output: (query_id, neighbor_id, cosine, rank).

    Norms are computed ONCE PER ROW in the projections below the join,
    not per pair: ||v|| is pair-invariant, and computing it inside the
    |corpus| x |queries| select pays 2 extra O(dim) passes per pair.
    Float-identical to the per-pair spelling (same operand sequence
    over the same array), so the oracle hash is unchanged — only the
    per-pair work drops from 3 to 1 array traversals (the dot)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(vec_col).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(vec_col).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by SQUARED Euclidean distance (ascending) — the
    brute-force baseline the PQ recall audit compares against.
    Output: (query_id, neighbor_id, dist_sq, rank)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    d2 = F.aggregate(
        F.zip_with(
            "q_vec",
            "c_vec",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("dist_sq"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist_sq"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- Product quantization (PQ) ------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m_subvectors: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """books[m][k] = k-th codeword (list of floats) of subspace m.

    Codewords are the m-th subvectors of the first n_codes vectors by id —
    deterministic, so the whole PQ pipeline has a SQL oracle. This is the
    INDEX-BUILD step: the returned structure is M*K*(d/M) floats (= one
    full vector per code, ~4 KB here), collected driver-side exactly like
    a broadcast dim — bounded and corpus-size-independent."""
    rows = (
        corpus.orderBy(id_col).limit(n_codes).select(F.col(vec_col).alias("v")).collect()
    )
    if not rows:  # empty corpus -> empty codebook (r7 empty-tables probe)
        return []
    d = len(rows[0].v)
    if d % m_subvectors:
        raise ValueError(f"dim {d} not divisible by m_subvectors={m_subvectors}")
    sub = d // m_subvectors
    return [
        [[float(r.v[m * sub + i]) for i in range(sub)] for r in rows]
        for m in range(m_subvectors)
    ]


# --- SQL-string expression compiler for literal-embedded plans ---------------
#
# Every index structure here (centroids, PQ codebooks, power-iteration
# vectors) is bounded driver state embedded as PLAN LITERALS. Building
# those plans through the Column DSL costs a Py4J round-trip per literal
# element and several per lambda — ~0.9 s of driver-side build time for
# 8 centroids x 64 dims, dwarfing the 0.14 s execution at test SF (and
# pure overhead per query on a cluster driver too). So the literal-heavy
# expressions are compiled to ONE SQL string and parsed in ONE F.expr
# call. The generated SQL mirrors the DSL spelling operation-for-
# operation (same casts, same operand order), so results stay
# bit-identical — pinned by the DuckDB oracle hash checks.

_D0 = "CAST(0.0 AS DOUBLE)"


def _sql_double(v: float) -> str:
    """Exact double literal for an F.expr string: repr() round-trips
    IEEE-754 doubles through shortest decimal, and CAST(string AS
    DOUBLE) parses it back to the identical bit pattern."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _sql_arr(vals) -> str:
    return "array(" + ",".join(_sql_double(float(v)) for v in vals) + ")"


def _qident(col: str) -> str:
    """Backtick-quote a column NAME for interpolation into a SQL-string
    expression (internal backticks escape by doubling) — so vector
    columns named with spaces/hyphens/reserved words parse the same way
    F.col() would. Applied at the boundaries where a caller-supplied
    column NAME (never an expression) enters the compilers."""
    return "`" + col.replace("`", "``") + "`"


def _sql_dot(a: str, b: str) -> str:
    """SQL twin of _dot: both operands cast to DOUBLE inside zip_with."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), {_D0}, (acc, v) -> acc + v)"
    )


def _sql_norm(a: str) -> str:
    """SQL twin of _norm."""
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), {_D0}, (acc, v) -> acc + v))"
    )


def _lit_arr(vals: list[float]):
    """Literal double array as ONE parsed expression (one Py4J round
    trip instead of one per element)."""
    return F.expr(_sql_arr(vals))


def _sql_sub_l2(vec_slice_sql: str, codeword: list[float]) -> str:
    """Row-local squared L2 between a vector-slice expression and a
    literal codeword; (a-b)*(a-b) (not pow) for bit-exact oracle parity.
    Mirrors the DSL spelling: only the vector side is cast (the literal
    is already DOUBLE)."""
    return (
        f"aggregate(zip_with({vec_slice_sql}, {_sql_arr(codeword)}, "
        f"(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        f"{_D0}, (acc, v) -> acc + v)"
    )


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes: array<int>) — PQ codes, one per subspace: the argmin-L2
    codeword (code-id tie-break). MAP-ONLY: the codebook is embedded as
    plan literals (compiled to one parsed expression per subspace), so
    encoding is pure row-local expression work — the shape that makes PQ
    viable over a 100 TB corpus (M bytes/vector out, no shuffle, no
    Python)."""
    if not books:  # empty codebook <=> empty corpus: typed empty codes
        return corpus.select(
            F.col(id_col).alias("id"),
            F.expr("CAST(array() AS ARRAY<INT>)").alias("codes"),
        )
    m_subvectors, n_codes = len(books), len(books[0])
    sub = len(books[0][0])
    codes = []
    for m in range(m_subvectors):
        sl = f"slice({_qident(vec_col)}, {m * sub + 1}, {sub})"
        entries = ",".join(
            f"named_struct('d', {_sql_sub_l2(sl, books[m][k])}, 'cid', {k})"
            for k in range(n_codes)
        )
        best = F.expr(f"array_min(array({entries}))")
        codes.append(best.getField("cid"))
    return corpus.select(
        F.col(id_col).alias("id"), F.array(*codes).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_subvectors: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance (ADC): the query stays
    exact, each corpus vector is its M codewords, and
    dist(q, x) ~= sum_m ||q_m - book[m][codes_m(x)]||^2.

    Plan shape: encode is map-only (literal codebooks); scoring joins the
    compact code table against broadcast queries and looks distances up
    via element_at into literal nested arrays — again map-only; the only
    exchange is the per-query top-k window. Output:
    (query_id, neighbor_id, approx_dist, rank)."""
    books = pq_codebooks(corpus, m_subvectors, n_codes, id_col, vec_col)
    if not books:  # empty corpus -> no neighbors, schema preserved
        return (
            corpus.select(
                F.col(id_col).alias("query_id"),
                F.col(id_col).alias("neighbor_id"),
                F.lit(0.0).alias("approx_dist"),
                F.lit(1).alias("rank"),
            ).where(F.lit(False))
        )
    sub = len(books[0][0])
    enc = pq_encode(corpus, books, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "codes"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    dist_terms = []
    for m in range(m_subvectors):
        book_sql = (
            "array("
            + ",".join(_sql_arr(w) for w in books[m])
            + ")"
        )
        codeword = f"element_at({book_sql}, codes[{m}] + 1)"
        q_slice = f"slice(q_vec, {m * sub + 1}, {sub})"
        dist_terms.append(
            f"aggregate(zip_with({q_slice}, {codeword}, "
            f"(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            f"{_D0}, (acc, v) -> acc + v)"
        )
    approx = F.expr(" + ".join(dist_terms))
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", approx.alias("approx_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- LSH (random hyperplane) --------------------------------------------------

_PLANE_SEEDS = [(48271, 16807), (69621, 104729), (40692, 65537), (16807, 282475249)]
_P = 2147483647


def _plane_component(seed_a: int, seed_b: int, dim_idx):
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    universal hash of the dimension index scaled. No RNG state — pure
    function of (seed, index), so executors agree without broadcast."""
    h = (F.lit(seed_a) * (dim_idx + 1) + F.lit(seed_b)) % F.lit(_P)
    return (h.cast("double") / F.lit(float(_P))) * 2.0 - 1.0


def _bucket_expr(vec_col: str, planes: int):
    """Bit i = sign(dot(vec, plane_i)) packed into an int bucket id."""
    bits = []
    for i, (a, b) in enumerate(_PLANE_SEEDS[:planes]):
        dot_i = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.sequence(F.lit(0), F.size(vec_col) - 1),
                lambda x, idx: x.cast("double") * _plane_component(a, b, idx),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot_i > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0])


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane-sign
    bucket; exact cosine re-rank inside the bucket. Equi-join on bucket id
    replaces the cross join — this is the 100 TB plan shape."""
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _bucket_expr(vec_col, planes).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _bucket_expr(vec_col, planes).alias("bucket"),
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot("q_vec", "c_vec") / (_norm("q_vec") * _norm("c_vec"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _lit_vec(vals) -> "F.Column":
    return _lit_arr([float(v) for v in vals])


def _centroid_sim_structs(vec_col: str, cents: list[tuple[int, list[float]]]):
    """array<struct<cs, neg_cid>> of cosine(vec, centroid) for every
    centroid, embedded as PLAN LITERALS (the pq_encode pattern): the
    k centroids are bounded driver state (~k*dim floats, like a PQ
    codebook), so nearest-centroid assignment becomes a pure map-side
    expression — no corpus x k crossJoin row expansion, no shuffle, no
    per-vector window. neg_cid makes struct-max/sort tie-break toward the
    SMALLEST centroid id at equal similarity, matching the window
    (desc cs, asc centroid_id) spelling this replaces. Compiled as ONE
    SQL expression (see the compiler note above): k*dim literals through
    the Column DSL cost ~0.9 s of driver build time per query.

    An EMPTY centroid list (empty corpus / no seeds) compiles to a
    typed empty array — array() alone is VOID-typed and every
    downstream array_max(...).getField would fail analysis (r7
    empty-tables probe); with the struct type pinned, array_max yields
    a typed NULL and sort/slice/explode yield no rows."""
    if not cents:
        return F.expr(
            "CAST(array() AS ARRAY<STRUCT<cs: DOUBLE, neg_cid: INT>>)"
        )
    entries = []
    vq = _qident(vec_col)
    for cid, cv in cents:
        arr = _sql_arr(cv)
        # try_divide: a vector whose squared components all underflow
        # has norm 0; its cosine is NULL, not an ANSI divide-by-zero
        cs = f"try_divide({_sql_dot(vq, arr)}, {_sql_norm(vq)} * {_sql_norm(arr)})"
        entries.append(f"named_struct('cs', {cs}, 'neg_cid', {-int(cid)})")
    return F.expr("array(" + ",".join(entries) + ")")


def _nearest_centroid_expr(vec_col: str, cents: list[tuple[int, list[float]]]):
    """centroid_id of the max-cosine centroid (id tie-break) — map-only."""
    best = F.array_max(_centroid_sim_structs(vec_col, cents))
    return -best.getField("neg_cid")


def lloyd_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> list[tuple[int, list[float]]]:
    """[(centroid_id, cent_vec)] after `iters` Lloyd rounds from a
    deterministic seed (first n_centroids vectors by id).

    Each round: assign every vector to its max-cosine centroid
    (centroid-id tie-break), then recompute each centroid as the
    element-wise MEAN of its members. Components are rounded to round_dp
    decimals so the refined centroids are cross-engine reproducible
    (float summation order differs between engines; 1e-6 rounding
    absorbs it). Clusters that lose all members drop out — their id
    simply stops appearing (spherical k-means convention). So do
    zero-norm seeds and centroids whose mean rounds to all zeros (a
    cluster of denormal vectors): cosine to them is undefined.

    Scale: per round, assignment is MAP-ONLY (the k current centroids are
    bounded driver state embedded as plan literals — no corpus x k
    expansion, no argmax shuffle), and the update is one (centroid, dim)
    partial-aggregated shuffle of k*dim cells. Driver state per round is
    k rows (a bounded collect, same class as pq_codebooks)."""
    seed_rows = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("cent_vec"),
        )
        .collect()
    )
    cents = [
        (int(r.centroid_id), list(r.cent_vec))
        for r in seed_rows
        if _has_norm(r.cent_vec)
    ]
    vecs = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    for _ in range(iters):
        if not cents:  # empty corpus (r7 empty-tables probe) or all zero
            break
        assigned = vecs.select(
            _nearest_centroid_expr("v", cents).alias("centroid_id"), "v"
        )
        cent_df = (
            assigned.select("centroid_id", F.posexplode("v").alias("j", "x"))
            .groupBy("centroid_id", "j")
            .agg(F.round(F.avg(F.col("x").cast("double")), round_dp).alias("mx"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("j", "mx"))).alias("sm"))
            .select(
                "centroid_id",
                F.transform("sm", lambda s: s.getField("mx")).alias("cent_vec"),
            )
        )
        cents = sorted(
            (int(r.centroid_id), list(r.cent_vec))
            for r in cent_df.collect()
            if _has_norm(r.cent_vec)
        )
    return cents


def _has_norm(vec: list[float]) -> bool:
    """True unless every squared component is 0 in double arithmetic,
    which is when the engines' sqrt(sum(x * x)) norm is 0."""
    return any(x * x for x in vec)


def lloyd_centroids_df(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """DataFrame view of lloyd_centroids (centroid_id, cent_vec) for
    registry queries that report the centroids themselves."""
    cents = lloyd_centroids(corpus, n_centroids, iters, id_col, vec_col, round_dp)
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(cid, cv) for cid, cv in cents], "centroid_id bigint, cent_vec array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: partition the corpus by nearest centroid (seeded with
    the first `n_centroids` vectors by id — deterministic), probe the
    `nprobe` nearest centroids per query, exact re-rank within probed cells.
    lloyd_iters > 0 refines the seeds with that many k-means rounds
    (lloyd_centroids) — better-centered cells raise recall at the same
    nprobe for the cost of `iters` extra passes at index-build time."""
    if lloyd_iters > 0:
        cents = lloyd_centroids(corpus, n_centroids, lloyd_iters, id_col, vec_col)
    else:
        seed_rows = (
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
            .collect()
        )
        cents = [(int(r.cid), [float(x) for x in r.cv]) for r in seed_rows]
    # Corpus-side assignment is MAP-ONLY: centroids are bounded driver
    # state (like pq_codebooks) embedded as literals — no corpus x k
    # crossJoin expansion, no per-vector window shuffle between the scan
    # and the cell assignment.
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    assigned = c.select(
        "neighbor_id", "c_vec", _nearest_centroid_expr("c_vec", cents).alias("centroid_id")
    )
    # Query-side probe of the nprobe nearest cells: also in-row (sort the
    # k-entry sim array, take nprobe, explode) — queries x nprobe rows out.
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probe_arr = F.slice(
        F.sort_array(_centroid_sim_structs("q_vec", cents), asc=False),
        1,
        nprobe,
    )
    probed = q.select(
        "query_id", "q_vec", F.explode(probe_arr).alias("p")
    ).select("query_id", "q_vec", (-F.col("p.neg_cid")).alias("centroid_id"))
    scored = (
        assigned.join(F.broadcast(probed), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot("q_vec", "c_vec") / (_norm("q_vec") * _norm("c_vec"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- Power-iteration PCA (top principal direction) ---------------------------


def power_iteration_top_component(
    corpus: DataFrame,
    iters: int = 3,
    vec_col: str = "embedding",
    round_dp: int = 8,
) -> tuple[list[float], float]:
    """(v, rayleigh) — the dominant eigenvector of the (uncentered) Gram
    matrix X^T X by matrix-free power iteration, plus its Rayleigh
    quotient (v^T X^T X v = sum of squared projections).

    Per round: s = x·v is an in-row expression (v is a plan literal,
    like the PQ codebook), and the d accumulator sums are ONE
    partial-combinable scalar aggregate — no posexplode, no shuffle of
    corpus rows, driver state is d floats. Cross-engine determinism:
    the raw accumulator sums are rounded to `round_dp` decimals BEFORE
    normalizing (absorbing engine-dependent float summation order), and
    the normalized vector is rounded again — both with the
    floor(x*10^dp + 0.5) convention mirrored in the oracle SQL (Python
    round() is half-even and would diverge on exact halves).

    Empty corpus -> ([], 0.0): no dominant direction exists (r7
    empty-tables probe; callers emit zero rows for an empty vector).
    """
    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        return [], 0.0
    d = len(head[0])
    v = [_round_half_up(1.0 / d ** 0.5, round_dp)] * d
    ray = 0.0
    for _ in range(iters):
        vlit = _lit_vec(v)
        s = F.aggregate(
            F.zip_with(F.col(vec_col), vlit, lambda x, b: x.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sums_row = corpus.select(
            *[
                F.sum(F.element_at(vec_col, j + 1).cast("double") * s).alias(f"a{j}")
                for j in range(d)
            ],
            F.sum(s * s).alias("ray"),
        ).first()
        acc = [_round_half_up(float(sums_row[f"a{j}"]), round_dp) for j in range(d)]
        ray = _round_half_up(float(sums_row["ray"]), round_dp)
        norm = sum(a * a for a in acc) ** 0.5
        v = [_round_half_up(a / norm, round_dp) for a in acc]
    return v, ray
