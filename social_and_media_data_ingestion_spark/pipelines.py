"""End-to-end pretraining-corpus pipeline: the engine's operators composed
the way a production data-curation run chains them.

Stage order (each a pure DataFrame -> DataFrame transform, so the whole
chain is ONE Catalyst plan per output and stages fuse where possible):

    raw documents
      -> quality gate        (lang-ID, token-length band, punctuation)
      -> exact dedup         (rolling-fingerprint keep-first)
      -> near-dup dedup      (LSH candidates -> Jaccard verify ->
                              connected components -> canonical selection)
      -> decontamination     (drop docs sharing word-3-gram shingles with the
                              eval split beyond a threshold)
      -> packed contexts / temperature weights (downstream feeders)

Scale posture: every stage is covered by the per-operator scale notes in
the registry (SCALE.md §3); nothing here introduces a new shuffle class.
The intermediate `survivors` frames are returned so callers can persist
between stages on a real cluster (recomputation would otherwise repeat
the LSH work when both outputs are materialized).

Reference parity: this is the batch generalization of the reference's
filter-project-dedup chains (parser_media_articles.py:80-120) with the
LLM-curation stages a 100 TB corpus additionally needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators import dedup as D
from social_and_media_data_ingestion_spark.operators import text_analysis as TA


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 10,
    max_tokens: int = 1000,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """Keep documents that pass lang-ID, token-length, and punctuation
    gates. Pure map — filters fuse into the scan.

    Keeps exactly the rows of `TA.language_id(text) == lang AND
    TA.ws_token_count(text) BETWEEN min_tokens AND max_tokens AND
    TA.punct_ratio(text) <= max_punct_ratio`, but tokenizes each
    document once: one token array is let-bound as a lambda variable,
    and both the length band and the language test read it (the
    spelled-out `language_id` re-splits the text per language and
    references each hit count several times). `lang` wins the stopword
    argmax when its hits are > 0, strictly above those of every
    language listed before it in `TA.STOPWORDS` (the argmax breaks ties
    by list order) and at least those of every language after it;
    `"unk"` (language_id's default) wins when no token is a stopword."""
    return docs.filter(
        F.expr(_gate_sql(text_col, lang, min_tokens, max_tokens))
        & (TA.punct_ratio(text_col) <= max_punct_ratio)
    )


def _gate_sql(text_col: str, lang: str, min_tokens: int, max_tokens: int) -> str:
    """SQL of quality_gate's length band AND language test over one
    let-bound token array `tk`."""

    def words(langs) -> str:
        return ", ".join(f"'{w}'" for lg in langs for w in TA.STOPWORDS[lg])

    def hits(lg: str) -> str:
        return f"size(filter(tk, w -> w IN ({words([lg])})))"

    langs = list(TA.STOPWORDS)
    if lang in langs:
        i = langs.index(lang)
        conds = ["h > 0"]
        conds += [f"{hits(lg)} < h" for lg in langs[:i]]
        conds += [f"{hits(lg)} <= h" for lg in langs[i + 1:]]
        # `lang`'s hit count let-bound as `h`, read by every comparison
        wins = f"transform(array({hits(lang)}), h -> {' AND '.join(conds)})[0]"
    elif lang == "unk":
        wins = f"NOT exists(tk, w -> w IN ({words(langs)}))"
    else:
        wins = "false"
    return (
        f"transform(array({D._sql_tokens(text_col)}), tk -> "
        f"size(tk) BETWEEN {min_tokens} AND {max_tokens} AND {wins})[0]"
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep-first exact dedup on the rolling content fingerprint (one
    shuffle keyed on the fingerprint)."""
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        docs.withColumn("__fp", TA.rolling_fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def near_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_col: str = "n_chars",
    threshold: float = 0.75,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup removal: LSH candidates -> exact Jaccard verify ->
    connected components -> keep the canonical member per cluster
    (max keep_col, NULL lowest, id tie-break). Docs in no cluster
    survive as-is. The canonical pick is one window over the cluster
    members, `first(id) OVER (PARTITION BY cluster_id ORDER BY keep DESC
    NULLS LAST, id)`; every member whose id differs is dropped.

    shingle_n=3 (word 3-grams) is load-bearing at scale: unigram
    shingles give unrelated docs high background Jaccard, so minhash
    bands collide constantly and the LSH candidate set degenerates
    toward all-pairs (measured 6.8M candidate pairs from 4.3k docs on
    the synthetic corpus — 73% of n^2/2). 3-gram shingles make the
    background overlap ~0 while true near-dups keep most shingles, so
    candidates stay proportional to the real duplicate count."""
    sigs = D.minhash_signatures(docs, id_col, text_col, n=shingle_n, num_hashes=8)
    cand = D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=2)
    edges = D.ngram_jaccard_pairs(
        docs, id_col, text_col, n=shingle_n, threshold=threshold, candidates=cand
    )
    clusters = D.connected_components(edges)
    # the canonical id is the first member by (keep desc, id); comparing
    # ids, not row numbers, keeps every row of a duplicate-PK canonical
    first = F.first("id").over(
        Window.partitionBy("cluster_id").orderBy(
            F.col("__keep").desc_nulls_last(), "id"
        )
    )
    drop = (
        clusters.join(
            docs.select(F.col(id_col).alias("id"), F.col(keep_col).alias("__keep")),
            "id",
        )
        .withColumn("__canon", first)
        .filter(F.col("id") != F.col("__canon"))
        .select(F.col("id").alias(id_col))
    )
    return docs.join(drop, id_col, "left_anti")


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_overlap: float = 0.1,
) -> DataFrame:
    """Drop training docs whose distinct word-3-gram overlap with the
    eval set exceeds max_overlap. Eval shingles broadcast; probe is
    map-side. 3-grams (matching the standalone corpus_decontaminate
    operator) rather than bigrams: with a small vocabulary a large
    enough eval split covers the entire bigram space, flagging EVERY
    training doc as contaminated — longer shingles keep the overlap
    signal tied to actual shared passages (the reason production
    decontamination sweeps use 8-13-gram windows).

    One aggregation: each training row's distinct shingles are exploded
    once and left-joined to the broadcast distinct eval shingles, which
    carry a marker column; `groupBy(id)` then counts all shingles (n)
    and the marked ones (h) together, and a doc is contaminated when
    h > 0 and h / n > max_overlap. Rows sharing an id pool their counts.
    A doc with no shingle (fewer than 3 tokens) is never dropped."""

    def shingles(df: DataFrame, *cols) -> DataFrame:
        return df.select(
            *cols,
            F.explode(F.array_distinct(D._shingle_array(text_col, 3))).alias("shingle"),
        )

    ev = shingles(eval_docs).distinct().withColumn("__hit", F.lit(1))
    contaminated = (
        shingles(docs, id_col)
        .join(F.broadcast(ev), "shingle", "left")
        .groupBy(id_col)
        .agg(F.count("*").alias("__n"), F.count("__hit").alias("__h"))
        .filter((F.col("__h") > 0) & (F.col("__h") / F.col("__n") > max_overlap))
        .select(id_col)
    )
    return docs.join(contaminated, id_col, "left_anti")


def pretraining_corpus_pipeline(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_overlap: float = 0.1,
    persist: bool = False,
) -> dict[str, DataFrame]:
    """Full curation chain; returns every stage so callers can persist
    between the expensive ones and audit per-stage attrition.

    persist=True caches the exact-dedup and near-dedup survivor frames:
    the downstream stages each re-derive signatures/shingles from their
    input, so without caching the gate+dedup lineage re-executes once per
    later stage (measured ~2x end-to-end on the composite oracle query).
    On a cluster this is the stage boundary you would checkpoint."""
    gated = quality_gate(docs, text_col)
    exact = exact_dedup(gated, id_col, text_col)
    if persist:
        exact = exact.persist()
    near = near_dedup(exact, id_col, text_col)
    if persist:
        near = near.persist()
    clean = decontaminate(near, eval_docs, id_col, text_col, max_overlap=max_overlap)
    return {
        "quality_gate": gated,
        "exact_dedup": exact,
        "near_dedup": near,
        "decontaminated": clean,
    }
