"""End-to-end pretraining-corpus pipeline: stage attrition is monotonic,
each stage drops exactly the rows its operator is supposed to drop, and
survivors are untouched (no column mutation leaks)."""

from __future__ import annotations

from functools import reduce

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import pin_runs
from social_and_media_data_ingestion_spark.operators import dedup as D
from social_and_media_data_ingestion_spark.operators import text_analysis as TA
from social_and_media_data_ingestion_spark.pipelines import (
    decontaminate,
    exact_dedup,
    near_dedup,
    pretraining_corpus_pipeline,
    quality_gate,
)

SF = "/root/testdata/sf0.01"


def _docs(spark):
    from social_and_media_data_ingestion_spark.plans.tables import t

    return t(spark, SF, "documents")


def test_stage_attrition_monotonic(spark):
    docs = _docs(spark)
    eval_docs = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    # the synthetic corpus shares a ~60-word vocabulary, so bigram overlap
    # with ANY eval split is high (median ~0.79); 0.85 keeps the stage
    # meaningful (some docs drop, some survive) on this data
    stages = pretraining_corpus_pipeline(train, eval_docs, max_overlap=0.85)
    n0 = train.count()
    counts = {name: df.count() for name, df in stages.items()}
    assert (
        n0
        >= counts["quality_gate"]
        >= counts["exact_dedup"]
        >= counts["near_dedup"]
        >= counts["decontaminated"]
    )
    # every stage must keep the original schema
    for df in stages.values():
        assert df.columns == train.columns
    # the pipeline must actually do something on this data
    assert counts["decontaminated"] < n0
    assert counts["decontaminated"] > 0


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "different text")],
        ["doc_id", "text"],
    )
    got = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert got == [1, 3]


def test_near_dedup_keeps_canonical(spark):
    # 1 and 2 are near-dups (same tokens, one extra); 2 is longer -> kept
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", 30),
            (2, "alpha beta gamma delta epsilon zeta", 36),
            (3, "totally unrelated content words", 31),
        ],
        ["doc_id", "text", "n_chars"],
    )
    got = sorted(r.doc_id for r in near_dedup(df, threshold=0.7).collect())
    assert got == [2, 3]


def test_decontaminate_drops_overlapping(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "completely clean document text")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(99, "the quick brown fox jumps")], ["doc_id", "text"])
    got = sorted(r.doc_id for r in decontaminate(train, ev).collect())
    assert got == [2]


def test_quality_gate_filters(spark):
    df = spark.createDataFrame(
        [
            (1, "the of and to a in is it you that " * 5),  # en, long enough
            (2, "too short"),
        ],
        ["doc_id", "text"],
    )
    got = [r.doc_id for r in quality_gate(df).collect()]
    assert got == [1]


# --- the chain's rewritten stages against their former spellings ------------

_LANGS = [*TA.STOPWORDS, "unk", "xx"]


def _gate_reference(df, lang, min_tokens, max_tokens, max_punct_ratio=0.2):
    """quality_gate spelled out through the text_analysis operators."""
    return df.filter(
        (TA.language_id("text") == lang)
        & TA.ws_token_count("text").cast("long").between(min_tokens, max_tokens)
        & (TA.punct_ratio("text") <= max_punct_ratio)
    )


def _assert_gate_matches(spark, texts, min_tokens, max_tokens):
    df = pin_runs.frame(spark, list(enumerate(texts)), "doc_id int, text string")

    def kept(gate):
        frames = [
            gate(df, lg).select(F.lit(lg).alias("lang"), "doc_id") for lg in _LANGS
        ]
        return sorted(tuple(r) for r in reduce(DataFrame.unionAll, frames).collect())

    got = kept(lambda d, lg: quality_gate(d, lang=lg, min_tokens=min_tokens, max_tokens=max_tokens))
    want = kept(lambda d, lg: _gate_reference(d, lg, min_tokens, max_tokens))
    assert got == want
    return got


def test_quality_gate_matches_reference_on_edge_texts(spark):
    """Leading/trailing spaces, tabs and newlines, upper-case stopwords,
    cross-language ties, 9/10/1000/1001 tokens, "" and NULL, at the
    default band, for every language, "unk" and one not in STOPWORDS."""
    texts = [
        "",
        None,
        "   ",
        "\t\n",
        "the " * 9,
        "the " * 10,
        "  \tthe and of to a in is that it for\n ",
        "THE AND OF TO A IN IS THAT IT FOR",
        "der the die and das of und to ist a",  # en/de tie: en listed first
        "de la que de la que de la que de",  # es/fr share de/la/que: es first
        "le et est pour dans sur la de un que",  # fr ahead of es
        "ein mit von zu der die das the and of",  # de ahead of en
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",  # unk
        "the!! and?? of;; to,, a.. in:: is-- that it for",  # punctuation
        " ".join(["the"] * 500 + ["und"] * 500),
        " ".join(["the"] * 501 + ["und"] * 500),
        "\t".join(["el"] * 1000),
        "\n".join(["el"] * 1001),
    ]
    got = _assert_gate_matches(spark, texts, 10, 1000)
    # every kind of outcome is exercised
    assert {lang for lang, _ in got} == {"en", "de", "es", "fr", "unk"}


_SEPS = st.sampled_from([" ", "  ", "\t", "\n", " \t\n "])
_WORDS = st.sampled_from(
    sorted({w for ws in TA.STOPWORDS.values() for w in ws})
    + ["THE", "Und", "LA", "De", "alpha", "beta", "x!!", "?", "ümlaut", "İ"]
)
_TEXTS = st.one_of(
    st.none(),
    st.tuples(
        _SEPS | st.just(""),
        st.lists(st.tuples(_WORDS, _SEPS), max_size=8),
        _SEPS | st.just(""),
    ).map(lambda t: t[0] + "".join(w + s for w, s in t[1]).rstrip() + t[2]),
)


@settings(max_examples=15, deadline=None)
@given(texts=st.lists(_TEXTS, min_size=1, max_size=12))
def test_quality_gate_matches_reference_property(spark, texts):
    """A band of 2..5 tokens, so short generated texts land on both
    sides of it."""
    _assert_gate_matches(spark, texts, 2, 5)


def _decontaminate_reference(docs, eval_docs, max_overlap):
    """decontaminate as two explodes of an inline shingle spelling,
    combined through a join of total and hit counts."""

    def shingle_set(df, with_id):
        arr = (
            r"flatten(transform(array(filter(split(lower(trim(text)),"
            r" '\\s+'), x -> x != '')), tk -> "
            "CASE WHEN size(tk) >= 3 THEN "
            "transform(sequence(1, size(tk) - 2), "
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i+1), "
            "' ', element_at(tk, i+2))) "
            "ELSE CAST(array() AS ARRAY<STRING>) END))"
        )
        cols = [F.col("doc_id")] if with_id else []
        return df.select(*cols, F.explode(F.array_distinct(F.expr(arr))).alias("shingle"))

    tr = shingle_set(docs, with_id=True)
    ev = shingle_set(eval_docs, with_id=False).distinct()
    tot = tr.groupBy("doc_id").agg(F.count("*").alias("__n"))
    hit = tr.join(F.broadcast(ev), "shingle").groupBy("doc_id").agg(F.count("*").alias("__h"))
    contaminated = (
        tot.join(hit, "doc_id")
        .filter(F.col("__h") / F.col("__n") > max_overlap)
        .select("doc_id")
    )
    return docs.join(contaminated, "doc_id", "left_anti")


@pytest.mark.parametrize("max_overlap", [-1.0, 0.0, 0.5, 1.0])
def test_decontaminate_matches_reference(spark, max_overlap):
    """Duplicate doc_id rows with different texts pool their counts;
    documents with no shingle (NULL, "", under 3 tokens) are never
    dropped, even at max_overlap -1."""
    train = pin_runs.frame(
        spark,
        [
            (1, "a b c d e"),  # 3 shingles, all in eval
            (2, "a b c x y z"),  # 1 of 4 in eval
            (3, "p q r s"),  # none in eval
            (4, "a b c"),  # duplicate id 4: 1 hit of 3 shingles pooled
            (4, "m n o p"),
            (5, None),
            (6, ""),
            (7, "a b"),
            (8, "A  B\tC d E"),  # case and whitespace fold to doc 1's
        ],
        "doc_id int, text string",
    )
    ev = pin_runs.frame(
        spark,
        [(90, "a b c d e"), (91, "a b c d e"), (92, None)],
        "doc_id int, text string",
    )

    def ids(df):
        return sorted(r.doc_id for r in df.collect())

    got = ids(decontaminate(train, ev, max_overlap=max_overlap))
    assert got == ids(_decontaminate_reference(train, ev, max_overlap))
    want = {
        -1.0: [3, 5, 6, 7],
        0.0: [3, 5, 6, 7],
        0.5: [2, 3, 4, 4, 5, 6, 7],
        1.0: [1, 2, 3, 4, 4, 5, 6, 7, 8],
    }[max_overlap]
    assert got == want


def _near_dedup_reference(docs, threshold):
    """near_dedup with its former canonical pick: a groupBy of the best
    (keep, -id) per cluster, anti-joined to the members."""
    sigs = D.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=8)
    cand = D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=2)
    edges = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=threshold, candidates=cand
    )
    member = D.connected_components(edges).join(
        docs.select(F.col("doc_id").alias("id"), F.col("n_chars").alias("__keep")),
        "id",
    )
    best = F.max(F.struct(F.col("__keep"), (-F.col("id")).alias("neg_id")))
    canon = member.groupBy("cluster_id").agg((-best.getField("neg_id")).alias("canonical_id"))
    drop = member.join(canon, member.id == canon.canonical_id, "left_anti").select(
        F.col("id").alias("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti")


def test_near_dedup_canonical_pick_matches_reference(spark):
    """NULL keep values lose, ties on keep go to the lowest id, and every
    row of a duplicate-PK canonical id survives."""
    a = "alpha beta gamma delta epsilon zeta eta"
    b = "one two three four five six seven"
    c = "red green blue cyan magenta yellow black"
    d = "north south east west up down left"
    docs = pin_runs.frame(
        spark,
        [
            (1, a, None),  # NULL keep never wins
            (2, a, 50),  # tie with 3 on keep: lower id wins
            (3, a, 50),
            (4, b, None),  # all NULL: lowest id wins
            (5, b, None),
            (6, c, 40),  # duplicate-PK canonical: both rows stay
            (6, c, 10),
            (7, c, 30),
            (8, d, 50),
            (9, d, 5),  # duplicate PK whose other row wins the cluster
            (9, d, 60),
            (10, "wholly unrelated lonely words here", 3),
        ],
        "doc_id bigint, text string, n_chars int",
    )

    def rows(df):
        return sorted((r.doc_id, r.n_chars) for r in df.collect())

    got = rows(near_dedup(docs, threshold=0.75))
    assert got == rows(_near_dedup_reference(docs, 0.75))
    assert [i for i, _ in got] == [2, 4, 6, 6, 9, 9, 10]
