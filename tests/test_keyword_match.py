"""Keyword-matcher semantics: the reference's two DISTINCT match modes
(substring vs word-boundary) proven against a naive Python model
(SURVEY §5 item 3: property-based equivalence)."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.operators.keyword_match import (
    contains_any,
    contains_any_large,
    expand_hyphen_variants,
    matches_any_word,
    substring_any_pattern,
)

KWS = ["spark", "data-set", "über"]


def naive_substring(text: str, kws: list[str]) -> bool:
    low = text.lower()
    return any(k.lower() in low for k in kws)


def naive_word(text: str, kws: list[str]) -> bool:
    pats = [
        r"\b(" + "|".join(re.escape(k) for k in expand_hyphen_variants(kws)) + r")\b"
    ]
    return any(re.search(p, text, re.IGNORECASE) for p in pats)


def run_filter(spark, texts: list[str], pred) -> set[str]:
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    return {r.text for r in df.filter(pred).collect()}


CASES = [
    "SPARK is here",
    "sparkling water",       # substring hit, word-boundary miss
    "no match at all",
    "the data-set is big",
    "a data set indeed",     # hyphen-variant word match
    "dataset unbroken",      # neither (no boundary, no hyphen/space form)
    "über alles",
    "",
]


def test_substring_vs_word_boundary_semantics(spark):
    got_sub = run_filter(spark, CASES, contains_any(["text"], KWS))
    got_word = run_filter(spark, CASES, matches_any_word(["text"], KWS))
    exp_sub = {t for t in CASES if naive_substring(t, KWS)}
    exp_word = {t for t in CASES if naive_word(t, KWS)}
    assert got_sub == exp_sub
    assert got_word == exp_word
    # the two semantics genuinely differ on these cases
    assert "sparkling water" in got_sub and "sparkling water" not in got_word
    assert "a data set indeed" in got_word


def test_multi_column_any(spark):
    df = spark.createDataFrame(
        [("spark here", ""), ("", "also spark"), ("none", "none")],
        ["title", "selftext"],
    )
    got = df.filter(contains_any(["title", "selftext"], ["spark"])).count()
    assert got == 2


def test_large_keyword_set_pandas_path(spark):
    texts = ["alpha beta", "gamma delta", "epsilon zeta"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    kws = [f"kw{i}" for i in range(50)] + ["gamma"]
    got = {r.text for r in df.filter(contains_any_large(["text"], kws)).collect()}
    assert got == {"gamma delta"}


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd", "Zs"), max_codepoint=0x24F
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_property_substring_equivalence(spark, texts):
    got = run_filter(spark, list(set(texts)), contains_any(["text"], KWS))
    exp = {t for t in set(texts) if naive_substring(t, KWS)}
    assert got == exp


# --- trie-factored alternation (contains_any, 17..1999 keywords) -----------

# regex metacharacters, two letters to share prefixes, letters whose case
# mapping changes length (ß, İ), and a character outside the BMP
_TRIE_ALPHABET = list("ab\\.[]{}()*+?^$|") + ["ß", "İ", "Ä", "\U0001F600"]


@st.composite
def _trie_cases(draw):
    char = st.sampled_from(_TRIE_ALPHABET)
    kws = draw(st.lists(st.text(char, min_size=1, max_size=6), min_size=17, max_size=60))
    kws += [k[: len(k) // 2 + 1] for k in kws[:4]]  # prefixes of others
    kws += kws[4:6] + [k.upper() for k in kws[6:10]]  # duplicates, case
    if draw(st.integers(0, 4)) == 0:
        kws.append("")
    kws = draw(st.permutations(kws))
    texts = draw(st.lists(st.text(char, max_size=24), max_size=12))
    # keyword hits in another case, and near misses one character short
    for k in draw(st.lists(st.sampled_from(kws), max_size=8)):
        texts += [f"x{k.upper()}y", f"x{k[:-1]}y"]
    return kws, texts


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(_trie_cases())
def test_trie_alternation_matches_flat_and_naive(spark, case):
    kws, texts = case
    rows = [(t,) for t in dict.fromkeys(texts)] + [(None,)]
    df = spark.createDataFrame(rows, "text string").select(
        "text",
        contains_any(["text"], kws).alias("trie"),
        F.lower("text").rlike(substring_any_pattern(kws)).alias("flat"),
    )
    for r in df.collect():
        want = None if r.text is None else naive_substring(r.text, kws)
        assert r.trie == r.flat == want, (kws, r)


def _top_level_branches(pattern: str) -> int:
    depth, branches, i = 0, 1, 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "|" and depth == 0:
            branches += 1
        i += 1
    return branches


def test_contains_any_factors_the_shared_prefix(spark):
    """200 keywords sharing `kw0` compile to one top-level branch; the
    flat alternation the DuckDB oracles embed stays a plain join."""
    kws = [f"kw{i:04d}x" for i in range(200)]
    pattern = re.search(
        r"rlike\(lower\(text\), '(.+)'\)", str(contains_any(["text"], kws))
    ).group(1)
    assert pattern.startswith("kw0(?:")
    assert _top_level_branches(pattern) == 1
    assert substring_any_pattern(kws) == "|".join(kws)


def test_hyphen_variant_expansion():
    assert expand_hyphen_variants(["a-b", "c"]) == ["a-b", "a b", "c"]


# --- Aho-Corasick automaton (the >= 5k-keyword fast path) -------------------


def test_aho_corasick_fuzz_vs_naive():
    import random

    from social_and_media_data_ingestion_spark.operators.keyword_match import (
        AhoCorasick,
    )

    random.seed(11)
    alpha = "abcd "
    for _ in range(500):
        pats = [
            "".join(random.choice(alpha) for _ in range(random.randint(1, 6))).strip()
            for _ in range(random.randint(1, 15))
        ]
        pats = [p for p in pats if p]
        if not pats:
            continue
        text = "".join(random.choice(alpha) for _ in range(random.randint(0, 50)))
        assert AhoCorasick(pats).search_any(text) == any(p in text for p in pats)


def test_aho_corasick_suffix_and_overlap_edges():
    from social_and_media_data_ingestion_spark.operators.keyword_match import (
        AhoCorasick,
    )

    ac = AhoCorasick(["abcde", "cd"])
    # "cd" must be found mid-way through a partial "abcde" walk (the
    # failure-link case a naive trie scan misses)
    assert ac.search_any("xxabcdxx")
    assert ac.search_any("abcde")
    assert not ac.search_any("abce")
    ac2 = AhoCorasick(["aa", "aaa"])
    assert ac2.search_any("aa") and not ac2.search_any("a")
    # out-flag propagation down the failure chain
    ac3 = AhoCorasick(["b", "ab"])
    assert ac3.search_any("ab") and ac3.search_any("cb")


def test_auto_dispatch_agrees_across_paths(spark):
    """auto_contains_any must give identical answers through all three
    physical strategies (contains-chain, rlike alternation, Aho-Corasick
    pandas UDF) on the same data."""
    from social_and_media_data_ingestion_spark.operators.keyword_match import (
        AHOCORASICK_THRESHOLD,
        auto_contains_any,
        contains_any,
        contains_any_large,
    )

    texts = ["alpha beta", "gamma delta", "epsilon zeta", "kw17 embedded", ""]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    kws_small = ["gamma", "kw17"]
    kws_large = [f"kw{i}" for i in range(AHOCORASICK_THRESHOLD)] + ["gamma"]
    expect_small = {t for t in texts if any(k in t for k in kws_small)}
    expect_large = {t for t in texts if any(k in t for k in kws_large)}
    assert {
        r.text for r in df.filter(auto_contains_any(["text"], kws_small)).collect()
    } == expect_small
    assert {
        r.text for r in df.filter(auto_contains_any(["text"], kws_large)).collect()
    } == expect_large
    assert {
        r.text for r in df.filter(contains_any(["text"], kws_large)).collect()
    } == expect_large
    assert {
        r.text for r in df.filter(contains_any_large(["text"], kws_small)).collect()
    } == expect_small


def test_5k_query_uses_arrow_python_path(spark):
    """f2_keyword_substring_5k must dispatch to the Aho-Corasick pandas
    UDF (ArrowEvalPython in the physical plan), not a JVM regex — the
    whole point of the >=5k regime."""
    from social_and_media_data_ingestion_spark.plans.queries import registry

    df = registry()["f2_keyword_substring_5k"].spark(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_5k_phrase_build_vocab_capped_before_crossjoin(spark):
    """The 4-gram phrase builder must cap the vocabulary BEFORE the
    4-way crossJoin (round-6 verdict item 6): the candidate space is
    KW5K_VOCAB_CAP**4 by construction, independent of corpus size — an
    uncapped realistic vocabulary would make vocab**4 astronomically
    large before the final limit(5000) applies. The plan must show the
    vocab-cap top-k (limit=KW5K_VOCAB_CAP) feeding the joins plus the
    final limit=5000."""
    from social_and_media_data_ingestion_spark.plans.queries_ext import (
        KW5K_VOCAB_CAP,
        _kw5k_phrase_frame,
    )

    df = _kw5k_phrase_frame(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"limit={KW5K_VOCAB_CAP}" in plan  # cap below the crossJoins
    assert "limit=5000" in plan  # final phrase-sample cap
    assert len(df.collect()) == 5000


# --- word-boundary Aho-Corasick (matches_any_word_large) --------------------


def test_word_boundary_ac_fuzz_vs_regex_model():
    import random

    from social_and_media_data_ingestion_spark.operators.keyword_match import (
        AhoCorasick,
    )

    random.seed(23)
    alpha = "ab-_ .x"
    for _ in range(800):
        pats = [
            "".join(random.choice(alpha) for _ in range(random.randint(1, 5)))
            for _ in range(random.randint(1, 10))
        ]
        pats = [p for p in pats if p]
        if not pats:
            continue
        text = "".join(random.choice(alpha) for _ in range(random.randint(0, 40)))
        pat = r"\b(" + "|".join(re.escape(p) for p in pats) + r")\b"
        # Java \b uses the ASCII word class by default -> re.ASCII model
        want = re.search(pat, text, re.ASCII) is not None
        assert AhoCorasick(pats).search_any_word(text) == want, (pats, text)


def test_word_boundary_dispatch_agrees_with_rlike(spark):
    """auto_matches_any_word must agree between the rlike alternation
    (small sets) and the Aho-Corasick path (large sets) on data where
    the two semantics genuinely bite (substring-but-not-word cases,
    hyphen variants)."""
    from social_and_media_data_ingestion_spark.operators.keyword_match import (
        AHOCORASICK_THRESHOLD,
        auto_matches_any_word,
        matches_any_word,
        matches_any_word_large,
    )

    texts = [
        "SPARK is here",
        "sparkling water",      # substring hit, word-boundary miss
        "the data-set is big",
        "a data set indeed",    # hyphen-variant word match
        "dataset unbroken",     # neither
        "kw17 embedded",
        "xkw17y",               # no boundary
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    base = ["spark", "data-set", "kw17"]
    pad = [f"zz{i}" for i in range(AHOCORASICK_THRESHOLD)]
    expect = {
        r.text
        for r in df.filter(matches_any_word(["text"], base)).collect()
    }
    got_large = {
        r.text
        for r in df.filter(matches_any_word_large(["text"], base + pad)).collect()
    }
    got_auto = {
        r.text
        for r in df.filter(auto_matches_any_word(["text"], base + pad)).collect()
    }
    assert got_large == expect
    assert got_auto == expect
    assert "sparkling water" not in got_large
    assert "a data set indeed" in got_large
