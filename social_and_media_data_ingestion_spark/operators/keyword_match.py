"""Keyword-matching operators — the reference's two DISTINCT semantics.

1. `contains_any(cols, keywords)` — substring any-match, case-insensitive,
   NO word boundary (ref reddit_subm_extraction.py:57-59: `kw in text`).
2. `matches_any_word(cols, keywords)` — word-boundary regex, case-
   insensitive, with hyphen->space variant expansion
   (ref parser_media_articles.py:73-76: `\\b(kw1|kw2)\\b` IGNORECASE).
3. `extract_matched_terms(col, keywords)` — per-row array of matched
   keywords (ref parser_media_articles.py:87: `str.findall` -> list).

Physical strategy: up to CONTAINS_CHAIN_THRESHOLD keywords, an OR chain
of `lower(col) CONTAINS kw`. Above it, ONE compiled regex evaluated
inside WholeStageCodegen (one pattern per task, JVM-side), factored as a
character trie of the keywords (`substring_trie_pattern`). A flat
`kw0|kw1|...` alternation makes java.util.regex try every keyword at
every text position; the trie tries one branch per distinct next
character, and matches exactly the same texts. `substring_any_pattern`
keeps the flat spelling, which the DuckDB oracles embed as an
independent check; `matches_any_word` and `extract_matched_terms` stay
on flat alternations (the latter's output depends on alternation
order). For very large keyword sets (>= AHOCORASICK_THRESHOLD) we switch
to an Arrow-batched pandas UDF running a real Aho-Corasick automaton
(stdlib-only: dict-goto trie + BFS failure links, O(text) per row
INDEPENDENT of keyword count). The automaton is built lazily ONCE per
Python worker from the pickled keyword tuple and memoized — batches pay
a dict lookup, not a rebuild.

All builders take the keyword list driver-side: keyword dims are small
(thousands), so they are plan-time literals — the same decision the
reference makes by compiling one regex up front. The broadcast-join
spelling (for keyword dims too large to inline) is
`operators.joins.semi_join_any_contains`.
"""

from __future__ import annotations

import itertools
import os
import re
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Keyword count from which the Aho-Corasick UDF replaces the trie rlike.
# Over the 12,000 parsed perfbench ingest_reddit lines (title + selftext,
# 4 cores, best of 3), 2,000 / 5,000 random 4-10-letter keywords took
# 0.66 / 0.57 s as trie rlike and 0.87 / 0.78 s as the UDF: the same
# order, so the crossover is not sharp. Past it the UDF is kept for its
# bound: one dict step per character whatever the keywords, where the
# regex probes every branch of a node in turn and walks as deep as the
# text follows a shared prefix.
AHOCORASICK_THRESHOLD = 2000
CONTAINS_CHAIN_THRESHOLD = 16  # below this, OR-chained UTF8String.contains
# beats a regex alternation: no NFA, pure memcmp-style scans inside
# WholeStageCodegen, and Catalyst can short-circuit the disjunction.


def _java_escape(kw: str) -> str:
    """Escape for the JVM regex dialect used by rlike/regexp_*."""
    return re.sub(r"([\\.\[\]{}()*+?^$|])", r"\\\1", kw)


def expand_hyphen_variants(keywords: Sequence[str]) -> list[str]:
    """'climate-change' also matches 'climate change'
    (ref parser_media_articles.py:75). Order-preserving, deduped."""
    out: list[str] = []
    seen: set[str] = set()
    for kw in keywords:
        for v in (kw, kw.replace("-", " ")) if "-" in kw else (kw,):
            if v not in seen:
                seen.add(v)
                out.append(v)
    return out


def substring_any_pattern(keywords: Sequence[str]) -> str:
    """Unanchored alternation: substring semantics."""
    return "|".join(_java_escape(k.lower()) for k in keywords)


def _factor(words: list[str]) -> list[str]:
    """Top-level alternatives of a sorted, prefix-free word list,
    factored on their shared prefixes."""
    if len(words) == 1:
        return [_java_escape(words[0])]
    # sorted -> the group's common prefix is that of its first and last
    n = len(os.path.commonprefix([words[0], words[-1]]))
    if n:
        # the suffixes start with >= 2 distinct characters: a branch point
        rest = "|".join(_factor([w[n:] for w in words]))
        return [f"{_java_escape(words[0][:n])}(?:{rest})"]
    return [
        alt
        for _, branch in itertools.groupby(words, key=lambda w: w[0])
        for alt in _factor(list(branch))
    ]


def substring_trie_pattern(keywords: Sequence[str]) -> str:
    """`substring_any_pattern` spelled as a character trie of the sorted,
    deduplicated, lowercased keywords: an unanchored search finds a
    match in exactly the same texts. A run of single-child nodes is one
    literal and only a branch point opens a group. A keyword that has a
    shorter keyword as a prefix is dropped: the shorter one already
    matches wherever it would. A regex engine then probes one branch per
    distinct next character instead of one per keyword at every text
    position."""
    words: list[str] = []
    for w in sorted(set(k.lower() for k in keywords)):
        if not (words and w.startswith(words[-1])):
            words.append(w)
    return "|".join(_factor(words))


def word_boundary_pattern(keywords: Sequence[str]) -> str:
    """(?i)\\b(...)\\b alternation: word-bounded, case-insensitive."""
    alts = "|".join(_java_escape(k) for k in expand_hyphen_variants(keywords))
    return rf"(?i)\b({alts})\b"


def contains_any(cols: Sequence[Column | str], keywords: Sequence[str]) -> Column:
    """True iff ANY keyword is a substring of ANY of `cols` (lowercased).
    Exact parity with the reference's short-circuit `any(kw in text)`."""
    if not keywords:
        return F.lit(False)
    pred = F.lit(False)
    if len(keywords) <= CONTAINS_CHAIN_THRESHOLD:
        # Literal-substring fast path: `lower(col) CONTAINS kw` per keyword.
        for c in cols:
            col = F.col(c) if isinstance(c, str) else c
            low = F.lower(col)
            for k in keywords:
                pred = pred | low.contains(k.lower())
        return pred
    pat = substring_trie_pattern(keywords)
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        pred = pred | F.lower(col).rlike(pat)
    return pred


def matches_any_word(cols: Sequence[Column | str], keywords: Sequence[str]) -> Column:
    """True iff ANY keyword matches word-bounded (case-insensitive, hyphen
    variants included) in ANY of `cols`."""
    if not keywords:
        return F.lit(False)
    pat = word_boundary_pattern(keywords)
    pred = F.lit(False)
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        pred = pred | col.rlike(pat)
    return pred


def extract_matched_terms(col: Column | str, keywords: Sequence[str]) -> Column:
    """Array of keyword occurrences in match order
    (ref parser_media_articles.py:87 `findall`)."""
    c = F.col(col) if isinstance(col, str) else col
    pat = word_boundary_pattern(keywords)
    return F.regexp_extract_all(c, F.lit(pat), 1)


def filter_keyword_substring(
    df: DataFrame, cols: Sequence[str], keywords: Sequence[str]
) -> DataFrame:
    return df.filter(contains_any(cols, keywords))


def filter_keyword_word(
    df: DataFrame, cols: Sequence[str], keywords: Sequence[str]
) -> DataFrame:
    return df.filter(matches_any_word(cols, keywords))


# --- Large-keyword-set fast path (Aho-Corasick pandas UDF) ------------------


class AhoCorasick:
    """Classic Aho-Corasick multi-pattern automaton (stdlib only).

    Build: trie of all patterns (dict goto per state) + BFS failure
    links, with terminal flags OR-ed down the failure chain. Search:
    one transition per input character — O(len(text)) per row no matter
    how many patterns (the property the >= 5k-keyword regime needs; a
    regex alternation is O(len(text) * n_patterns) there).

    `search_any` tracks "does ANY pattern occur", matching the
    reference's short-circuit `any(kw in text)` semantics
    (reddit_subm_extraction.py:57-59). `search_any_word` additionally
    requires word boundaries around the match — the JVM-regex
    `\\b(...)\\b` semantics of matches_any_word — by checking the
    characters flanking each match span (pattern lengths are kept per
    terminal state, OR-merged down the failure chain, so span starts
    are recoverable without re-scanning).
    """

    __slots__ = ("goto", "fail", "out", "out_lens")

    def __init__(self, patterns: Sequence[str]):
        goto: list[dict[str, int]] = [{}]
        out: list[bool] = [False]
        out_lens: list[tuple[int, ...]] = [()]
        for p in patterns:
            if not p:
                continue
            s = 0
            for ch in p:
                nxt = goto[s].get(ch)
                if nxt is None:
                    nxt = len(goto)
                    goto[s][ch] = nxt
                    goto.append({})
                    out.append(False)
                    out_lens.append(())
                s = nxt
            out[s] = True
            if len(p) not in out_lens[s]:
                out_lens[s] = out_lens[s] + (len(p),)
        fail = [0] * len(goto)
        queue = list(goto[0].values())  # depth-1 states: fail -> root
        i = 0
        while i < len(queue):
            r = queue[i]
            i += 1
            for ch, s in goto[r].items():
                queue.append(s)
                f = fail[r]
                while f and ch not in goto[f]:
                    f = fail[f]
                nxt = goto[f].get(ch, 0)
                fail[s] = nxt if nxt != s else 0
                out[s] = out[s] or out[fail[s]]
                merged = [l for l in out_lens[fail[s]] if l not in out_lens[s]]
                if merged:
                    out_lens[s] = out_lens[s] + tuple(merged)
        self.goto, self.fail, self.out, self.out_lens = goto, fail, out, out_lens

    def search_any(self, text: str) -> bool:
        goto, fail, out = self.goto, self.fail, self.out
        s = 0
        for ch in text:
            g = goto[s]
            while s and ch not in g:
                s = fail[s]
                g = goto[s]
            s = g.get(ch, 0)
            if out[s]:
                return True
        return False

    @staticmethod
    def _is_word(ch: str) -> bool:
        # JVM-regex default \b word class: ASCII [a-zA-Z0-9_] only
        # (matches the rlike spelling this path must agree with)
        return ch.isascii() and (ch.isalnum() or ch == "_")

    def search_any_word(self, text: str) -> bool:
        goto, fail, out_lens = self.goto, self.fail, self.out_lens
        word = self._is_word
        n = len(text)
        s = 0
        for i, ch in enumerate(text):
            g = goto[s]
            while s and ch not in g:
                s = fail[s]
                g = goto[s]
            s = g.get(ch, 0)
            for length in out_lens[s]:
                # \b at a position = word-ness differs across it (text
                # edges count as non-word) — the general form, correct
                # even for patterns whose edge chars are non-word
                start = i + 1 - length
                start_ok = word(text[start]) != (
                    start > 0 and word(text[start - 1])
                )
                end_ok = word(text[i]) != (i + 1 < n and word(text[i + 1]))
                if start_ok and end_ok:
                    return True
        return False


# Per-worker automaton memo: the UDF closure ships only the keyword
# tuple (small); each Python worker builds the automaton once on its
# first batch and every later batch is a dict hit.
_AC_CACHE: dict[tuple[str, ...], AhoCorasick] = {}


def _ac_for(kws: tuple[str, ...]) -> AhoCorasick:
    ac = _AC_CACHE.get(kws)
    if ac is None:
        ac = _AC_CACHE[kws] = AhoCorasick(kws)
    return ac


def contains_any_large(cols: Sequence[str], keywords: Sequence[str]) -> Column:
    """Substring any-match for keyword sets too large for one regex
    alternation: Aho-Corasick over each Arrow batch — O(text) per row
    independent of keyword count."""
    kws = tuple(dict.fromkeys(k.lower() for k in keywords))

    @F.pandas_udf(T.BooleanType())
    def _match(*series: pd.Series) -> pd.Series:
        ac = _ac_for(kws)
        joined = series[0].fillna("").str.lower()
        for s in series[1:]:
            joined = joined + "\n" + s.fillna("").str.lower()
        return joined.map(ac.search_any)

    return _match(*[F.col(c) for c in cols])


def matches_any_word_large(
    cols: Sequence[str], keywords: Sequence[str]
) -> Column:
    """Word-boundary any-match for keyword sets too large for one regex
    alternation: Aho-Corasick over lowercased text with per-match
    boundary checks (the JVM \\b ASCII word class), hyphen variants
    expanded like the rlike spelling. Case-insensitivity comes from
    lowercasing both sides — exact for ASCII keywords (the reference's
    keyword files)."""
    kws = tuple(
        dict.fromkeys(
            k.lower() for k in expand_hyphen_variants(keywords) if k
        )
    )

    @F.pandas_udf(T.BooleanType())
    def _match(*series: pd.Series) -> pd.Series:
        ac = _ac_for(kws)
        joined = series[0].fillna("").str.lower()
        for s in series[1:]:
            joined = joined + "\n" + s.fillna("").str.lower()
        return joined.map(ac.search_any_word)

    return _match(*[F.col(c) for c in cols])


def auto_contains_any(cols: Sequence[str], keywords: Sequence[str]) -> Column:
    """Strategy pick by keyword count (SURVEY §7 'custom work' item)."""
    if len(keywords) >= AHOCORASICK_THRESHOLD:
        return contains_any_large(cols, keywords)
    return contains_any(cols, keywords)


def auto_matches_any_word(
    cols: Sequence[str], keywords: Sequence[str]
) -> Column:
    """Word-boundary twin of auto_contains_any: rlike alternation below
    the threshold (JVM-side, codegen), Aho-Corasick + boundary checks
    above it (counting the hyphen-expanded variants, which is what the
    alternation would actually contain)."""
    if len(expand_hyphen_variants(keywords)) >= AHOCORASICK_THRESHOLD:
        return matches_any_word_large(cols, keywords)
    return matches_any_word(cols, keywords)
