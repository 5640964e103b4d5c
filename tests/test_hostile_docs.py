"""Hostile-documents harness (round 7): every documents-only registry
query runs against the pathological payloads a web-crawl corpus always
contains — a ~260 KB repetitive page, a ~230 KB all-unique-token page,
a single 100 KB unbroken token, NUL/control bytes, whitespace-only —
Spark vs its DuckDB oracle, value-compared.

This probe is as much about WALL-CLOCK cliffs as about values: both
defects it caught were accidental O(L²) on a single long document —
the class of bug that takes down a 100 TB job on one bad crawl page
while every small-document test stays green:

- `pii_redact_documents`: Java's backtracking regex paid O(run) at
  every start position inside a long [A-Za-z0-9._%+-] run before
  failing at '@' — minutes for ONE 100 KB token (DuckDB's RE2 is
  linear, so only the Spark side melted). Fixed with RFC 5321's own
  bounds as quantifiers ({1,64} local part, {1,255} domain): per-start
  work becomes constant, matches on real addresses are identical, and
  the shared pattern string changes both engines in lockstep.
- `multimodal_audio_chunks` (ORACLE side): DuckDB re-evaluates
  expressions referenced inside list_transform lambdas PER ELEMENT, so
  `hex(encode(text))` inlined in the per-byte lambda recomputed the
  full document hex for every byte — O(bytes²), 33 s for one 100 KB
  payload. Fixed by projecting the hex (and each chunk's 500-char
  slice) as materialized columns before any lambda touches them.

A reintroduced quadratic shows up here as a multi-minute stall of this
test, not a silent pass.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd
import pytest

from social_and_media_data_ingestion_spark.plans.queries import registry

# The cross-engine sweeps take minutes per test and are marked slow,
# deselected by default (see pytest.ini). Run with -m "slow or not slow"
# after any closure edit and before round close.

OTHER_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "embeddings",
]


@pytest.fixture(scope="module")
def hostile_docs_dir(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("hostiledocs")
    words = ["alpha", "beta", "gamma", "delta",
             "epsilon", "zeta", "eta", "theta"]
    big = " ".join(words[i % 8] for i in range(40_000))   # ~260KB repetitive
    uniq = " ".join(f"tok{i}" for i in range(30_000))     # ~230KB all-unique
    megatok = "x" * 100_000                               # one unbroken token
    nul = "before\x00after \x01\x02 control \x07 bell"
    ws = " \n\t" * 10_000                                 # whitespace only
    rows = [
        (0, big, "en", "src0"),
        (1, uniq, "en", "src1"),
        (2, megatok, "de", "src0"),
        (3, nul, "de", "src1"),
        (4, ws, "en", "src0"),
        (5, "normal little document about alpha beta", "en", "src1"),
        (6, None, "en", "src0"),
        (7, "", "de", "src1"),
        (8, "solo", "en", "src0"),
        (9, "two words", "de", "src1"),
        (10, "tab\tseparated\t\twords\there", "en", "src0"),
        (11, "naïve café straße 東京 ümlaut", "de", "src1"),
        (12, " ".join(["again"] * 500), "en", "src0"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("Int64")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp / "documents.parquet")
    )
    return str(tmp)


def _documents_only_queries():
    out = []
    for name, qd in registry().items():
        if qd.oracle is None:
            continue
        o = qd.oracle.lower()
        if "documents" not in o:
            continue
        if any(re.search(rf"\b{t}\b", o) for t in OTHER_TABLES):
            continue
        if name == "sql_passthrough_agg":
            continue  # register_views needs a full sf dir
        out.append(name)
    return out


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    def cell(v):
        if isinstance(v, (list, tuple, dict, set, bytes, bytearray)):
            return str(v)
        if hasattr(v, "tolist") and getattr(v, "ndim", 0):
            return str(list(v))
        return "NULL" if pd.isna(v) else str(v)

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else f"{v:.6f}")
        else:
            df[c] = s.map(cell)
    df = df.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def test_ngram_helper_matches_the_element_at_spelling(spark, hostile_docs_dir):
    """`dedup._sql_ngrams` against the element_at + concat n-gram
    spelling the query builders used before they shared it."""
    from pyspark.sql import functions as F

    from social_and_media_data_ingestion_spark.operators.dedup import (
        _sql_ngrams,
        _sql_tokens,
    )

    docs = spark.read.parquet(f"{hostile_docs_dir}/documents.parquet").select(
        "doc_id", F.expr(_sql_tokens("text")).alias("toks")
    )
    for n in (2, 3):
        parts = ", ' ', ".join(f"element_at(toks, i + {j})" for j in range(n))
        former = (
            f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(sequence(1, size(toks) - {n - 1}), i -> concat({parts})) "
            "ELSE CAST(array() AS ARRAY<STRING>) END"
        )
        rows = docs.select(
            "doc_id",
            F.expr(former).alias("former"),
            F.expr(_sql_ngrams("toks", n)).alias("ngrams"),
        ).collect()
        assert len(rows) == 13
        assert [r.doc_id for r in rows if r.former != r.ngrams] == []
        sizes = {r.doc_id: len(r.ngrams) for r in rows}
        assert sizes[0] == 40_000 - n + 1 and sizes[12] == 500 - n + 1
        assert sizes[6] == sizes[7] == sizes[8] == 0
        assert sizes[9] == (1 if n == 2 else 0)


@pytest.mark.slow
def test_every_documents_query_agrees_on_hostile_docs(
    spark, hostile_docs_dir
):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{hostile_docs_dir}/documents.parquet/*.parquet')"
    )
    reg = registry()
    names = _documents_only_queries()
    assert len(names) >= 65
    bad = []
    for name in names:
        qd = reg[name]
        try:
            got = qd.spark(spark, hostile_docs_dir).toPandas()
            want = con.execute(qd.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            bad.append(f"{name}: schema mismatch")
            continue
        gs, ws = _canon(got), _canon(want)
        if len(gs) != len(ws):
            bad.append(f"{name}: rows {len(gs)} vs {len(ws)}")
        elif not gs.equals(ws):
            bad.append(f"{name}: value divergence")
    assert not bad, "\n".join(bad)


@pytest.fixture(scope="module")
def pii_docs_dir(spark, tmp_path_factory):
    """Documents that actually EXERCISE the PII match paths — the
    generated testdata contains zero emails, zero URLs, and zero
    denylist terms, so every gate pass of pii_redact_documents had
    verified only the no-match identity path."""
    tmp = tmp_path_factory.mktemp("piidocs")
    local64 = "a" * 64
    local65 = "a" * 65
    texts = [
        "contact me at alice.smith+tag@sub.example.co.uk today",
        "two hits bob@x.io and carol_9%d@host-name.org in one line",
        f"rfc boundary {local64}@example.com fits the 64-char limit",
        f"over boundary {local65}@example.com still redacts a match",
        "see https://example.com/a?b=c#d and http://plain.net next",
        "denylist spark and sql but not sparkle or sqlite",
        "MixedCase@Example.COM and no-scheme www.example.com",
        "trailing dot site.com. and bare @ and user@ incomplete",
        "no pii here at all",
        "",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("Int64")
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp / "documents.parquet")
    )
    return str(tmp)


@pytest.mark.slow
def test_pii_redaction_match_paths_agree_cross_engine(spark, pii_docs_dir):
    """Java regex (Spark) vs RE2 (DuckDB) on text where the patterns
    actually FIRE: multiple matches per line, the RFC {1,64} boundary,
    case-insensitivity of the class ranges, scheme-less URLs (must NOT
    match), partial '@' fragments (must NOT match). Values compared
    exactly — redacted text and per-doc mask counts."""
    from social_and_media_data_ingestion_spark.plans.queries import registry

    qd = registry()["pii_redact_documents"]
    got = (
        qd.spark(spark, pii_docs_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{pii_docs_dir}/documents.parquet/*.parquet')"
    )
    want = (
        con.execute(qd.oracle).fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.astype(str).equals(want.astype(str))
    # the fixture is not vacuous: every branch fires at least once
    n = dict(zip(got.doc_id, got.n_masked))
    red = dict(zip(got.doc_id, got.redacted))
    assert "<EMAIL>" in red[0] and n[0] == 1
    assert red[1].count("<EMAIL>") == 2 and n[1] == 2
    assert "<EMAIL>" in red[2]          # 64-char local part matches whole
    assert "<EMAIL>" in red[3]          # 65: the trailing 64 still redact
    assert red[4].count("<URL>") == 2 and n[4] == 2
    assert red[5].count("<TERM>") == 2 and "sparkle" in red[5]
    assert "<EMAIL>" in red[6] and "www.example.com" in red[6]  # no scheme
    assert n[8] == 0 and n[9] == 0
