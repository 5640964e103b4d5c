"""Unit tests for the content-hash staleness ledger (tools/stale_rows.py).

The r6 verdict's three over-reporting causes each get a direct test:
(a) rows-only no_oracle driver rows count as evidence, (b) attribute-
level resolution keeps an unrelated edit in a shared engine module from
staling its consumers, (c) comment-only edits never change a closure
hash (ast.unparse normalizes them away).
"""

import ast
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import stale_rows as S


def test_green_accepts_no_oracle_rows_only():
    assert S._green({"err": "no_oracle", "spark_rows": 1})
    assert S._green({"hash_match": True})
    assert S._green({"err": None, "rows_match": True})
    assert not S._green({"err": "no_oracle", "spark_rows": None})
    assert not S._green({"err": "boom", "spark_rows": 3})
    assert not S._green({"err": None, "rows_match": False})


def test_attr_refs_tracks_attribute_only_use():
    node = ast.parse("def f(df):\n    return D.fingerprint(KM.compile(df))")
    out = S._ModuleIndex.attr_refs(None, node)
    assert out["D"] == {"fingerprint"}
    assert out["KM"] == {"compile"}
    assert out["df"] is None  # plain (non-attribute) use


def test_attr_refs_falls_back_when_name_escapes():
    # `D` passed as a value once -> whole-module fallback required even
    # though it also has attribute uses
    node = ast.parse("def f():\n    g(D)\n    return D.fingerprint")
    out = S._ModuleIndex.attr_refs(None, node)
    assert out["D"] is None


def _hash_of(src: str) -> str:
    import hashlib

    tree = ast.parse(src)
    fn = tree.body[0]
    return hashlib.sha256(ast.unparse(fn).encode()).hexdigest()


def test_comment_and_whitespace_edits_do_not_change_unit_hash():
    a = "def f(x):\n    return x + 1\n"
    b = "def f(x):\n    # a new comment\n    return x + 1  # trailing\n"
    c = "def f(x):\n    return x + 2\n"
    assert _hash_of(a) == _hash_of(b)
    assert _hash_of(a) != _hash_of(c)


def test_oracle_sql_in_decorator_is_part_of_the_hash():
    a = '@q("x", "SELECT 1 AS c")\ndef f(s, d):\n    return 1\n'
    b = '@q("x", "SELECT 2 AS c")\ndef f(s, d):\n    return 1\n'
    assert _hash_of(a) != _hash_of(b)


def test_worktree_closure_hashes_cover_registry():
    # smoke over the real repo: every @q registration resolves to a hash
    hashes = S.closure_hashes(S.Snapshot(S.WORKTREE))
    assert len(hashes) >= 249
    assert "flagship_submission_extract" in hashes
    assert all(len(h) == 64 for h in hashes.values())
