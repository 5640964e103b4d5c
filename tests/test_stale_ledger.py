"""Arm the staleness ledger: every registry query has green evidence at
its current closure hash, at every commit. Evidence is a local record
(LOCAL_EVIDENCE.json, written by tools/verify_local.py at sf0.001,
sf0.01 and sf0.1), so a closure edit fails this suite until verify_local
has re-run its queries green; `python tools/stale_rows.py` prints the
command. Pure AST work, no Spark session.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

import stale_rows as S


def _assert_no_stale(led: dict) -> None:
    bad = {n: led["missing"][n] for n in led["stale"] + led["never"]}
    assert not bad, (
        "queries without green evidence at their current closure hash "
        f"(query: SFs missing a green local row): {bad}. Record them "
        "with tools/verify_local.py (tools/stale_rows.py prints the "
        "command) or revert the edit that staled them."
    )


def test_every_query_has_evidence_at_its_current_hash():
    _assert_no_stale(S.ledger())


@pytest.fixture
def tree(tmp_path, monkeypatch):
    """A copy of the package as the ledger's ROOT: its only evidence is
    the local record written here."""
    shutil.copytree(
        ROOT / S.PKG, tmp_path / S.PKG, ignore=shutil.ignore_patterns("__pycache__")
    )
    monkeypatch.setattr(S, "ROOT", str(tmp_path))
    return tmp_path


def _hashes() -> dict[str, str]:
    return S.closure_hashes(S.Snapshot())


def _record(hashes: dict[str, str], names, sfs=S.LOCAL_SFS) -> None:
    S.record_local([(n, sf, True) for n in names for sf in sfs], hashes, hashes)


def test_an_unrecorded_edit_stales_and_only_a_full_green_record_clears_it(tree):
    name = "text_shingles_3gram"  # reaches dedup._sql_tokens
    old = _hashes()
    _record(old, old)
    _assert_no_stale(S.ledger())  # the local record alone is evidence

    # edit one helper in the query's closure (not a comment: a comment
    # edit changes no hash)
    f = tree / S.PKG / "operators" / "dedup.py"
    src = f.read_text()
    sig = "def _sql_tokens(text_col: str) -> str:\n"
    assert src.count(sig) == 1
    f.write_text(src.replace(sig, sig + "    text_col = str(text_col)\n"))
    new = _hashes()
    staled = sorted(n for n in new if new[n] != old[n])
    assert name in staled and "q1_pricing_summary" not in staled

    led = S.ledger()
    assert led["stale"] == staled and led["never"] == []
    assert led["missing"][name] == list(S.LOCAL_SFS)
    with pytest.raises(AssertionError):
        _assert_no_stale(led)

    # a run whose hash moved while it ran writes nothing: here the tree
    # held the edit when the run started and was reverted by its end
    S.record_local([(name, sf, True) for sf in S.LOCAL_SFS], new, old)
    assert name in S.ledger()["stale"]

    # green at 2 of the 3 SFs is not evidence (and the old hash's
    # record is now split across hashes, so it is no evidence either)
    _record(new, staled, sfs=S.LOCAL_SFS[:2])
    led = S.ledger()
    assert sorted(led["stale"] + led["never"]) == staled
    assert led["missing"][name] == [S.LOCAL_SFS[2]]

    _record(new, staled, sfs=S.LOCAL_SFS[2:])
    _assert_no_stale(S.ledger())

    # a red run overwrites the green row it replaces
    S.record_local([(name, S.LOCAL_SFS[1], False)], new, new)
    rows = json.loads((tree / S.LOCAL_EVIDENCE).read_text())
    assert rows[name][S.LOCAL_SFS[1]] == {"green": False, "hash": new[name]}
    led = S.ledger()
    assert led["stale"] + led["never"] == [name]
    assert led["missing"][name] == [S.LOCAL_SFS[1]]
