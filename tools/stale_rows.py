"""Correctness-evidence freshness ledger.

A green oracle row is EVIDENCE for a query only while the code under it
is unchanged, compared by CONTENT: a query's closure hash is sha256 over
the ast.unparse'd source of its @q-decorated function (decorators
included, so the DuckDB oracle SQL is in the hash), plus every top-level
object it references transitively — same-module helpers and constants,
and cross-module engine objects resolved through the package's imports
(an unresolvable or module-level import pulls in the whole engine file).
ast.unparse drops comments, so comment-only edits never stale anything.

Evidence: local rows (LOCAL_EVIDENCE.json), one per (query, sf) under
the closure hash it ran against, written by tools/verify_local.py. They
are evidence for a hash only when sf0.001, sf0.01 and sf0.1 are all
green at that hash; a red run overwrites the green row. The driver
rounds' CORRECTNESS_r*.json files are kept as history and read by
nothing: every query has a local record at its current hash, and a
driver row could only ever add evidence.

FRESH: some evidence hash equals the current hash; STALE: evidence, but
none matches; NEVER: no evidence. For each stale or never query the
report names the SFs lacking a green local row at the current hash,
then prints the verify_local commands that record them.

Usage: python tools/stale_rows.py [--fail]
Exit code 0 unless --fail is passed and a stale/never query exists.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "social_and_media_data_ingestion_spark"
LOCAL_EVIDENCE = "LOCAL_EVIDENCE.json"
#: the SF directories (under TESTDATA) a local record must cover
LOCAL_SFS = ("sf0.001", "sf0.01", "sf0.1")
TESTDATA = "/root/testdata"


class Snapshot:
    """Reads the working tree's package files, each parsed once."""

    def __init__(self):
        self._mods: dict[str, "_ModuleIndex | None"] = {}

    def module(self, rel: str) -> "_ModuleIndex | None":
        if rel not in self._mods:
            p = os.path.join(ROOT, rel)
            try:
                self._mods[rel] = (
                    _ModuleIndex(rel, open(p).read()) if os.path.exists(p) else None
                )
            except SyntaxError:
                self._mods[rel] = None
        return self._mods[rel]

    def plans_files(self) -> list[str]:
        pat = os.path.join(ROOT, PKG, "plans", "queries*.py")
        return sorted(os.path.relpath(f, ROOT) for f in glob.glob(pat))


def _mod_file(mod: str) -> str | None:
    """Dotted path inside PKG -> repo-relative file."""
    cand = os.path.join(PKG, *mod.split(".")) + ".py"
    if os.path.exists(os.path.join(ROOT, cand)):
        return cand
    init = os.path.join(PKG, *mod.split("."), "__init__.py")
    if os.path.exists(os.path.join(ROOT, init)):
        return init
    return None


class _ModuleIndex:
    """Top-level namespace of one module: defs/constants + PKG imports."""

    def __init__(self, rel: str, src: str):
        self.rel = rel
        self.tree = ast.parse(src)
        self.tops: dict[str, ast.AST] = {}
        #: bound name -> ("mod", file) | ("obj", file, objname)
        self.imports: dict[str, tuple] = {}
        for n in self.tree.body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.tops[n.name] = n
            elif isinstance(n, (ast.Assign, ast.AnnAssign)):
                targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                for t in targets:
                    for x in ast.walk(t):
                        if isinstance(x, ast.Name):
                            self.tops[x.id] = n
        # imports anywhere in the file (function-local ones included)
        for n in ast.walk(self.tree):
            if isinstance(n, ast.ImportFrom) and n.module and n.module.startswith(PKG):
                mod = n.module[len(PKG) + 1 :] if n.module != PKG else ""
                for alias in n.names:
                    sub = _mod_file(f"{mod}.{alias.name}" if mod else alias.name)
                    bound = alias.asname or alias.name
                    if sub:  # `from PKG.operators import dedup`
                        self.imports[bound] = ("mod", sub)
                    else:
                        f = _mod_file(mod) if mod else None
                        if f:  # `from PKG.operators.dedup import _tokens`
                            self.imports[bound] = ("obj", f, alias.name)
            elif isinstance(n, ast.Import):
                for alias in n.names:
                    if alias.name.startswith(PKG + "."):
                        f = _mod_file(alias.name[len(PKG) + 1 :])
                        if f:
                            self.imports[
                                (alias.asname or alias.name).split(".")[0]
                            ] = ("mod", f)

    def refs(self, node: ast.AST) -> set[str]:
        return {x.id for x in ast.walk(node) if isinstance(x, ast.Name)}

    def attr_refs(self, node: ast.AST) -> dict[str, set[str] | None]:
        """For each referenced bare name: the set of attributes accessed
        on it — or None if the name is ever used NOT as `name.attr`
        (passed around, subscripted, called directly), in which case a
        module binding must fall back to whole-file hashing."""
        out: dict[str, set[str] | None] = {}
        attr_value_ids = set()
        for x in ast.walk(node):
            if isinstance(x, ast.Attribute) and isinstance(x.value, ast.Name):
                attr_value_ids.add(id(x.value))
                if out.get(x.value.id, set()) is not None:
                    out.setdefault(x.value.id, set()).add(x.attr)
        for x in ast.walk(node):
            if isinstance(x, ast.Name) and id(x) not in attr_value_ids:
                out[x.id] = None
        return out


def _closure_units(
    snap: Snapshot, rel: str, name: str, units: dict[tuple, ast.AST | None]
) -> None:
    """Collect (file, objname) -> node units reachable from rel:name.
    (file, "*") with node None means 'whole module'."""
    key = (rel, name)
    if key in units:
        return
    mod = snap.module(rel)
    if mod is None or name not in mod.tops:
        # unresolvable inside the module -> be conservative, whole file
        units[(rel, "*")] = None
        return
    node = mod.tops[name]
    units[key] = node
    for r, attrs in mod.attr_refs(node).items():
        if r == name:
            continue
        if r in mod.tops:
            _closure_units(snap, rel, r, units)
        elif r in mod.imports:
            b = mod.imports[r]
            if b[0] == "mod":
                # `import PKG.x as m` / `from PKG import x as m`: when
                # every use is `m.attr`, hash only the referenced
                # objects — an edit to an UNRELATED function in the
                # same engine module must not stale this query
                if attrs is not None:
                    for a in sorted(attrs):
                        _closure_units(snap, b[1], a, units)
                else:
                    units[(b[1], "*")] = None
            else:
                _closure_units(snap, b[1], b[2], units)


def closure_hashes(snap: Snapshot) -> dict[str, str]:
    """query name -> closure content hash, for every @q registration
    visible in this snapshot. Unhashable queries are omitted."""
    out: dict[str, str] = {}
    for rel in snap.plans_files():
        mod = snap.module(rel)
        if mod is None:
            continue
        for fname, node in mod.tops.items():
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            qname = None
            for dec in node.decorator_list:
                if (
                    isinstance(dec, ast.Call)
                    and getattr(dec.func, "id", "") == "q"
                    and dec.args
                    and isinstance(dec.args[0], ast.Constant)
                ):
                    qname = dec.args[0].value
            if not qname:
                continue
            units: dict[tuple, ast.AST | None] = {}
            try:
                _closure_units(snap, rel, fname, units)
                parts = []
                for (f, n) in sorted(units):
                    if n == "*":
                        m = snap.module(f)
                        body = ast.unparse(m.tree) if m else ""
                    else:
                        body = ast.unparse(units[(f, n)])
                    parts.append(f"{f}::{n}::{body}")
                out[qname] = hashlib.sha256(
                    "\n".join(parts).encode()
                ).hexdigest()
            except Exception:
                continue
    return out


def load_local() -> dict[str, dict[str, dict]]:
    """query -> sf -> {"green": bool, "hash": str}; {} if no artifact."""
    path = os.path.join(ROOT, LOCAL_EVIDENCE)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def record_local(
    results: list[tuple[str, str, bool]],
    before: dict[str, str],
    after: dict[str, str],
) -> int:
    """Write (query, sf, green) results into LOCAL_EVIDENCE.json, each
    under the query's closure hash. `before` and `after` are the closure
    hashes taken before and after the run: a query whose hash moved
    while it ran is not written, since no one hash names the code it
    ran. Rows of queries gone from the registry are dropped. Returns the
    number of rows written."""
    rows = {q: r for q, r in load_local().items() if q in after}
    n = 0
    for name, sf, green in results:
        h = before.get(name)
        if h is None or after.get(name) != h:
            continue
        rows.setdefault(name, {})[sf] = {"green": green, "hash": h}
        n += 1
    with open(os.path.join(ROOT, LOCAL_EVIDENCE), "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
        f.write("\n")
    return n


def _missing_sfs(by_sf: dict, h: str) -> list[str]:
    """SFs without a green local row at closure hash `h`."""
    return [
        sf
        for sf in LOCAL_SFS
        if not (by_sf.get(sf, {}).get("green") and by_sf[sf].get("hash") == h)
    ]


def ledger() -> dict:
    """Compute the freshness ledger for the working tree. Returns
    {"current": {query: hash}, "evidence": {query: set-of-hashes},
    "stale": [query...], "never": [query...],
    "missing": {query: [sf...]}} where "missing" names, for each stale
    or never query, the SFs lacking a green local row at its current
    hash. Shared by the CLI below and by tests/test_stale_ledger.py,
    which requires stale == never == [] at every commit."""
    current = closure_hashes(Snapshot())

    # evidence for a hash: every LOCAL_SFS row green at that one hash
    evidence: dict[str, set[str]] = {}
    local = load_local()
    for name, by_sf in local.items():
        h = by_sf.get(LOCAL_SFS[0], {}).get("hash")
        if h and not _missing_sfs(by_sf, h):
            evidence.setdefault(name, set()).add(h)

    stale: list[str] = []
    never: list[str] = []
    for qname in sorted(current):
        if qname not in evidence:
            never.append(qname)
        elif current[qname] not in evidence[qname]:
            stale.append(qname)
    return {
        "current": current,
        "evidence": evidence,
        "stale": stale,
        "never": never,
        "missing": {
            n: _missing_sfs(local.get(n, {}), current[n]) for n in stale + never
        },
    }


def main() -> None:
    led = ledger()
    current, evidence = led["current"], led["evidence"]
    stale, never, missing = led["stale"], led["never"], led["missing"]

    print(f"registry: {len(current)}")
    print(f"with evidence: {len(evidence)}")
    # one verify_local run per set of missing SFs, not one per query:
    # each run pays a Spark session start
    runs: dict[tuple[str, ...], list[str]] = {}
    for label, names in (("NEVER", never), ("STALE", stale)):
        print(f"{label.lower()}: {len(names)}")
        for n in names:
            print(f"  {label} {n}  missing: {' '.join(missing[n])}")
            runs.setdefault(tuple(missing[n]), []).append(n)
    for sfs, names in runs.items():
        dirs = " ".join(os.path.join(TESTDATA, sf) for sf in sfs)
        print(f"record: python tools/verify_local.py {dirs} {' '.join(names)}")
    if "--fail" in sys.argv and (stale or never):
        sys.exit(1)


if __name__ == "__main__":
    main()
