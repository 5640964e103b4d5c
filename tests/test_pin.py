"""The one pin policy (session.pin).

Every lineage cut in the package goes through `pin`, which picks the
medium from the deployment: `localCheckpoint` by default, a reliable
`checkpoint` once a checkpoint dir is configured (`spark.checkpoint.dir`).
"""

from __future__ import annotations

import ast
from pathlib import Path

import pin_runs

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "social_and_media_data_ingestion_spark"

_PIN_CALLS = {"localCheckpoint", "checkpoint", "setCheckpointDir"}


def test_only_session_pin_chooses_the_pin_medium():
    """No module but `session.pin` may call localCheckpoint, checkpoint
    or setCheckpointDir: a second spelling would split the policy again."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed: set[int] = set()
        if path == PKG / "session.py":
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "pin":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _PIN_CALLS
                and id(node) not in allowed
            ):
                rel = path.relative_to(ROOT)
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    assert not offenders, offenders


def test_reliable_checkpoint_dir_matches_local_pins(spark, reliable_pins):
    """With `spark.checkpoint.dir` set, every pin writes reliable
    checkpoints there, and the results equal the local-pin results; an
    eager pin's `observe()` metrics hold the real values on both media."""
    from social_and_media_data_ingestion_spark.plans.queries import registry

    reliable, ck = reliable_pins
    assert spark.sparkContext.getCheckpointDir() is None
    local = pin_runs.results(spark, registry())
    assert reliable == local
    assert local["bfs"] and local["cc"] and local["pagerank"]
    assert local["lazy_pin_computes"] == 10
    assert local["eager_pin_observed"] == {"n": 10, "total": 4950}
    # reliable checkpoints land as rdd-<id> dirs under the configured dir
    assert any(p.name.startswith("rdd-") for p in ck.rglob("*") if p.is_dir())
