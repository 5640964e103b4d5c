"""`tools/full_suite.py` always selects the `slow` sweeps."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_full_suite_collects_slow_sweeps_despite_a_narrower_marker():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "full_suite.py"),
         "tests/test_differential_fuzz.py", "--collect-only", "-m", "not slow"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "deselected" not in proc.stdout
    assert "test_fuzz_events_deterministic_mix" in proc.stdout
