"""Run the FULL test suite: the default tests plus the `slow` sweeps.

    python tools/full_suite.py [pytest args...]

pytest.ini deselects the `slow` whole-registry sweeps (differential fuzz
and the robustness harnesses) from a plain `pytest tests/` run, so a
green default run says nothing about them. This wrapper always runs with
`-m "slow or not slow"`, placed last so that no `-m` among the extra
arguments can narrow it, with Spark's scratch files under
/tmp/spark-local as in the Tier-1 environment (`get_spark` already runs
one Spark core per CPU this process may use). Extra arguments go to
pytest before the marker; without any test path the whole `tests/`
directory runs.

Exit status is pytest's.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def command(argv: list[str]) -> list[str]:
    """The pytest command line for `argv`, to run from the repo root."""
    names_a_path = any(
        os.path.exists(os.path.join(ROOT, a.split("::")[0])) for a in argv
    )
    return [
        sys.executable, "-m", "pytest",
        *([] if names_a_path else ["tests/"]),
        "-q", "--continue-on-collection-errors", "-p", "no:cacheprovider",
        *argv,
        "-m", "slow or not slow",
    ]


def main(argv: list[str]) -> None:
    os.environ["SPARK_LOCAL_DIRS"] = "/tmp/spark-local"
    os.chdir(ROOT)
    os.execv(sys.executable, command(argv))


if __name__ == "__main__":
    main(sys.argv[1:])
