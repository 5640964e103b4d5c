from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from social_and_media_data_ingestion_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def reliable_pins(tmp_path_factory):
    """(results, checkpoint dir) of `pin_runs.results` run once in a fresh
    session with `spark.checkpoint.dir` set, so every pin is reliable."""
    import pin_runs

    ck = tmp_path_factory.mktemp("reliable_pins") / "ck"
    return pin_runs.run_reliable(ck), ck
