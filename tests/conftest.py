from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from social_and_media_data_ingestion_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def range_partitions(spark):
    """`with range_partitions(n):` builds and runs its block with n
    shuffle partitions and AQE coalescing off, so an un-sized range
    shuffle (the prefix pass of operators/scale.py) has exactly n
    partitions; both settings are restored on exit."""

    @contextmanager
    def fixed(n: int):
        conf = {
            "spark.sql.shuffle.partitions": str(n),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        old = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)

    return fixed


@pytest.fixture(scope="session")
def reliable_pins(tmp_path_factory):
    """(results, checkpoint dir) of `pin_runs.results` run once in a fresh
    session with `spark.checkpoint.dir` set, so every pin is reliable."""
    import pin_runs

    ck = tmp_path_factory.mktemp("reliable_pins") / "ck"
    return pin_runs.run_reliable(ck), ck
