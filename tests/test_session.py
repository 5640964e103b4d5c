"""`get_spark` sizes the local session to the machine and picks its
streaming checkpoint manager."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from social_and_media_data_ingestion_spark.session import (
    _CHECKPOINT_MANAGER_CONF,
    _FS_CHECKPOINT_MANAGER,
    _is_local_master,
)

ROOT = Path(__file__).resolve().parents[1]

_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)

# One fresh session, started with SPARK_GRAFT_CPUS unset and an explicit
# checkpoint manager in extra_conf.
_PROBE = f"""
from social_and_media_data_ingestion_spark import get_spark

spark = get_spark(app_name="probe",
                  extra_conf={{"{_CHECKPOINT_MANAGER_CONF}": "{_FILE_CONTEXT_MANAGER}"}})
print(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.get("{_CHECKPOINT_MANAGER_CONF}"))
spark.stop()
"""


@pytest.fixture(scope="module")
def probe() -> list[str]:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.pathsep.join([str(ROOT), env.get("PYTHONPATH", "")])
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        env=env,
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout.split()[-3:]


def test_get_spark_defaults_to_the_usable_cpus(probe):
    """With SPARK_GRAFT_CPUS unset the session runs one core and one
    shuffle partition per CPU this process may use, not a fixed count."""
    cores, partitions, _ = probe
    usable = len(os.sched_getaffinity(0))
    assert (int(cores), int(partitions)) == (usable, usable)


def test_extra_conf_checkpoint_manager_survives(probe):
    """A manager the caller names in extra_conf is kept on a local master."""
    assert probe[2] == _FILE_CONTEXT_MANAGER


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local[2,3]", True),
        ("spark://h:7077", False),
        ("yarn", False),
        ("k8s://https://k8s.example:443", False),
    ],
)
def test_local_master_predicate(master, local):
    assert _is_local_master(master) is local


def test_local_session_checkpoints_through_the_file_system_manager(spark, tmp_path):
    """Spark resolves the session's checkpoint manager for a local path to
    the FileSystem-API class; a Spark upgrade that moves or renames it
    fails here rather than at a stream's first checkpoint."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    create = getattr(getattr(manager, "CheckpointFileManager$"), "MODULE$").create
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    made = create(jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hadoop_conf)
    assert made.getClass().getName() == _FS_CHECKPOINT_MANAGER
