"""`get_spark` sizes the local session to the machine."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
from social_and_media_data_ingestion_spark import get_spark

spark = get_spark(app_name="cpu-default")
print(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def test_get_spark_defaults_to_the_usable_cpus():
    """With SPARK_GRAFT_CPUS unset the session runs one core and one
    shuffle partition per CPU this process may use, not a fixed count."""
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
    cores, partitions = proc.stdout.split()[-2:]
    usable = len(os.sched_getaffinity(0))
    assert (int(cores), int(partitions)) == (usable, usable)
