"""Shared runs for the reliable-pin tests.

`pin` switches to reliable checkpoints once a checkpoint dir is
configured. A checkpoint dir is context-global, so setting one on the
shared test session would switch every later test to reliable pins: the
reliable side runs once, in a fresh process, and the `reliable_pins`
fixture (conftest.py) hands its results to every test that compares
against the local-pin results.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# the generated test tables sit next to the checkout
SF = str(ROOT.parent / "testdata" / "sf0.001")

_RELIABLE_RUN = """
import json, sys
from social_and_media_data_ingestion_spark import get_spark
from social_and_media_data_ingestion_spark.plans.queries import registry
import pin_runs

spark = get_spark(app_name="reliable-pins",
                  extra_conf={"spark.checkpoint.dir": sys.argv[1]})
assert spark.sparkContext.getCheckpointDir() is not None
print(json.dumps(pin_runs.results(spark, registry())))
spark.stop()
"""


def rows(df) -> list:
    return sorted(json.loads(json.dumps([list(r) for r in df.collect()])))


def lazy_pin_computes(spark) -> int:
    """How often a lazily pinned frame's last stage runs over two actions:
    once per group when the pin holds, twice if the first action's
    checkpoint write recomputes the lineage."""
    from pyspark.sql import functions as F

    from social_and_media_data_ingestion_spark.session import pin

    calls = spark.sparkContext.accumulator(0)

    def tally(x):
        calls.add(1)
        return x

    df = (
        spark.range(100, numPartitions=4)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.sum("id").alias("s"))
        .withColumn("s", F.udf(tally, "long")("s"))
        .transform(pin)
    )
    df.collect()
    df.count()
    return calls.value


def results(spark, reg) -> dict:
    """CC and PageRank (eager pins) plus a registry query whose BFS hops
    are lazy pins, and the lazy pin's compute count."""
    from social_and_media_data_ingestion_spark.operators.dedup import (
        connected_components,
    )
    from social_and_media_data_ingestion_spark.operators.graph import pagerank

    cc_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] + [(10, 11)], "id_a bigint, id_b bigint"
    )
    spokes = [1, 2, 3, 4, 5]
    pr_edges = spark.createDataFrame(
        [(0, s) for s in spokes] + [(s, 0) for s in spokes], "src bigint, dst bigint"
    )
    return {
        "cc": rows(connected_components(cc_edges)),
        "pagerank": rows(pagerank(pr_edges, iters=4)),
        "bfs": rows(reg["graph_bfs_reachability"].spark(spark, SF)),
        "lazy_pin_computes": lazy_pin_computes(spark),
    }


def run_reliable(ck: Path) -> dict:
    """`results` in a fresh session whose `spark.checkpoint.dir` is `ck`."""
    here = Path(__file__).resolve().parent
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        PYTHONPATH=os.pathsep.join(
            [str(ROOT), str(here), os.environ.get("PYTHONPATH", "")]
        ),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RELIABLE_RUN, str(ck)],
        env=env,
        cwd=ck.parent,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])
