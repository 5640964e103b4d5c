"""SparkSession factory.

Single place for engine-wide configuration: AQE on (runtime coalesce +
skew-join handling), Arrow on (every pandas-UDF boundary is batched),
UTC session timezone (oracle comparisons are TZ-naive UTC).

Scale notes: `spark.sql.shuffle.partitions` defaults to the local core
count here; on a real cluster it should be ~2-3x total cores or left to
AQE's coalescing with a high initial value. Nothing in the engine
assumes a partition count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize `df` and cut its lineage: the engine's one pin policy.

    Pins keep iterative operators (connected components, PageRank,
    k-core, BFS hops) at a bounded plan depth, and let a frame read by
    several consumers, or by several actions, compute once. Every pin in
    the package goes through here; call it as ``df.transform(pin)``, or
    ``pin(df, eager=True)`` where the frame must exist before the next
    line runs (an iterative round's convergence probe, a count).

    A lazy pin defers only the frame's last stage, not all of its work.
    Building the pinned frame hands Spark the physical plan's RDD, and
    under AQE that plan is final only once every shuffle below it has
    run: so the pin call itself runs one job per shuffle map stage of
    the frame's plan, and the first action runs the rest. A plan with
    no exchange runs nothing until an action.

    The medium follows the deployment, not the caller:

    - No checkpoint dir (the default): ``localCheckpoint``. Blocks live
      in executor storage with no lineage behind them, so no filesystem
      round-trip, but on a cluster the loss of one executor fails the
      job unrecoverably.
    - A checkpoint dir set by ``spark.checkpoint.dir`` or by the
      deployment's ``SparkContext.setCheckpointDir``: reliable
      ``checkpoint`` to that dir. The pin survives executor loss at the
      cost of a write per pin. Nothing in the engine sets the dir.

    The reliable path must not compute the frame twice. A bare lazy
    ``checkpoint`` does: the first action computes the frame, then Spark
    runs a second job that recomputes the lineage to write the files.
    So the reliable checkpoint is stacked on a local pin of the same
    eagerness. A lazy pin's first action fills the local pin's blocks,
    and the write job that follows reads them; Spark completes only the
    outermost marked checkpoint, so the inner pin keeps its lineage, and
    a block lost before the write is recomputed rather than fatal. An
    eager pin computes the frame in the local pin's own job and the
    write job reads its blocks: so an ``observe()`` metric on the frame
    holds the real value once the pin returns. Under a lazy inner pin
    the metric would be posted, empty, before any job ran.

    Cleanup: local pin blocks are freed once the frame is dereferenced.
    Reliable checkpoint files are not deleted unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``; an
    iterative run otherwise leaves one snapshot per round in the store
    for the caller or the cluster to reap.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager)
    return df.localCheckpoint(eager).checkpoint(eager)


def _default_driver_memory() -> str:
    """48g, or half the machine's physical memory when that is less: a
    driver heap the box cannot back lets the JVM fill the memory and get
    killed."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    except (AttributeError, OSError, ValueError):  # no sysconf names
        return "48g"
    return f"{min(48 * 1024, half_mb)}m"


def _usable_cpus() -> int:
    """The CPUs this process may run on (its affinity mask), or the
    machine's count where the platform has no affinity call."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# Spark's FileSystem-API streaming checkpoint manager; `get_spark` picks it
# for local masters only.
_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _is_local_master(master: str) -> bool:
    """True for the one-machine masters: ``local``, ``local[n]``,
    ``local[*]`` and ``local[n,f]``."""
    return master.startswith("local")


def get_spark(
    app_name: str = "social_and_media_data_ingestion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session, ``local[n]`` with ``n`` shuffle partitions
    unless given: ``n`` is ``SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may use. ``extra_conf`` is applied last, over the
    defaults below; a cluster deployment sets there what the local
    defaults leave off, e.g. runtime bloom filters on big joins
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``: their build
    stages cost ~6x at sf<=0.1).

    When the session's master is local, stateful streams write their
    checkpoints (offset and commit logs, state store files and their
    checksum files, the file sink's ``_spark_metadata``) through Spark's
    ``FileSystemBasedCheckpointFileManager`` instead of its FileContext
    default, unless the caller's ``extra_conf`` or the running session
    already names a manager. Without Hadoop's native library, the
    FileContext manager's rename of each temp file into place calls
    ``FileUtil.readLink``, which forks a ``readlink`` process two or more
    times per file: about 830 forks in a five-batch pass of the
    benchmark's dedup -> window -> parquet stream. On ``file:`` the two
    managers rename alike: FileContext's
    ``FileSystem.rename(src, dst, Rename)`` stats ``dst`` (the fork)
    and then calls ``rename(src, dst)``; the FileSystem manager checks
    ``exists(dst)`` and calls the same ``rename(src, dst)``. Both keep
    Hadoop's ``.crc`` files and Spark's checkpoint checksums. Cluster
    masters keep the FileContext manager, whose rename is atomic with
    overwrite on HDFS."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_usable_cpus())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): measured r13 (same-
        # weather A/B at sf0.1) er_resolution_pipeline -22%,
        # corpus_full_curation -22%, graph_triangle_suppliers -17%,
        # lake_merge_upsert -12%. Failure mode (r13 ADVICE): unlike SMJ,
        # ShuffledHashJoinExec's build-side hash relation does NOT
        # spill — an oversized or skewed build partition OOMs the task.
        # The exposure is bounded, not zero: the planner only prefers
        # SHJ when the build side's ESTIMATED size is under
        # autoBroadcastJoinThreshold * shuffle.partitions AND 3x smaller
        # than the probe side (so stats-less pinned frames keep SMJ —
        # their iterative joins are steered per-operator with
        # SHUFFLE_HASH hints where the build side is provably bounded),
        # and AQE's skew-join splitting covers shuffled-hash joins for
        # skew it detects. A single giant key it cannot split remains
        # the residual OOM vector at cluster scale — revalidate at a
        # larger SF before hardening this default off-local.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in the loader (Spark timestamps are micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The master actually running: getOrCreate may hand back an existing
    # session started elsewhere.
    if (
        _is_local_master(spark.sparkContext.master)
        and spark.conf.get(_CHECKPOINT_MANAGER_CONF, None) is None
    ):
        spark.conf.set(_CHECKPOINT_MANAGER_CONF, _FS_CHECKPOINT_MANAGER)
    return spark
