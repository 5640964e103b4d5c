"""Scale machinery: skew mitigation and co-located (shuffle-free) joins.

At 100 TB the failure modes are never correctness, they are (a) one hot
key pinning one reducer (skew) and (b) re-shuffling the same fact table
for every join. This module gives the engine explicit levers for both,
on top of the always-on AQE (`session.py` enables
`spark.sql.adaptive.skewJoin` which splits oversized SMJ partitions at
runtime; the salting here is for the cases AQE can't fix — skewed
*aggregation* keys and skewed *broadcast-ineligible* joins).

- `salted_aggregate`: two-phase agg — partial on (keys + salt), final on
  keys. Spark's hash aggregate already does map-side partial aggregation
  for algebraic functions, so this matters for *holistic* aggs
  (collect_list/set, exact distinct) where every value of a hot key
  would otherwise land in one task.
- `with_salt` / `replicate_for_salt` / `salted_join`: classic N-way
  salted equi-join — the big side gets a uniform salt in [0, n), the
  small-but-not-broadcastable side is replicated n ways, and the join
  key becomes (key, salt). Row-preserving for inner/left joins.
- `write_bucketed` / `read_bucketed`: persist a table hash-bucketed (and
  sorted) by its join key so repeated joins/aggregations on that key run
  with ZERO exchange — the 100 TB answer to "we join on user_id every
  day". Verified shuffle-free in tests via the physical plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from social_and_media_data_ingestion_spark.session import pin

SALT_COL = "__salt"


def _default_partitions(spark: SparkSession) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating non-numeric
    values (some deployments set it to "auto" under AQE)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:
        return 32


def with_salt(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """Uniform salt in [0, n). `rand` is re-evaluated on task retry, which
    is safe here: every salt value joins against a full replica of the
    other side, so any drawn value is correct."""
    return df.withColumn(SALT_COL, F.floor(F.rand(seed) * n).cast("int"))


def replicate_for_salt(df: DataFrame, n: int) -> DataFrame:
    """Cross the (small) side with salt values 0..n-1 — n-way replication."""
    return df.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n - 1)).cast("array<int>"))
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    n: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Equi-join where `big[on]` is skewed and `small` is too large to
    broadcast: shuffle on (on + salt) spreads each hot key over n tasks.

    Only row-preserving join types are accepted: the small side is
    replicated n ways, so a right/full outer join would emit every
    unmatched small-side row n times (once per salt replica)."""
    supported = {"inner", "left", "leftouter", "left_outer", "left_semi",
                 "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in supported:
        raise ValueError(
            f"salted_join does not support how={how!r}: the n-way replicated "
            "small side would duplicate unmatched right-side rows. "
            f"Supported: {sorted(supported)}"
        )
    b = with_salt(big, n, seed)
    s = replicate_for_salt(small, n)
    out = b.join(s, [*on, SALT_COL], how)
    return out.drop(SALT_COL)


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    n: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-phase aggregation for skewed keys / holistic aggs.

    `partial_aggs` run per (keys, salt); `final_aggs` merge the partials
    per keys and must reference the partial alias names, e.g.::

        salted_aggregate(events, ["user_id"],
            [F.count("*").alias("c"), F.collect_set("event_type").alias("s")],
            [F.sum("c").alias("n"),
             F.array_distinct(F.flatten(F.collect_list("s"))).alias("types")])
    """
    salted = with_salt(df, n, seed)
    partial = salted.groupBy(*keys, SALT_COL).agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 64,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist `df` hash-bucketed by `bucket_cols` as external table
    `name` at `path`. Joins/aggs between tables bucketed the same way on
    the same key execute with no Exchange on the bucketed sides."""
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table back (bucket metadata comes from the catalog,
    so this must go through the table name, not the raw path)."""
    return spark.table(name)


def _global_rank(
    df: DataFrame,
    order_by: Sequence[Column | str],
    out_col: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact global 1-based row_number WITHOUT a single-partition sort,
    plus the total row count (free: the offsets collect already paid
    for it).

    `Window.orderBy(...)` with no partition moves the whole table through
    ONE task — correct at sf0.1, a funnel at 100 TB. This is the
    distributed spelling (the same trick as RDD.zipWithIndex), and since
    the r14 opt round it is the same ONE-shuffle shape as
    :func:`global_running_sum`:

    1. range-partition on the sort key with the sort FOLDED INTO the
       shuffle, pin (see :func:`_ranged_sorted_pin`);
    2. count rows per range partition — a bounded collect of one row per
       partition (like a PQ codebook: O(partitions) driver state);
    3. a MAP-ONLY Arrow pass emits offset + position within the
       pre-sorted pinned partition. The pre-r14 spelling windowed over
       Window.partitionBy(pid), and because a checkpointed frame
       reports UnknownPartitioning, Catalyst inserted a SECOND full
       Exchange (hash on pid) + Sort into the downstream job.

    Determinism: RangePartitioner's sampled boundaries are NOT stable
    across the two jobs (AQE can re-plan the upstream stage between runs,
    changing sample seeds), so the ranged frame is materialized ONCE via
    a pin (:func:`session.pin`) — both the count job and the rank job
    read the same blocks. This also means the expensive upstream plan
    executes once, not twice. The pin is LAZY: the count job — the first
    action — materializes the blocks as it counts. `order_by` must be a
    total order for deterministic output.
    Returns (df with `out_col`, total row count).
    """
    from pyspark.sql import types as T

    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    pid = "__rank_pid"
    ranged = _ranged_sorted_pin(df, cols, num_partitions, pid)
    counts = sorted(
        ranged.groupBy(pid).count().collect(), key=lambda r: r[pid]
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in counts:
        offsets[row[pid]] = acc
        acc += row["count"]
    base_fields = [f for f in ranged.schema.fields if f.name != pid]
    out_schema = T.StructType(
        base_fields + [T.StructField(out_col, T.LongType())]
    )
    names_in = [f.name for f in ranged.schema.fields]
    keep_idx = [i for i, n in enumerate(names_in) if n != pid]
    pid_idx = names_in.index(pid)
    names_out = [names_in[i] for i in keep_idx] + [out_col]

    def _rank(it):
        import numpy as np
        import pyarrow as pa

        pos = None  # next 1-based rank within this partition's order
        for rb in it:
            if rb.num_rows == 0:
                continue
            if pos is None:
                pos = offsets.get(rb.column(pid_idx)[0].as_py(), 0) + 1
            # np.arange -> zero-copy Arrow, vs a per-element Python range
            rn = pa.array(np.arange(pos, pos + rb.num_rows, dtype=np.int64))
            pos += rb.num_rows
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in keep_idx] + [rn], names=names_out
            )

    return ranged.mapInArrow(_rank, out_schema), acc


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column | str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global row_number over `order_by` with no global-sort funnel
    (see :func:`_global_rank` — this is that primitive minus the total).
    `order_by` must be a total order (include a unique tie-break column)
    for deterministic output.

    One full-data shuffle (r13 opt round; unified with `_global_rank` in
    r14): the sort rides the range shuffle, the per-partition COUNTS are
    a bounded collect, and the rank column is a map-only Arrow pass
    (offset + position within the pre-sorted pinned partition) instead
    of a Window.partitionBy(pid) that re-exchanged the whole frame."""
    out, _n = _global_rank(df, order_by, out_col, num_partitions)
    return out


def _ranged_sorted_pin(
    df: DataFrame, cols: Sequence[Column], n_parts: int | None, pid: str
) -> DataFrame:
    """Range-partition on the sort key, SORT WITHIN each partition, tag
    the partition id, and pin it lazily. Shared by the prefix-pass
    primitives below (r13 opt round): with the sort done
    BEFORE the pin, the second job can compute per-partition prefixes
    with a map-only pass over the pinned blocks — the old spelling left
    the sort to a Window.partitionBy(pid), and because a checkpointed
    frame reports UnknownPartitioning, Catalyst inserted a SECOND full
    Exchange (hash on pid) plus the sort into the downstream job. One
    full-data shuffle per call instead of two (guide §2.4).

    Partition-count sizing (r14): with `n_parts=None` the range shuffle
    is left UN-sized, so AQE coalesces it from the map stage's ACTUAL
    output bytes (advisoryPartitionSizeInBytes) — scale-adaptive by
    construction: a few-MB local frame collapses to 1-2 partitions
    (fewer per-task Python round-trips for the Arrow prefix pass, a
    measured ~2x on sub-second queries), a 100 TB frame gets
    advisory-sized partitions, and no constant is tuned for either.
    AQE's coalescing merges ADJACENT shuffle partitions, so the global
    range order survives and the pid column (stamped AFTER the
    coalesced read) still enumerates partitions in sort order. An
    explicit `n_parts` (tests; callers needing a floor) pins the count
    and disables coalescing, as before."""
    ranged = (
        df.repartitionByRange(n_parts, *cols)
        if n_parts is not None
        else df.repartitionByRange(*cols)
    )
    return (
        ranged.sortWithinPartitions(*cols)
        .withColumn(pid, F.spark_partition_id())
        .transform(pin)
    )


def _sum_out_type(dt: "types.DataType") -> "types.DataType":
    """Result type of Spark's plain SUM over a column of type `dt`.

    NOTE (r13 ADVICE): for decimals this is decimal(min(p+10,38), s) —
    Spark's SUM result type — which is ONE digit narrower than what the
    pre-r13 window spelling emitted (its sum-plus-offset ADD produced
    decimal(min(p+11,38), s)). Both in-repo callers use p>=30 where the
    two cap at 38 and coincide; a new caller with p<=27 decimals gets
    the SUM type, not the old ADD type."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return T.DecimalType(min(dt.precision + 10, 38), dt.scale)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return T.DoubleType()
    return T.LongType()


def _prefix_sum_batches(
    it, keep_idx, names, val_idx, out_types, offsets, pid_idx
):
    """mapInArrow body shared by the running-sum primitives: sequential
    (left-to-right) prefix sums over the pre-sorted partition, one
    running value per requested column, plus the partition's offset.

    Exactness contract (bit-compatible with the Window spelling it
    replaced): values accumulate one row at a time in input order —
    the same association order as the ROWS-frame incremental window —
    and the offset is added LAST, per row, exactly as `sum OVER w +
    element_at(off_map, pid)` did. NULL values are skipped (the
    running value stays whatever it was) and the output is NULL until
    the partition's first non-NULL value. That NULL-until-first-non-NULL
    window is PARTITION-LOCAL (r13 ADVICE): a row before its range
    partition's first non-NULL yields NULL even when earlier partitions
    contributed non-NULL totals (NULL + non-NULL offset was NULL in the
    pre-r13 Window.partitionBy(pid) spelling too — bit-compatible with
    what this replaced, though both diverge from a single-window global
    running sum on that edge; pinned by
    test_running_sum_null_prefix_is_partition_local).
    Integers ride Python ints and decimals Python Decimals (both
    exact); doubles reproduce the window's sequential IEEE adds.
    Null-free integer batches take a vectorized numpy cumsum (exact in
    int64) behind a conservative magnitude guard; everything else falls
    back to the per-row exact loop."""
    import numpy as np
    import pyarrow as pa

    runs = [None] * len(val_idx)  # local prefix per value column
    offs = None  # this partition's offsets, resolved from the pid col
    for rb in it:
        if rb.num_rows == 0:
            continue
        if offs is None:
            p = rb.column(pid_idx)[0].as_py()
            offs = [o.get(p) for o in offsets]
        outs = []
        for k, vi in enumerate(val_idx):
            arr = rb.column(vi)
            run = runs[k]
            off = offs[k]
            if (
                pa.types.is_integer(arr.type)
                and arr.null_count == 0
                and isinstance(off, int)
                and (run is None or isinstance(run, int))
            ):
                v = arr.to_numpy(zero_copy_only=False).astype(np.int64)
                # guard: every intermediate |prefix + offset| is bounded
                # by |carry| + |offset| + sum|values| — well under 2^62
                # means the int64 cumsum cannot wrap
                bound = (
                    abs(run or 0)
                    + abs(off)
                    + float(np.abs(v.astype(np.float64)).sum())
                )
                if bound < float(2**62):
                    c = np.cumsum(v) + (run or 0)
                    runs[k] = int(c[-1])
                    outs.append(pa.array(c + off, type=out_types[k]))
                    continue
            vals = arr.to_pylist()
            out = []
            for v in vals:
                if v is not None:
                    run = v if run is None else run + v
                out.append(None if run is None else run + off)
            runs[k] = run
            outs.append(pa.array(out, type=out_types[k]))
        yield pa.RecordBatch.from_arrays(
            [rb.column(i) for i in keep_idx] + outs, names=names
        )


def _running_sums_impl(
    df: DataFrame,
    order_by: Sequence[Column | str],
    value_cols: Sequence[str],
    out_cols: Sequence[str],
    num_partitions: int | None,
    pid: str,
) -> DataFrame:
    """Shared engine of :func:`global_running_sum` /
    :func:`global_running_sums`: ONE range shuffle + in-shuffle sort +
    pin, one bounded per-partition-totals collect (O(partitions) driver
    state), then a MAP-ONLY Arrow pass adds every prefix column — no
    second exchange, no window (see :func:`_ranged_sorted_pin`)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = _ranged_sorted_pin(df, cols, num_partitions, pid)
    totals = sorted(
        ranged.groupBy(pid)
        .agg(*[F.sum(v).alias(f"__s{i}") for i, v in enumerate(value_cols)])
        .collect(),
        key=lambda r: r[pid],
    )
    # per-column {pid -> sum of all PRECEDING partitions}, as native
    # Python values (int / Decimal / float — all exact for their type;
    # the old literal-map spelling needed a string-cast workaround for
    # decimals past ~1e19, which plain Python Decimals don't)
    offsets: list[dict[int, object]] = []
    grand_totals: list[object] = []
    in_types = [df.schema[v].dataType for v in value_cols]
    for i, dt in enumerate(in_types):
        acc = Decimal(0) if isinstance(dt, T.DecimalType) else 0
        per: dict[int, object] = {}
        for row in totals:
            per[row[pid]] = acc
            acc += row[f"__s{i}"] or 0
        offsets.append(per)
        grand_totals.append(acc)
    out_dts = [_sum_out_type(dt) for dt in in_types]
    base_fields = [f for f in ranged.schema.fields if f.name != pid]
    out_schema = T.StructType(
        base_fields + [T.StructField(oc, dt) for oc, dt in zip(out_cols, out_dts)]
    )
    names_in = [f.name for f in ranged.schema.fields]
    keep_idx = [i for i, n in enumerate(names_in) if n != pid]
    pid_idx = names_in.index(pid)
    val_idx = [names_in.index(v) for v in value_cols]
    names_out = [names_in[i] for i in keep_idx] + list(out_cols)

    def _to_arrow(dt):
        import pyarrow as pa

        if isinstance(dt, T.DecimalType):
            return pa.decimal128(dt.precision, dt.scale)
        if isinstance(dt, T.DoubleType):
            return pa.float64()
        return pa.int64()

    out_types = [_to_arrow(dt) for dt in out_dts]

    def _run(it):
        yield from _prefix_sum_batches(
            it, keep_idx, names_out, val_idx, out_types, offsets, pid_idx
        )

    return ranged.mapInArrow(_run, out_schema), grand_totals


def global_running_sum(
    df: DataFrame,
    order_by: Sequence[Column | str],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
    return_total: bool = False,
) -> "DataFrame | tuple[DataFrame, object]":
    """Exact global cumulative sum of `value_col` in `order_by` order
    WITHOUT a single-partition window (the sweep-line primitive:
    concurrency counting, running balances, cumulative distributions).

    Two jobs, ONE full-data shuffle (r13 opt round): range-partition on
    the sort key with the sort folded into the shuffle, pin, collect
    per-partition TOTALS (bounded O(partitions) driver state), then a
    map-only Arrow pass emits each partition's sequential prefix sum
    plus its predecessors' total — bit-compatible with the
    `sum OVER (ROWS UNBOUNDED PRECEDING..CURRENT)` + offset spelling it
    replaced (see :func:`_prefix_sum_batches` for the exactness
    contract), but without the second Exchange that the checkpointed
    frame's UnknownPartitioning forced under Window.partitionBy(pid).
    `order_by` should be a total order for fully deterministic per-row
    output (with ties the intra-tie prefixes depend on tie order, as
    with any ROWS frame).

    The ranged frame is pinned (lazily — the totals job materializes
    as it aggregates, see :func:`_global_rank`) so the totals job and
    the prefix-sum job see the SAME partitioning (range boundaries are
    sampled and not replay-stable).

    With `return_total=True` returns `(df, total)` where `total` is the
    exact grand total of `value_col` (a native Python int / Decimal /
    float assembled from the per-partition totals the offsets collect
    already paid for): callers that need the scalar total — Pareto
    shares, normalizations — get it for FREE instead of re-executing
    the prefix pass's lineage with a second aggregate (the prefix
    output is not pinned; each consumer re-runs the Arrow pass)."""
    out, tots = _running_sums_impl(
        df, order_by, [value_col], [out_col], num_partitions, "__rsum_pid"
    )
    if return_total:
        return out, tots[0]
    return out


def global_ntile(
    df: DataFrame,
    k: int,
    order_by: Sequence[Column | str],
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact `ntile(k) OVER (ORDER BY ...)` without the single-partition
    window sort. Standard SQL ntile semantics (first ``n % k`` buckets get
    one extra row), computed from the distributed global rank — results
    hash-match the window spelling on any engine."""
    rn = "__ntile_rn"
    ranked, n = _global_rank(df, order_by, rn, num_partitions)
    base, rem = divmod(n, k)
    cut = rem * (base + 1)
    first = F.floor((F.col(rn) - 1) / (base + 1)) + 1
    if base > 0:
        rest = F.floor((F.col(rn) - 1 - cut) / base) + rem + 1
        bucket = F.when(F.col(rn) <= cut, first).otherwise(rest)
    else:
        bucket = first
    return ranked.withColumn(out_col, bucket.cast("long")).drop(rn)


def _min2(a, b):
    """NaN-aware, NULL-skipping binary min matching F.least / F.min:
    NULLs are skipped (None only when both sides are None), and NaN
    sorts ABOVE every non-NaN value (Spark's ordering), unlike plain
    Python `<` which makes every NaN comparison False."""
    if a is None:
        return b
    if b is None:
        return a
    if isinstance(a, float) and a != a:
        return b
    if isinstance(b, float) and b != b:
        return a
    return a if a <= b else b


def global_running_min(
    df: DataFrame,
    order_by: Sequence[Column | str],
    value_col: str,
    out_col: str = "running_min",
    num_partitions: int | None = None,
    exclusive: bool = False,
) -> DataFrame:
    """Exact global running MIN of `value_col` in `order_by` order
    WITHOUT a single-partition window — the prefix-extremum primitive
    (skyline/Pareto membership, best-so-far tracking, descending-bound
    pruning).

    Same ONE-shuffle shape as :func:`global_running_sum` (migrated r14
    opt round): range-partition with the sort folded into the shuffle,
    pin, collect per-partition MINIMA (bounded O(partitions) driver
    state), then a MAP-ONLY Arrow pass emits each row's running min
    combined with the prefix-min of all predecessor partitions — no
    Window.partitionBy(pid), so no second full Exchange (the pre-r14
    spelling paid one because the pinned frame reports
    UnknownPartitioning). With `exclusive=True` each row sees the min
    over rows strictly before it, and the globally-first row gets NULL
    (there is no predecessor). `order_by` should be a total order for
    deterministic output.

    Exactness contract (bit-compatible with the window spelling it
    replaced): NULL values are skipped and the output is NULL until the
    first non-NULL of the global order, exactly like
    `least(min(v) OVER w, offset)` with least's NULL-skip; NaN doubles
    sort above every non-NaN (``_min2``); values accumulate by Python
    comparison, which agrees with Spark's ordering for the orderable
    types (int / float / Decimal / str / date / timestamp — str because
    UTF-8 byte order equals code-point order). The output column keeps
    `value_col`'s own type (what F.min produced; the old literal-map
    offset could in principle widen fractional decimals through
    least(min, lit) unification — no in-repo caller hit that).

    The ranged frame is pinned (lazily) so the minima job and the
    prefix job see the SAME sampled range boundaries (see
    :func:`_global_rank` for why)."""
    from pyspark.sql import types as T

    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    pid = "__rmin_pid"
    ranged = _ranged_sorted_pin(df, cols, num_partitions, pid)
    minima = sorted(
        ranged.groupBy(pid).agg(F.min(value_col).alias("m")).collect(),
        key=lambda r: r[pid],
    )
    # offset for partition p = min over partitions < p (absent for the
    # first partition and for an all-NULL prefix)
    offsets: dict[int, object] = {}
    acc = None
    for row in minima:
        if acc is not None:
            offsets[row[pid]] = acc
        acc = _min2(acc, row["m"])
    in_dt = df.schema[value_col].dataType
    base_fields = [f for f in ranged.schema.fields if f.name != pid]
    out_schema = T.StructType(base_fields + [T.StructField(out_col, in_dt)])
    names_in = [f.name for f in ranged.schema.fields]
    keep_idx = [i for i, n in enumerate(names_in) if n != pid]
    pid_idx = names_in.index(pid)
    val_idx = names_in.index(value_col)
    names_out = [names_in[i] for i in keep_idx] + [out_col]

    def _run(it):
        import numpy as np
        import pyarrow as pa

        run = None  # running min within this partition (NULLs skipped)
        off = None  # min over all predecessor partitions
        first = True
        for rb in it:
            if rb.num_rows == 0:
                continue
            if first:
                off = offsets.get(rb.column(pid_idx)[0].as_py())
                first = False
            arr = rb.column(val_idx)
            # Vectorized fast path: null-free INTEGER batches take a
            # numpy cumulative min (int64 exact; NaN/NULL semantics
            # don't arise). Exclusive mode needs a predecessor for
            # row 0, so its first batch per partition (run is None)
            # stays on the exact per-row loop.
            if (
                pa.types.is_integer(arr.type)
                and arr.null_count == 0
                and (off is None or isinstance(off, int))
                and (run is None or isinstance(run, int))
                and not (exclusive and run is None)
            ):
                v = arr.to_numpy(zero_copy_only=False).astype(np.int64)
                acc = np.minimum.accumulate(v)
                if run is not None:
                    acc = np.minimum(acc, run)
                if exclusive:
                    shifted = np.empty_like(acc)
                    shifted[0] = run
                    shifted[1:] = acc[:-1]
                    res = shifted
                else:
                    res = acc
                run = int(np.minimum(acc[-1], run)) if run is not None else int(acc[-1])
                if off is not None:
                    res = np.minimum(res, off)
                yield pa.RecordBatch.from_arrays(
                    [rb.column(i) for i in keep_idx]
                    + [pa.array(res).cast(arr.type)],
                    names=names_out,
                )
                continue
            out = []
            if exclusive:
                for v in arr.to_pylist():
                    out.append(_min2(run, off))
                    if v is not None:
                        run = _min2(run, v)
            else:
                for v in arr.to_pylist():
                    if v is not None:
                        run = _min2(run, v)
                    out.append(_min2(run, off))
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in keep_idx]
                + [pa.array(out, type=arr.type)],
                names=names_out,
            )

    return ranged.mapInArrow(_run, out_schema)


def global_running_sums(
    df: DataFrame,
    order_by: Sequence[Column | str],
    value_cols: Sequence[str],
    out_suffix: str = "_cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global cumulative sums of SEVERAL value columns in one
    shared `order_by` pass — same two-job shape as
    :func:`global_running_sum` (range partition once, collect one
    per-partition total PER COLUMN — still O(partitions) driver state —
    then per-partition prefix sums plus literal offsets). One ranged
    materialization serves all columns; calling the single-column
    helper k times would range-partition and checkpoint k times and,
    worse, could sample DIFFERENT range boundaries per call. Each
    value column `v` gains `v + out_suffix`. Like
    :func:`global_running_sum` this is ONE full-data shuffle (sort
    folded in) + a map-only Arrow prefix pass — no per-column windows,
    no second exchange (r13 opt round)."""
    out, _tots = _running_sums_impl(
        df,
        order_by,
        list(value_cols),
        [v + out_suffix for v in value_cols],
        num_partitions,
        "__rsums_pid",
    )
    return out
