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

import decimal
import functools
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from social_and_media_data_ingestion_spark.session import pin

SALT_COL = "__salt"


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


#: partition-id column of the prefix pass's pinned frame
_PID = "__prefix_pid"
#: context of the prefix folds' Decimal arithmetic: Python's default
#: keeps 28 significant digits, which rounds sums of Spark's 38-digit
#: decimals
_DECIMALS = decimal.Context(prec=76)


def _ranged_sorted_pin(df: DataFrame, cols: Sequence[Column]) -> DataFrame:
    """Range-partition on the sort key, SORT WITHIN each partition, tag
    the partition id, and pin it lazily. With the sort done BEFORE the
    pin, the second job computes per-partition prefixes with a map-only
    pass over the pinned blocks — a Window.partitionBy(pid) over the
    checkpointed frame (which reports UnknownPartitioning) would insert
    a SECOND full Exchange (hash on pid) plus the sort. One full-data
    shuffle per call instead of two (guide §2.4).

    The range shuffle is left UN-sized, so AQE coalesces it from the map
    stage's ACTUAL output bytes (advisoryPartitionSizeInBytes) —
    scale-adaptive by construction: a few-MB local frame collapses to
    1-2 partitions (fewer per-task Python round-trips for the Arrow
    prefix pass, a measured ~2x on sub-second queries), a 100 TB frame
    gets advisory-sized partitions, and no constant is tuned for either.
    AQE's coalescing merges ADJACENT shuffle partitions, so the global
    range order survives and the pid column (stamped AFTER the coalesced
    read) still enumerates partitions in sort order."""
    return (
        df.repartitionByRange(*cols)
        .sortWithinPartitions(*cols)
        .withColumn(_PID, F.spark_partition_id())
        .transform(pin)
    )


class _Prefix(NamedTuple):
    """One prefix operator of :func:`_prefix_pass`."""

    #: per-partition partial aggregate of a value column (F.sum, F.min)
    partial: Callable[[Column], Column]
    #: NULL-skipping binary combine of two partials, or of a running
    #: value and an offset (:func:`_add2`, :func:`_min2`)
    fold: Callable[[object, object], object]
    #: per-batch Arrow kernel: (values, carried run, partition offset,
    #: Arrow output type) -> (output array, carried run)
    kernel: Callable
    #: output Spark type for a value column's type
    out_type: Callable[[DataType], DataType]


def _prefix_pass(
    df: DataFrame,
    order_by: Sequence[Column | str],
    values: Sequence[Column | str],
    out_cols: Sequence[str],
    op: _Prefix,
) -> tuple[DataFrame, list]:
    """The distributed prefix scan behind every global order statistic
    (row number, ntile, running sum, running min): exact
    `op OVER (ORDER BY order_by ROWS UNBOUNDED PRECEDING)` per value,
    WITHOUT an unpartitioned window (which moves the whole table through
    ONE task — correct at sf0.1, a funnel at 100 TB). The same trick as
    RDD.zipWithIndex, in two jobs and ONE full-data shuffle:

    1. range-partition on the sort key with the sort FOLDED INTO the
       shuffle, pin (see :func:`_ranged_sorted_pin`);
    2. collect one partial per (partition, value) — bounded
       O(partitions) driver state — and fold them left to right into
       each partition's offset (the fold of every preceding partition,
       None when none holds a non-NULL value) and the grand totals;
    3. a MAP-ONLY Arrow pass runs `op.kernel` over each pre-sorted
       pinned partition, carrying the running value across batches and
       combining it with the partition's offset.

    `values` are column names, or expressions evaluated AFTER the pin
    (the rank's literal 1), so the shuffle never carries them and the
    output drops them with the pid. Value `values[i]` becomes column
    `out_cols[i]`; the other input columns pass through unchanged.

    Determinism: RangePartitioner's sampled boundaries are NOT stable
    across jobs (AQE can re-plan the upstream stage between runs,
    changing sample seeds), so the ranged frame is materialized ONCE via
    a lazy pin (:func:`session.pin`): the partials job materializes the
    blocks as it aggregates, and the prefix job reads the same blocks.
    The expensive upstream plan executes once, not twice. `order_by`
    must be a total order for deterministic per-row output (with ties
    the intra-tie prefixes depend on tie order, as with any ROWS frame).

    The offsets make the result independent of the partition count: a
    row whose own partition has seen only NULLs so far carries its
    predecessors' fold, exactly as one window over the global order.
    Returns (frame, per-value grand totals — None for a value with no
    non-NULL row)."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = _ranged_sorted_pin(df, cols)
    val_names = [
        v if isinstance(v, str) else f"__prefix_v{i}" for i, v in enumerate(values)
    ]
    added = {n: v for n, v in zip(val_names, values) if not isinstance(v, str)}
    src = ranged.withColumns(added)
    parts = src.groupBy(_PID).agg(*[op.partial(v) for v in val_names]).collect()
    offsets: list[dict[int, object]] = [{} for _ in val_names]
    totals: list[object] = [None] * len(val_names)
    with decimal.localcontext(_DECIMALS):
        for row in sorted(parts, key=lambda r: r[0]):
            for i, off in enumerate(offsets):
                off[row[0]] = totals[i]
                totals[i] = op.fold(totals[i], row[i + 1])

    keep = [f for f in src.schema.fields if f.name != _PID and f.name not in added]
    out_dts = [op.out_type(src.schema[v].dataType) for v in val_names]
    out_schema = T.StructType(
        keep + [T.StructField(c, dt) for c, dt in zip(out_cols, out_dts)]
    )
    names_in = src.columns
    keep_idx = [names_in.index(f.name) for f in keep]
    val_idx = [names_in.index(v) for v in val_names]
    pid_idx = names_in.index(_PID)
    names_out = out_schema.names
    arrow_types = [to_arrow_type(dt) for dt in out_dts]
    kernel = op.kernel

    def _scan(it):
        import pyarrow as pa

        runs = [None] * len(val_idx)  # this partition's running values
        offs = None  # this partition's offsets, resolved from the pid col
        for rb in it:
            if rb.num_rows == 0:
                continue
            if offs is None:
                p = rb.column(pid_idx)[0].as_py()
                offs = [o.get(p) for o in offsets]
            outs = []
            for k, vi in enumerate(val_idx):
                out, runs[k] = kernel(rb.column(vi), runs[k], offs[k], arrow_types[k])
                outs.append(out)
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in keep_idx] + outs, names=names_out
            )

    return src.mapInArrow(_scan, out_schema), totals


def _sum_out_type(dt: DataType) -> DataType:
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


def _add2(a, b):
    """NULL-skipping binary sum, the running-sum counterpart of
    :func:`_min2`: None only when both sides are None."""
    if a is None:
        return b
    if b is None:
        return a
    return a + b


def _prefix_sum_batches(arr, run, off, out_type):
    """Running-sum kernel of :func:`_prefix_pass`: sequential
    (left-to-right) prefix sums over one batch of a pre-sorted
    partition, plus the partition's offset.

    Exactness contract: values accumulate one row at a time in input
    order — the association order of the ROWS-frame incremental window —
    and the offset is added LAST, per row. NULL values are skipped (the
    running value stays whatever it was); a row is NULL only while
    neither its partition nor any predecessor has seen a non-NULL value.
    Integers ride Python ints and decimals Python Decimals (both exact);
    doubles reproduce the window's sequential IEEE adds. Null-free
    integer batches take a vectorized numpy cumsum (exact in int64)
    behind a conservative magnitude guard; everything else falls back to
    the per-row exact loop."""
    import numpy as np
    import pyarrow as pa

    if (
        pa.types.is_integer(arr.type)
        and arr.null_count == 0
        and (off is None or isinstance(off, int))
        and (run is None or isinstance(run, int))
    ):
        v = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        # guard: every intermediate |prefix + offset| is bounded by
        # |carry| + |offset| + sum|values| — well under 2^62 means the
        # int64 cumsum cannot wrap
        bound = (
            abs(run or 0)
            + abs(off or 0)
            + float(np.abs(v.astype(np.float64)).sum())
        )
        if bound < float(2**62):
            c = np.cumsum(v) + (run or 0)
            return pa.array(c + (off or 0), type=out_type), int(c[-1])
    out = []
    with decimal.localcontext(_DECIMALS):
        for v in arr.to_pylist():
            run = _add2(run, v)
            out.append(_add2(run, off))
    return pa.array(out, type=out_type), run


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


def _prefix_min_batches(arr, run, off, out_type, exclusive=False):
    """Running-min kernel of :func:`_prefix_pass`: each row's running min
    over its partition so far combined with the min of all predecessor
    partitions. With `exclusive` a row sees only the rows strictly
    before it, so the globally-first row gets NULL.

    Exactness contract: NULL values are skipped and the output is NULL
    until the first non-NULL of the global order; NaN doubles sort above
    every non-NaN (:func:`_min2`); values accumulate by Python
    comparison, which agrees with Spark's ordering for the orderable
    types (int / float / Decimal / str / date / timestamp — str because
    UTF-8 byte order equals code-point order). Null-free INTEGER batches
    take a numpy cumulative min (int64 exact; NaN/NULL semantics don't
    arise); an exclusive partition's first batch needs a predecessor for
    its row 0, so it stays on the exact per-row loop."""
    import numpy as np
    import pyarrow as pa

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
        res = np.concatenate([[run], acc[:-1]]) if exclusive else acc
        if off is not None:
            res = np.minimum(res, off)
        return pa.array(res).cast(out_type), int(acc[-1])
    out = []
    for v in arr.to_pylist():
        if exclusive:
            out.append(_min2(run, off))
        run = _min2(run, v)
        if not exclusive:
            out.append(_min2(run, off))
    return pa.array(out, type=out_type), run


_SUM = _Prefix(F.sum, _add2, _prefix_sum_batches, _sum_out_type)


def _global_rank(
    df: DataFrame, order_by: Sequence[Column | str], out_col: str
) -> tuple[DataFrame, int]:
    """Exact global 1-based row_number over `order_by` plus the total row
    count: a running sum over a literal 1 (:func:`_prefix_pass`), whose
    grand total is the row count. `order_by` must be a total order for
    deterministic output."""
    out, (n,) = _prefix_pass(df, order_by, [F.lit(1)], [out_col], _SUM)
    return out, n or 0


def global_row_number(
    df: DataFrame, order_by: Sequence[Column | str], out_col: str = "rn"
) -> DataFrame:
    """Exact global row_number over `order_by` with no global-sort funnel
    (see :func:`_global_rank` — this is that primitive minus the total).
    `order_by` must be a total order (include a unique tie-break column)
    for deterministic output."""
    return _global_rank(df, order_by, out_col)[0]


def _ntile_bucket(rn: Column, n: int, k: int) -> Column:
    """Standard SQL `ntile(k)` bucket of 1-based rank `rn` among `n` rows:
    the first ``n % k`` buckets get one extra row."""
    base, rem = divmod(n, k)
    cut = rem * (base + 1)
    bucket = F.floor((rn - 1) / (base + 1)) + 1
    if base > 0:
        rest = F.floor((rn - 1 - cut) / base) + rem + 1
        bucket = F.when(rn <= cut, bucket).otherwise(rest)
    return bucket.cast("long")


def global_ntile(
    df: DataFrame,
    k: int,
    order_by: Sequence[Column | str],
    out_col: str = "bucket",
) -> DataFrame:
    """Exact `ntile(k) OVER (ORDER BY ...)` without the single-partition
    window sort, computed from the distributed global rank — results
    hash-match the window spelling on any engine."""
    rn = "__ntile_rn"
    ranked, n = _global_rank(df, order_by, rn)
    return ranked.withColumn(out_col, _ntile_bucket(F.col(rn), n, k)).drop(rn)


def global_running_sum(
    df: DataFrame,
    order_by: Sequence[Column | str],
    value_col: str,
    out_col: str = "running_sum",
    return_total: bool = False,
) -> "DataFrame | tuple[DataFrame, object]":
    """Exact global `sum(value_col) OVER (ORDER BY order_by ROWS UNBOUNDED
    PRECEDING)` WITHOUT a single-partition window (the sweep-line
    primitive: concurrency counting, running balances, cumulative
    distributions); see :func:`_prefix_pass` and, for the exactness
    contract, :func:`_prefix_sum_batches`.

    With `return_total=True` returns `(df, total)` where `total` is the
    exact grand total of `value_col` (a native Python int / Decimal /
    float folded from the partials the offsets already paid for, None
    when every value is NULL, as SQL's SUM): callers that need the
    scalar total — Pareto shares, normalizations — get it for FREE
    instead of re-executing the prefix pass's lineage with a second
    aggregate."""
    out, (total,) = _prefix_pass(df, order_by, [value_col], [out_col], _SUM)
    return (out, total) if return_total else out


def global_running_sums(
    df: DataFrame,
    order_by: Sequence[Column | str],
    value_cols: Sequence[str],
    out_suffix: str = "_cum",
) -> DataFrame:
    """Exact global cumulative sums of SEVERAL value columns in one
    shared `order_by` pass: each value column `v` gains `v + out_suffix`.
    One ranged materialization serves all columns; calling the
    single-column helper k times would range-partition and pin k times
    and, worse, could sample DIFFERENT range boundaries per call."""
    out_cols = [v + out_suffix for v in value_cols]
    return _prefix_pass(df, order_by, list(value_cols), out_cols, _SUM)[0]


def global_running_min(
    df: DataFrame,
    order_by: Sequence[Column | str],
    value_col: str,
    out_col: str = "running_min",
    exclusive: bool = False,
) -> DataFrame:
    """Exact global running MIN of `value_col` in `order_by` order
    WITHOUT a single-partition window — the prefix-extremum primitive
    (skyline/Pareto membership, best-so-far tracking, descending-bound
    pruning); see :func:`_prefix_pass` and :func:`_prefix_min_batches`.
    With `exclusive=True` each row sees the min over rows strictly
    before it, and the globally-first row gets NULL. The output column
    keeps `value_col`'s own type (what F.min produces)."""
    kernel = functools.partial(_prefix_min_batches, exclusive=exclusive)
    op = _Prefix(F.min, _min2, kernel, lambda dt: dt)
    return _prefix_pass(df, order_by, [value_col], [out_col], op)[0]
