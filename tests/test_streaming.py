"""Structured Streaming: file source -> watermark dedup / windowed agg ->
memory sink; checkpointed parquet append with availableNow drain; the
benchmark's stateful chain across a kill and restart, and the processes
its checkpointing forks."""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import shutil
from collections import Counter
from contextlib import contextmanager
from pathlib import Path

import duckdb
import numpy as np
from pyspark.sql import types as T

from social_and_media_data_ingestion_spark.streaming.pipeline import (
    append_to_parquet,
    dedup_within_watermark,
    read_stream,
    run_to_memory,
    windowed_counts,
)

ROOT = Path(__file__).resolve().parents[1]

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("kind", T.StringType()),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _rows(minute_offsets_kinds):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    return [
        (rid, base + dt.timedelta(minutes=m), kind)
        for rid, m, kind in minute_offsets_kinds
    ]


def test_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        _rows([("a", 0, "x"), ("b", 1, "x"), ("c", 6, "y"), ("d", 7, "x")]),
    )
    stream = read_stream(spark, src, SCHEMA)
    agg = windowed_counts(stream, "ts", window="5 minutes", group_cols=["kind"])
    q = run_to_memory(agg, "win_counts", output_mode="complete")
    try:
        got = {
            (r.window_start.minute, r.kind): r.n
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        assert got == {(0, "x"): 2, (5, "y"): 1, (5, "x"): 1}
    finally:
        q.stop()


def test_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        _rows([("a", 0, "x"), ("a", 0, "x"), ("b", 1, "x"), ("a", 0, "x")]),
    )
    stream = read_stream(spark, src, SCHEMA)
    dd = dedup_within_watermark(stream, "id", "ts")
    q = run_to_memory(dd, "dedup_stream")
    try:
        assert spark.sql("SELECT * FROM dedup_stream").count() == 2
    finally:
        q.stop()


def test_checkpointed_append_resume(spark, tmp_path):
    """T2/T4/T6: drain -> stop -> new data -> resume processes ONLY the new
    file (offsets from the checkpoint WAL), no duplicates."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_batch(spark, src, _rows([("a", 0, "x"), ("b", 1, "x")]))
    stream = read_stream(spark, src, SCHEMA)
    q = append_to_parquet(stream, out, ckpt)
    q.awaitTermination(60)
    assert spark.read.parquet(out).count() == 2

    _write_batch(spark, src, _rows([("c", 2, "y")]))
    q2 = append_to_parquet(read_stream(spark, src, SCHEMA), out, ckpt)
    q2.awaitTermination(60)
    got = {r.id for r in spark.read.parquet(out).collect()}
    assert got == {"a", "b", "c"}
    assert spark.read.parquet(out).count() == 3


def test_stream_static_enrich(spark, tmp_path):
    from social_and_media_data_ingestion_spark.streaming.pipeline import (
        stream_static_enrich,
    )

    src = str(tmp_path / "src_enrich")
    _write_batch(
        spark, src, _rows([("a", 0, "click"), ("b", 1, "error"), ("c", 2, "view")])
    )
    dim = spark.createDataFrame(
        [("click", "engagement"), ("error", "ops")], ["kind", "category"]
    )
    stream = read_stream(spark, src, SCHEMA)
    enriched = stream_static_enrich(stream, dim, on=["kind"])
    q = run_to_memory(enriched, "enriched_out")
    try:
        rows = {
            r["id"]: r["category"]
            for r in spark.sql("SELECT * FROM enriched_out").collect()
        }
    finally:
        q.stop()
    assert rows == {"a": "engagement", "b": "ops", "c": None}


# --- the benchmark's stateful chain: dedup -> window -> parquet ---------

WINDOW_S, DELAY_S = 60, 120
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _land_events(out: Path, n_files: int, seed: int) -> list[Path]:
    """The benchmark's stream input (`perfbench/gen.gen_stream`), 250 rows
    a file: duplicates and out-of-order rows land up to one file late."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", ROOT / "perfbench" / "gen.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.gen_stream(np.random.default_rng(seed), str(out), n_files, 250,
                   file_span_s=WINDOW_S, max_shift_files=1)
    return sorted((out / "landing").glob("*.parquet"))


@contextmanager
def _single_watermark(spark):
    """Chaining dedup_within_watermark into windowed_counts defines a
    second watermark on `ts`, which Spark 4 rejects unless stateful
    operators share one global watermark."""
    key = "spark.sql.streaming.statefulOperator.allowMultiple"
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.unset(key)


def _drain_counts(spark, landing: Path, out: Path, ckpt: Path) -> None:
    """One file per micro-batch through dedup -> window -> parquet, run
    until the landed files are drained (availableNow)."""
    src = (
        spark.readStream.format("parquet").schema(EVENTS)
        .option("maxFilesPerTrigger", 1).load(str(landing))
    )
    delay = f"{DELAY_S} seconds"
    counts = windowed_counts(
        dedup_within_watermark(src, "event_id", "ts", delay=delay),
        "ts", window=f"{WINDOW_S} seconds", delay=delay,
        group_cols=["event_type"],
    )
    q = append_to_parquet(counts, str(out), str(ckpt))
    q.awaitTermination()
    assert q.exception() is None


def _emitted(con, out: Path) -> list[tuple]:
    return con.execute(f"""
        SELECT epoch_ms(window_start) AS w, event_type, n
        FROM read_parquet('{out}/*.parquet') ORDER BY ALL""").fetchall()


def _batch_answer(con, landing: Path) -> list[tuple]:
    """DuckDB's batch answer for the stream (perfbench's StreamEvents.check):
    distinct rows counted per window, for every window the final
    watermark, max(ts) - delay, has passed."""
    return con.execute(f"""
        WITH d AS (SELECT DISTINCT event_id, ts, event_type
                   FROM read_parquet('{landing}/*.parquet')),
        b AS (SELECT epoch_ms(time_bucket(INTERVAL {WINDOW_S} SECONDS, ts)) AS w,
                     event_type FROM d)
        SELECT w, event_type, count(*) AS n FROM b
        WHERE w + {WINDOW_S * 1000}
              <= (SELECT epoch_ms(max(ts)) - {DELAY_S * 1000} FROM d)
        GROUP BY w, event_type ORDER BY ALL""").fetchall()


def test_stateful_chain_restarts_from_its_checkpoint(spark, tmp_path):
    """Drain two of four files, then drop the last commit-log entry, as a
    kill between a batch's output and its commit leaves it; land the
    rest and restart on the same checkpoint. The restart replays that
    batch and carries offsets, dedup state and window state over: the
    output is the one-shot run's, no window is emitted twice, and both
    equal DuckDB's batch answer."""
    files = _land_events(tmp_path / "gen", 4, seed=11)
    landing, out, ckpt = (tmp_path / d for d in ("landing", "out", "ckpt"))
    landing.mkdir()
    with _single_watermark(spark):
        for f in files[:2]:  # copy2 keeps the mtimes that order the files
            shutil.copy2(f, landing / f.name)
        _drain_counts(spark, landing, out, ckpt)
        last = max((ckpt / "commits").glob("[0-9]*"), key=lambda p: int(p.name))
        last.unlink()
        last.with_name(f".{last.name}.crc").unlink(missing_ok=True)
        for f in files[2:]:
            shutil.copy2(f, landing / f.name)
        _drain_counts(spark, landing, out, ckpt)
        _drain_counts(spark, files[0].parent, tmp_path / "one", tmp_path / "one_ck")

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        restarted = _emitted(con, out)
        one_shot = _emitted(con, tmp_path / "one")
        want = _batch_answer(con, landing)
    finally:
        con.close()
    assert want
    assert len({(w, t) for w, t, _ in restarted}) == len(restarted)
    assert restarted == one_shot == want


def test_stateful_stream_forks_no_readlink(spark, tmp_path):
    """A local session checkpoints without forking `readlink`.

    Without Hadoop's native library, Spark's default FileContext
    checkpoint manager forks `readlink` two or more times for every
    checkpoint file it renames into place (over a thousand times for
    this stream); the session's FileSystem-API manager forks none. A
    JFR recording of the session JVM's process starts counts them."""
    files = _land_events(tmp_path / "gen", 3, seed=5)
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        with _single_watermark(spark):
            _drain_counts(spark, files[0].parent, tmp_path / "out", tmp_path / "ck")
        # one spawn of our own shows the recording sees process starts
        jvm.java.lang.ProcessBuilder(["true"]).start().waitFor()
        rec.stop()
        dump = jvm.java.io.File(str(tmp_path / "spawns.jfr")).toPath()
        rec.dump(dump)
    finally:
        rec.close()
    spawns = Counter(
        os.path.basename(e.getString("command").split()[0])
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    )
    assert spawns["true"] == 1, spawns
    assert spawns["readlink"] == 0, spawns
