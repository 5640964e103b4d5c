"""The benchmark workloads.

``BENCHMARK.json`` lists three: the reference's ingestion path
(ingest_reddit), the curation chain built on it (curate_corpus) and the
stateful stream (stream_events). query_mix runs the same way when named
on the command line; it is left out of that list because its runs are
the noisiest, too noisy for the benchmark's bounds. Each
workload generates its inputs from the run's seed, runs one *pass*
of its work as a list of timed operations, checks the outputs outside the
timed region, and, in the traced run, turns Spark's event log and its own
spans into per-layer metrics. Engine code is reached only through public
functions: ``get_spark``, the registry builders, ``sources.reddit``,
``pipelines``, ``operators.dedup``, ``streaming.pipeline`` and ``io``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import statistics

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import eventlog
import gen

# query_mix: headline registry queries, one per operator family: a
# six-way join, the global-rank helper (its builder pins an intermediate),
# MinHash-LSH, the Aho-Corasick pandas UDF, and a builder that runs Spark
# jobs while building (triangle counting). Kept to five so that a run,
# cold pass included, fits the benchmark's time budget.
QUERY_MIX = [
    "q5_local_supplier_volume",
    "window_ntile_quartiles",
    "dedup_minhash_lsh_pairs",
    "f2_keyword_substring_5k",
    "graph_triangle_suppliers",
]

_EXCHANGE = re.compile(r"^[\s:+\-|]*(Exchange|BroadcastExchange|ShuffleExchange)\b", re.M)


def exchanges(df) -> int:
    """Force physical planning and count the Exchange nodes of the initial
    physical plan (for AQE, the plan before any stage has run)."""
    return len(_EXCHANGE.findall(df._jdf.queryExecution().executedPlan().toString()))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def canon_hash(df: pd.DataFrame) -> tuple[int, str]:
    """Row count plus an order-insensitive hash: columns sorted by name,
    floats at 6 decimals, timestamps to microseconds, rows sorted."""
    df = df[sorted(df.columns)]
    cols = []
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            cols.append(s.map(lambda v: f"{v:.6f}" if pd.notna(v) else "NULL"))
        elif pd.api.types.is_datetime64_any_dtype(s):
            cols.append(s.dt.strftime("%Y-%m-%d %H:%M:%S.%f").fillna("NULL"))
        else:
            cols.append(s.map(lambda v: "NULL" if v is None or v is pd.NA else str(v)))
    rows = sorted("\x1f".join(r) for r in zip(*cols)) if cols else []
    h = hashlib.sha256(("|".join(df.columns) + "\n" + "\n".join(rows)).encode()).hexdigest()
    return len(df), h


def oracle_matches(reg, name: str, df, data_dir: str) -> bool:
    """Compare a registry query's result ``df`` with its DuckDB oracle,
    run over views of the ``<table>.parquet`` files in ``data_dir``."""
    got = df.toPandas()
    if reg[name].oracle is None:
        return len(got) > 0
    con = duckdb.connect()
    try:
        for path in glob.glob(f"{data_dir}/*.parquet"):
            table = os.path.basename(path).removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        want = con.execute(reg[name].oracle).fetchdf()
    finally:
        con.close()
    return canon_hash(got) == canon_hash(want)


class Workload:
    """One pass = ``run_pass``; ops are (name, seconds) pairs."""

    name = ""
    conf: dict[str, str] = {}
    PASS_S: float  # nominal seconds of one steady pass on a 4-core box

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs: dict = {}
        self.last: dict = {}  # query -> DataFrame of the latest pass, for check()

    def prepare(self, rng, work: str) -> None:
        raise NotImplementedError

    def run_pass(self, pass_id: str) -> list[tuple[str, float]]:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Names of the operations whose output failed its check."""
        raise NotImplementedError

    def layers(self, agg: dict, passes: list[str]) -> dict[str, float]:
        return {}

    def staged(self, pass_id: str) -> dict[str, float]:
        return {}

    def phased(self, pass_id: str, query: str, build) -> float:
        """Build the plan, force planning, run it to the noop sink; returns
        the three phases' seconds."""
        ctx = self.ctx
        with ctx.span(pass_id, query, "build"):
            df = self.last[query] = build()
        with ctx.span(pass_id, query, "plan"):
            ctx.note(pass_id, "exchanges", exchanges(df))
        with ctx.span(pass_id, query, "exec"):
            noop(df)
        return ctx.seconds(pass_id, query)


class IngestReddit(Workload):
    name = "ingest_reddit"
    FILES, LINES, KEYWORDS = 8, 1500, 200
    PASS_S = 2.5

    def prepare(self, rng, work):
        self.dir = f"{work}/reddit"
        self.inputs = gen.gen_reddit(rng, self.dir, self.FILES, self.LINES, self.KEYWORDS)
        self.keywords = [f"kw{i:04d}x" for i in range(self.KEYWORDS)]

    def _extract(self):
        e, spark = self.ctx.engine, self.ctx.spark
        from pyspark.sql import types as T

        allow = e.io.read_csv_dim(
            spark, f"{self.dir}/subreddits.csv", T.StructType([T.StructField("subr", T.StringType())])
        )
        return e.reddit.extract_submissions(spark, f"{self.dir}/ndjson", allow, self.keywords)

    def run_pass(self, pass_id):
        io = self.ctx.engine.io

        def write(outs):
            matched, bad = outs
            io.write_parquet(matched, f"{self.dir}/out/matched")
            io.write_parquet(bad, f"{self.dir}/out/bad")

        ctx = self.ctx
        with ctx.span(pass_id, "extract", "build"):
            outs = self._extract()
        with ctx.span(pass_id, "extract", "plan"):
            ctx.note(pass_id, "exchanges", sum(exchanges(df) for df in outs))
        with ctx.span(pass_id, "extract", "exec"):
            write(outs)
        return [("extract", ctx.seconds(pass_id, "extract"))]

    def replay(self) -> tuple[list[tuple], int]:
        """Pure-Python reference semantics: json.loads with skip, integer
        created_utc or the row is bad, lowered allowlist, lowered
        substring any-match on title/selftext, "" defaults."""
        fields = ["title", "selftext", "author", "subreddit", "created_utc", "permalink"]
        with open(f"{self.dir}/subreddits.csv") as f:
            allow = {line.strip().lower() for line in f.readlines()[1:] if line.strip()}
        matched, bad = [], 0
        for path in sorted(glob.glob(f"{self.dir}/ndjson/*.zst")):
            with pa.CompressedInputStream(path, "zstd") as s:
                text = s.read().decode("utf-8", errors="replace")
            for line in text.splitlines():
                try:
                    obj = json.loads(line)
                    int(obj["created_utc"])
                except (ValueError, KeyError, TypeError):
                    bad += 1
                    continue
                if str(obj.get("subreddit", "")).lower() not in allow:
                    continue
                texts = [str(obj.get(c, "")).lower() for c in ("title", "selftext")]
                if any(k in t for t in texts for k in self.keywords):
                    matched.append(tuple(str(obj.get(f, "")) for f in fields))
        return sorted(matched), bad

    def check(self):
        want, want_bad = self.replay()
        got = pq.read_table(f"{self.dir}/out/matched").to_pylist()
        got = sorted(tuple(r[f] for f in r) for r in got)
        n_bad = pq.read_table(f"{self.dir}/out/bad").num_rows
        # from what the engine wrote: matched ÷ the lines it did not reject
        self.match_yield = len(got) / max(self.inputs["lines"] - n_bad, 1)
        self.bad_rows = n_bad
        return [] if (got == want and n_bad == want_bad) else ["extract"]

    def layers(self, agg, passes):
        files = [p for p in glob.glob(f"{self.dir}/out/*/*") if os.path.basename(p).startswith("part-")]
        return {
            "io.lines_read": statistics.median(
                eventlog.total(agg, pass_id=p, phase="exec").get("input_records", 0) for p in passes),
            "io.bad_rows": self.bad_rows,
            "io.files_written": len(files),
            "sources.match_yield": self.match_yield,
        }


class RegistryQueries(Workload):
    """Registry queries, each built, planned and run to the noop sink,
    then checked against its DuckDB oracle."""

    queries: list[str] = []

    def run_pass(self, pass_id):
        ctx = self.ctx
        return [(q, self.phased(pass_id, q, lambda q=q: ctx.reg[q].spark(ctx.spark, self.dir)))
                for q in self.queries]

    def check(self):
        return [q for q in self.queries
                if not oracle_matches(self.ctx.reg, q, self.last[q], self.dir)]


class CurateCorpus(RegistryQueries):
    name = "curate_corpus"
    DOCS = 500
    PASS_S = 7.5
    queries = ["corpus_full_curation"]

    def prepare(self, rng, work):
        self.dir = f"{work}/corpus"
        self.inputs = gen.gen_corpus(rng, self.dir, self.DOCS)

    def staged(self, pass_id):
        """Materialize each curation stage in turn through its public
        function, so each stage's span is its self time, and count the
        row funnel. The dedup.* calls repeat what ``near_dedup`` composes,
        with its parameters."""
        from pyspark.sql import functions as F

        ctx, e = self.ctx, self.ctx.engine
        PL, D = e.pipelines, e.dedup
        docs = ctx.spark.read.parquet(f"{self.dir}/documents.parquet")
        train = docs.filter(F.col("source") != "src0")
        eval_docs = docs.filter(F.col("source") == "src0")
        out: dict[str, float] = {}

        def stage(key, build):
            """Call ``build`` in a build span of ``key`` (connected
            components runs its iterations there), then persist and count
            its frame in an exec span; returns the frame, its rows and the
            seconds of both spans."""
            with ctx.span(pass_id, key, "build"):
                df = build()
            with ctx.span(pass_id, key, "exec"):
                df = df.persist()
                n = df.count()
            return df, n, ctx.seconds(pass_id, key)

        gated, out["pipelines.rows_gate"], out["pipelines.gate_s"] = stage(
            "gate", lambda: PL.quality_gate(train))
        exact, out["pipelines.rows_exact_dedup"], out["pipelines.exact_dedup_s"] = stage(
            "exact_dedup", lambda: PL.exact_dedup(gated))
        near, out["pipelines.rows_near_dedup"], out["pipelines.near_dedup_s"] = stage(
            "near_dedup", lambda: PL.near_dedup(exact))
        _, out["pipelines.rows_clean"], out["pipelines.decontaminate_s"] = stage(
            "decontaminate", lambda: PL.decontaminate(near, eval_docs, max_overlap=0.85))
        # near_dedup's steps one at a time, after it, so that none of them
        # is served from a frame persisted here
        sigs, _, out["dedup.minhash_s"] = stage(
            "minhash", lambda: D.minhash_signatures(exact, "doc_id", "text", n=3, num_hashes=8))
        cand, out["dedup.lsh_candidates"], out["dedup.lsh_s"] = stage(
            "lsh", lambda: D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=2))
        edges, out["dedup.jaccard_edges"], out["dedup.jaccard_s"] = stage(
            "jaccard", lambda: D.ngram_jaccard_pairs(exact, "doc_id", "text", n=3,
                                                     threshold=0.75, candidates=cand))
        _, _, out["dedup.cc_s"] = stage("cc", lambda: D.connected_components(edges))
        out["dedup.candidate_yield"] = out["dedup.jaccard_edges"] / max(out["dedup.lsh_candidates"], 1)
        ctx.spark.catalog.clearCache()
        return out

    def layers(self, agg, passes):
        # the iterations run inside connected_components, at build time
        cc = eventlog.total(agg, pass_id="stages", query="cc")
        return {"dedup.cc_jobs": cc.get("jobs", 0)}


class QueryMix(RegistryQueries):
    name = "query_mix"
    SF = 0.01
    PASS_S = 10.0
    queries = QUERY_MIX

    def prepare(self, rng, work):
        self.dir = f"{work}/tables"
        self.inputs = {**gen.gen_tables(rng, self.dir, self.SF), "queries": len(QUERY_MIX)}


class StreamEvents(Workload):
    name = "stream_events"
    FILES, ROWS = 4, 1000
    PASS_S = 5.0
    WINDOW_S, DELAY_S = 60, 120
    # Chaining dedup_within_watermark into windowed_counts defines a second
    # watermark on `ts`, which Spark 4 rejects ("Redefining watermark is
    # disallowed") unless the single global watermark is kept.
    conf = {"spark.sql.streaming.statefulOperator.allowMultiple": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000"}

    def prepare(self, rng, work):
        self.dir = f"{work}/stream"
        # shifts of up to one file (one window) stay inside the delay
        self.inputs = gen.gen_stream(rng, self.dir, self.FILES, self.ROWS,
                                     file_span_s=self.WINDOW_S, max_shift_files=1)
        self.progress: dict[str, list[dict]] = {}

    def run_pass(self, pass_id):
        from pyspark.sql import types as T

        ctx, SP = self.ctx, self.ctx.engine.streaming
        schema = T.StructType([
            T.StructField("event_id", T.LongType()), T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()), T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()), T.StructField("props", T.StringType())])
        out = f"{self.dir}/out/{pass_id}"
        with ctx.span(pass_id, "stream", "build"):
            src = (ctx.spark.readStream.format("parquet").schema(schema)
                   .option("maxFilesPerTrigger", 1).load(f"{self.dir}/landing"))
            counts = SP.windowed_counts(
                SP.dedup_within_watermark(src, "event_id", "ts", delay=f"{self.DELAY_S} seconds"),
                "ts", window=f"{self.WINDOW_S} seconds", delay=f"{self.DELAY_S} seconds",
                group_cols=["event_type"])
        with ctx.span(pass_id, "stream", "exec"):
            q = SP.append_to_parquet(counts, out, f"{self.dir}/checkpoint/{pass_id}")
            q.awaitTermination()
        self.progress[pass_id] = [json.loads(p.json) for p in q.recentProgress]
        self.last_out = out
        return [("batch", p["durationMs"]["triggerExecution"] / 1000) for p in self.progress[pass_id]]

    def check(self):
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            want = con.execute(f"""
                WITH d AS (SELECT DISTINCT event_id, ts, event_type
                           FROM read_parquet('{self.dir}/landing/*.parquet')),
                b AS (SELECT epoch_ms(time_bucket(INTERVAL {self.WINDOW_S} SECONDS, ts)) AS w,
                             event_type FROM d)
                SELECT w, event_type, count(*) AS n FROM b
                -- append mode emits a window once the final watermark,
                -- max(ts) - delay, has passed its end
                WHERE w + {self.WINDOW_S * 1000}
                      <= (SELECT epoch_ms(max(ts)) - {self.DELAY_S * 1000} FROM d)
                GROUP BY w, event_type ORDER BY ALL""").fetchall()
            got = con.execute(f"""
                SELECT epoch_ms(window_start) AS w, event_type, n
                FROM read_parquet('{self.last_out}/*.parquet') ORDER BY ALL""").fetchall()
        finally:
            con.close()
        return [] if got == want and want else ["batch"]

    def layers(self, agg, passes):
        def stat(pid):
            ps = self.progress[pid]

            def d(k):
                return sum(p["durationMs"].get(k, 0) for p in ps) / 1000

            ops = [s for p in ps for s in p.get("stateOperators", [])]
            last = [s for s in ps[-1].get("stateOperators", [])]
            return {
                "streaming.batches": len(ps),
                "streaming.add_batch_s": d("addBatch"),
                "streaming.planning_s": d("queryPlanning"),
                "streaming.commit_s": d("walCommit") + d("commitOffsets"),
                "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in last),
                "streaming.state_bytes": sum(s.get("memoryUsedBytes", 0) for s in last),
                "streaming.late_rows_dropped": sum(s.get("numRowsDroppedByWatermark", 0) for s in ops),
            }

        per = [stat(p) for p in passes]
        return {k: statistics.median(s[k] for s in per) for k in per[0]}


WORKLOADS = {w.name: w for w in (IngestReddit, CurateCorpus, QueryMix, StreamEvents)}

