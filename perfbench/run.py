"""Benchmark of the social-media ingestion and curation engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py``) on ``local[nproc]`` as a closed
loop with one client, the driver thread: set-up (one JVM launch, then
``SETUPS`` timed set-ups inside it), a cold first pass, ``S`` seconds'
worth of steady passes, then a correctness check outside the timed
region. The number of steady passes is ``S`` divided by the workload's
nominal pass time (``PASS_S``), at least ``MIN_STEADY``, so it does not
depend on how fast the machine is at the moment: a run that happens to be
slow measures the same passes as a fast one, not fewer, later-warmed
ones. The first passes after the cold one still warm the JIT; pass_s is
the median of the steady passes, which sets the slowest aside. The last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; the lines before it print each metric with its unit and
sample count.

``--trace 0`` reports the end-to-end metrics: setup_s, cold_pass_s and
pass_s. ``--trace 1`` runs the same passes with Spark's event log on
and every job tagged, and reports the per-layer metrics instead. Per-layer
numbers come from spans taken here around each call into the engine and
from per-job counters that ``eventlog.py`` sums by tag. The tracing
overhead is ``trace.pass_s`` of a traced run minus ``pass_s`` of an
untraced run of the same seed. Every run writes a JSON artifact with
all metrics, sample counts, input properties and spans to
``.perfbench/results/``.

Inputs are generated from the seed under ``.perfbench/`` in the checkout
and removed after the run. On every way out, a SIGTERM included, the run
stops the JVM and any Python worker it started and waits for each to end.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import types
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

ENGINE = "social_and_media_data_ingestion_spark"
SETUPS = 3  # set-ups after the JVM launch whose median is setup_s
MIN_STEADY = 3  # steady passes whose median is pass_s, at the least
DRIVER_MEMORY = "2g"


def pin_environment(work: str) -> int:
    """Fix what the engine reads from the environment before the JVM
    starts: parallelism = nproc, a driver heap that fits a small box,
    PYTHONPATH so Python workers can import the engine, temp files inside
    the run's work directory, and the engine's defaults for its opt-in
    switches."""
    cpus = len(os.sched_getaffinity(0))
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # no /tmp/hsperfdata_* from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_RUNTIME_FILTERS", None)
    return cpus


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return conf


def set_up(conf: dict[str, str]):
    """Import the engine, start its session and build the registry: the
    set-up every user of the engine pays. Returns (seconds, session,
    registry, engine modules)."""
    t0 = time.perf_counter()
    spark = importlib.import_module(ENGINE).get_spark(extra_conf=conf)
    reg = importlib.import_module(f"{ENGINE}.plans.queries").registry()
    sec = time.perf_counter() - t0
    mods = {k: importlib.import_module(f"{ENGINE}.{m}") for k, m in (
        ("io", "io"), ("reddit", "sources.reddit"), ("pipelines", "pipelines"),
        ("dedup", "operators.dedup"), ("streaming", "streaming.pipeline"))}
    return sec, spark, reg, types.SimpleNamespace(**mods)


def become_subreaper() -> None:
    """Make this process the parent of any descendant whose own parent
    exits (a Python worker outliving its JVM), so that ``stop_all`` sees
    and reaps it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_all(grace_s: float = 20.0) -> None:
    """Stop the engine's JVM and every other process this one started,
    and wait until each has ended. The gateway JVM exits when its stdin
    closes; what is left after ``grace_s`` seconds gets SIGKILL."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # reap children that have exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(int(pid), sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def proc_stat(pid: str) -> list[str] | None:
    """/proc/<pid>/stat as [comm, state, ppid, ...]."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    head, _, rest = s.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def descendants() -> dict[str, list[str]]:
    """pid -> stat of every process below this one."""
    stats = {p: proc_stat(p) for p in os.listdir("/proc") if p.isdigit()}
    children: dict[str, list[str]] = {}
    for pid, st in stats.items():
        if st:
            children.setdefault(st[2], []).append(pid)
    out, todo = {}, list(children.get(str(os.getpid()), []))
    while todo:
        pid = todo.pop()
        if stats.get(pid):
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def restart(spark, conf: dict[str, str]):
    """Stop the session and drop the engine's modules, then set up again
    inside the running JVM."""
    spark.stop()
    for m in [m for m in sys.modules if m == ENGINE or m.startswith(ENGINE + ".")]:
        del sys.modules[m]
    return set_up(conf)


class ProcTree(threading.Thread):
    """Samples /proc for this process's descendants (the driver JVM and
    the Python workers it forks): peak resident memory and worker CPU
    time. Memory is the proportional set size, so pages that forked
    Python workers share with their parent count once."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval, self.peak_bytes = interval, 0
        self._halt = threading.Event()
        self._tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _pss_bytes(pid: str) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def pss_bytes(self) -> int:
        return sum(self._pss_bytes(pid) for pid in descendants())

    def python_cpu_s(self) -> float:
        """utime + stime, including reaped children, of Python processes."""
        return sum(
            sum(int(x) for x in st[12:16]) / self._tick
            for st in descendants().values()
            if st[0].startswith("python")
        )

    def run(self):
        while not self._halt.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self.pss_bytes())

    def stop(self):
        self._halt.set()
        self.join(timeout=5)


class Context:
    """What a workload sees: the session, the registry, the engine modules,
    and spans. Spans are always timed (operation latencies come from
    them); job tagging happens only when tracing."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self.notes: dict[str, dict[str, float]] = {}
        self.tagging = False
        self.spark = self.reg = self.engine = None

    @contextmanager
    def span(self, pass_id: str, query: str, phase: str):
        if self.tagging:
            tag = f"{self.workload}|{pass_id}|{query}|{phase}"
            sc = self.spark.sparkContext
            sc.setJobDescription(tag)
            sc.setLocalProperty("perfbench.tag", tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"pass": pass_id, "query": query, "phase": phase,
                               "start": t0, "end": time.perf_counter()})
            if self.tagging:
                self.spark.sparkContext.setJobDescription(None)
                self.spark.sparkContext.setLocalProperty("perfbench.tag", None)

    def note(self, pass_id: str, key: str, value: float) -> None:
        d = self.notes.setdefault(pass_id, {})
        d[key] = d.get(key, 0) + value

    def seconds(self, pass_id: str, query: str | None = None, phase: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["pass"] == pass_id
                   and query in (None, s["query"]) and phase in (None, s["phase"]))


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


class Runner:
    """Runs passes and keeps every operation as (pass id, name, seconds)."""

    def __init__(self, wl):
        self.wl = wl
        self.records: list[tuple[str, str, float]] = []
        self.raised: list[str] = []
        self.pass_s: dict[str, float] = {}

    def one_pass(self, pass_id: str) -> float:
        t0 = time.perf_counter()
        try:
            ops = self.wl.run_pass(pass_id)
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"[perfbench] pass {pass_id} raised: {e!r}", file=sys.stderr)
            self.raised.append(pass_id)
            ops = []
        self.pass_s[pass_id] = time.perf_counter() - t0
        # a pass must not reuse what an earlier pass cached
        self.wl.ctx.spark.catalog.clearCache()
        self.records.extend((pass_id, name, sec) for name, sec in ops)
        return self.pass_s[pass_id]

    def passes(self, prefix: str, n: int) -> list[str]:
        ids = [f"{prefix}{i}" for i in range(n)]
        for pass_id in ids:
            self.one_pass(pass_id)
        return ids

    def median_pass(self, ids: list[str]) -> float:
        return statistics.median(self.pass_s[i] for i in ids)

    def op_seconds(self, ids: list[str]) -> list[float]:
        return [sec for pid, _, sec in self.records if pid in ids]

    def outcome(self, bad_ops: list[str]) -> tuple[int, int]:
        """(attempted, failed): a pass that raised counts as one failed
        operation; an operation whose output failed its check counts as
        failed in every pass."""
        attempted = len(self.records) + len(self.raised)
        failed = len(self.raised) + sum(1 for _, name, _ in self.records if name in bad_ops)
        return attempted, failed


T_START = time.perf_counter()


def progress(what: str) -> None:
    print(f"[perfbench] {time.perf_counter() - T_START:7.2f}s {what}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE} not found under {ROOT}", file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    become_subreaper()
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return measure(args, WORKLOADS[args.workload], work)
    finally:
        stop_all()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, workload, work: str) -> int:
    import numpy as np

    cpus = pin_environment(work)
    sys.path.insert(0, ROOT)
    ctx = Context(args.workload)
    wl = workload(ctx)
    progress("generating inputs")
    wl.prepare(np.random.default_rng(args.seed), f"{work}/inputs")
    progress("setting up")

    # /proc sampling costs CPU, so only the traced run samples
    tree = ProcTree() if args.trace else None
    if tree:
        tree.start()
    spark = None
    try:
        conf = {**session_conf(work, trace=bool(args.trace)), **wl.conf}
        cold_setup, spark, _, _ = set_up(conf)
        setups = []
        for _ in range(SETUPS):
            sec, spark, ctx.reg, ctx.engine = restart(spark, conf)
            setups.append(sec)
        ctx.spark, ctx.tagging = spark, bool(args.trace)

        run = Runner(wl)
        progress("cold pass")
        cold = run.one_pass("cold")
        progress("steady passes")
        n_steady = max(MIN_STEADY, round(args.seconds / wl.PASS_S))
        cpu0 = tree.python_cpu_s() if tree else 0.0
        steady = run.passes("p", n_steady)
        py_cpu = (tree.python_cpu_s() - cpu0) / n_steady if tree else 0.0
        ops = run.op_seconds(steady)
        progress("checking outputs")
        try:
            bad_ops = wl.check()
        except Exception as e:  # e.g. a pass raised and left no output
            print(f"[perfbench] check raised: {e!r}", file=sys.stderr)
            bad_ops = sorted({name for _, name, _ in run.records})
        progress("checked")

        layers: dict[str, float] = {}
        if args.trace:
            app_id = spark.sparkContext.applicationId
            staged = wl.staged("stages")
            spark.stop()
            spark = None
            log = next(p for p in os.listdir(f"{work}/eventlog") if app_id in p)
            agg = eventlog.read(f"{work}/eventlog/{log}")
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(common_layers(ctx, agg, steady, cpus))
            layers.update(staged)
            layers.update(wl.layers(agg, steady))
            layers.update({
                "session.start_s": cold_setup,
                "pyworkers.cpu_s": py_cpu,
                "proc.peak_rss_mb": tree.peak_bytes / 2**20,
                "trace.pass_s": run.median_pass(steady),
            })
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception as e:  # a signal cut the gateway connection; stop_all ends the JVM
                print(f"[perfbench] stop raised: {e!r}", file=sys.stderr)
        if tree:
            tree.stop()
        progress("stopped")

    attempted, failed = run.outcome(bad_ops)
    e2e = {  # name: (value, unit, samples)
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "cold_pass_s": (cold, "s", 1),
        "pass_s": (run.median_pass(steady), "s", len(steady)),
        "op_p50_s": (quantile(ops, 0.5), "s", len(ops)),
        "op_p90_s": (quantile(ops, 0.9), "s", len(ops)),
    }
    if args.trace:
        table = {k: (v, unit_of(k), 1) for k, v in layers.items()}
    else:
        table = {k: e2e[k] for k in END_TO_END}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "inputs": wl.inputs,
        "end_to_end": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
        "per_layer": layers, "failed_ops": bad_ops + run.raised, "spans": ctx.spans,
    }
    res_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(f"{res_dir}/{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    for k, (v, u, n) in (table if args.trace else e2e).items():
        print(f"{args.workload:14s} {k:28s} {v:14.6g} {u:6s} n={n}")
    print(f"{args.workload:14s} inputs {json.dumps(wl.inputs)}")
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u, _) in table.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


# reported in the result line. The operation latency percentiles are
# printed and kept in the artifact (on ingest_reddit and curate_corpus an
# operation is a whole pass). Peak memory, whose run-to-run spread follows
# the JVM's heap sizing more than the engine, is a per-layer metric of
# the traced run: proc.peak_rss_mb.
END_TO_END = ["setup_s", "cold_pass_s", "pass_s"]
PER_LAYER = [
    "session.start_s",
    "plans.build_s", "plans.build_jobs", "plans.build_tasks", "plans.build_shuffle_bytes",
    "plan.plan_s", "plan.exchanges",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.cpu_s", "exec.run_s", "exec.gc_s",
    "exec.busy_frac", "exec.task_skew", "exec.input_bytes", "exec.output_bytes",
    "io.lines_read", "io.bad_rows", "io.files_written", "sources.match_yield",
    "pipelines.gate_s", "pipelines.exact_dedup_s", "pipelines.near_dedup_s",
    "pipelines.decontaminate_s", "pipelines.rows_gate", "pipelines.rows_exact_dedup",
    "pipelines.rows_near_dedup", "pipelines.rows_clean",
    "dedup.minhash_s", "dedup.lsh_s", "dedup.jaccard_s", "dedup.cc_s", "dedup.lsh_candidates",
    "dedup.jaccard_edges", "dedup.candidate_yield", "dedup.cc_jobs",
    "streaming.batches", "streaming.add_batch_s", "streaming.planning_s", "streaming.commit_s",
    "streaming.state_rows", "streaming.state_bytes", "streaming.late_rows_dropped",
    "pyworkers.cpu_s", "proc.peak_rss_mb", "trace.pass_s",
]
RATIOS = {"sources.match_yield", "dedup.candidate_yield", "exec.busy_frac", "exec.task_skew"}


def unit_of(name: str) -> str:
    if name in RATIOS:
        return "ratio"
    if name.endswith("_s") or name == "exec.s":
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def common_layers(ctx: Context, agg: dict, passes: list[str], cpus: int) -> dict[str, float]:
    def med(f):
        return statistics.median(f(p) for p in passes)

    def tot(p, phase):
        return eventlog.total(agg, pass_id=p, phase=phase)

    def ex(p, key):
        return tot(p, "exec").get(key, 0)

    exec_s = med(lambda p: ctx.seconds(p, phase="exec"))
    run_s = med(lambda p: ex(p, "run_ms")) / 1e3
    return {
        "plans.build_s": med(lambda p: ctx.seconds(p, phase="build")),
        "plans.build_jobs": med(lambda p: tot(p, "build").get("jobs", 0)),
        "plans.build_tasks": med(lambda p: tot(p, "build").get("tasks", 0)),
        "plans.build_shuffle_bytes": med(lambda p: tot(p, "build").get("shuffle_write_bytes", 0)),
        "plan.plan_s": med(lambda p: ctx.seconds(p, phase="plan")),
        "plan.exchanges": med(lambda p: ctx.notes.get(p, {}).get("exchanges", 0)),
        "exec.s": exec_s,
        "exec.jobs": med(lambda p: ex(p, "jobs")),
        "exec.stages": med(lambda p: ex(p, "stages")),
        "exec.tasks": med(lambda p: ex(p, "tasks")),
        "exec.shuffle_write_bytes": med(lambda p: ex(p, "shuffle_write_bytes")),
        "exec.shuffle_read_bytes": med(lambda p: ex(p, "shuffle_remote_read_bytes")
                                       + ex(p, "shuffle_local_read_bytes")),
        "exec.spill_bytes": med(lambda p: ex(p, "spill_bytes")),
        "exec.cpu_s": med(lambda p: ex(p, "cpu_ns")) / 1e9,
        "exec.run_s": run_s,
        "exec.gc_s": med(lambda p: ex(p, "gc_ms")) / 1e3,
        "exec.busy_frac": run_s / (exec_s * cpus) if exec_s else 0.0,
        "exec.task_skew": med(lambda p: ex(p, "task_skew")),
        "exec.input_bytes": med(lambda p: ex(p, "input_bytes")),
        "exec.output_bytes": med(lambda p: ex(p, "output_bytes")),
    }


if __name__ == "__main__":
    sys.exit(main())
