"""Spark event-log reader: per-tag job, stage and task counters.

The benchmark tags every Spark job with ``<workload>|<pass>|<query>|<phase>``
(``SparkContext.setJobDescription``). Streaming micro-batch jobs carry
Spark's own description instead, so the same tag is also set as the
inheritable local property ``perfbench.tag``, which the stream's
execution thread copies when the query starts. The reader parses the
uncompressed JSON-lines log (``spark.eventLog.compress=false``) with the
stdlib and sums, per tag, what Spark itself recorded for each job's tasks.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

TAG_PROPERTY = "perfbench.tag"

# counters summed over the successful tasks of each tag
_TASK_COUNTERS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_bytes": ("Memory Bytes Spilled",),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "input_records": ("Input Metrics", "Records Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_remote_read_bytes": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_local_read_bytes": ("Shuffle Read Metrics", "Local Bytes Read"),
}


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
        if d is None:
            return 0
    return d


def job_tag(properties: dict) -> str | None:
    desc = properties.get("spark.job.description") or ""
    if desc.count("|") == 3:
        return desc
    return properties.get(TAG_PROPERTY)


def lines(path: str):
    """Events of a log file, or of a Spark 4 rolling log directory
    (``eventlog_v2_<app>/events_<n>_<app>``, read in ``n`` order)."""
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        files = [os.path.join(path, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name, encoding="utf-8") as f:
            yield from f


def read(path: str) -> dict[str, dict]:
    """Aggregate an event log into ``{tag: counters}``.

    Counters: ``jobs``, ``stages`` (stages that ran tasks), ``tasks``,
    ``task_skew`` (worst stage's max / median task run time), and every
    ``_TASK_COUNTERS`` sum. Jobs without a tag are grouped under ``""``."""
    stage_tag: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[int, list[int]] = defaultdict(list)
    for line in lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = job_tag(ev.get("Properties") or {}) or ""
            out[tag]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_tag[sid] = tag
        elif kind == "SparkListenerTaskEnd":
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                continue
            sid = ev["Stage ID"]
            c = out[stage_tag.get(sid, "")]
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            for name, p in _TASK_COUNTERS.items():
                c[name] += _dig(m, p)
            stage_runs[sid].append(int(m.get("Executor Run Time", 0)))
    for sid, runs in stage_runs.items():
        c = out[stage_tag.get(sid, "")]
        c["stages"] += 1
        skew = max(runs) / max(statistics.median(runs), 1.0)
        c["task_skew"] = max(c["task_skew"], skew)
    return {t: dict(c) for t, c in out.items()}


def total(agg: dict[str, dict], pass_id: str | None = None, query: str | None = None,
          phase: str | None = None) -> dict[str, float]:
    """Sum the counters of the tags whose pass, query and phase match
    (``None`` matches any; untagged jobs never match). ``task_skew``
    takes the maximum."""
    want = (pass_id, query, phase)
    tot: dict[str, float] = defaultdict(float)
    for tag, c in agg.items():
        fields = tag.split("|")
        if len(fields) != 4 or any(w not in (None, f) for w, f in zip(want, fields[1:])):
            continue
        for k, v in c.items():
            tot[k] = max(tot[k], v) if k == "task_skew" else tot[k] + v
    return tot
