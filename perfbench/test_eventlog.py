"""Event-log reader on a small canned Spark 4 log.

The log was recorded from a local[2] session that ran four jobs: a
two-stage aggregation tagged ``wl|p0|agg|exec``, a count tagged
``wl|p0|count|build``, a job whose description was overwritten (as a
streaming micro-batch's is) but which still carries the ``perfbench.tag``
local property, and an untagged job. Heavy fields (stage infos,
accumulables, executor metrics) were stripped; the counters kept are
Spark's own.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "small_eventlog.json")


def test_counts_by_tag():
    agg = eventlog.read(LOG)
    assert set(agg) == {"wl|p0|agg|exec", "wl|p0|count|build", "wl|p1|stream|exec", ""}
    got = {t: (c["jobs"], c["stages"], c["tasks"]) for t, c in agg.items()}
    assert got == {
        "wl|p0|agg|exec": (1, 2, 4),
        "wl|p0|count|build": (1, 2, 3),
        "wl|p1|stream|exec": (1, 1, 1),
        "": (1, 1, 1),
    }
    agg_job = agg["wl|p0|agg|exec"]
    assert agg_job["shuffle_write_bytes"] == 266
    assert agg_job["shuffle_local_read_bytes"] + agg_job["shuffle_remote_read_bytes"] == 266
    assert agg_job["input_records"] == 1000
    assert agg_job["run_ms"] > 0 and agg_job["cpu_ns"] > 0
    assert agg_job["task_skew"] >= 1


def test_total_matches_fields_and_skips_untagged():
    agg = eventlog.read(LOG)
    p0 = eventlog.total(agg, pass_id="p0")
    assert (p0["jobs"], p0["tasks"]) == (2, 7)
    assert eventlog.total(agg, phase="exec")["jobs"] == 2
    assert eventlog.total(agg, pass_id="p1", query="stream")["tasks"] == 1
    assert eventlog.total(agg)["jobs"] == 3  # the untagged job matches nothing
    assert eventlog.total(agg, pass_id="nope") == {}


def test_job_tag_prefers_description_then_property():
    assert eventlog.job_tag({"spark.job.description": "a|b|c|d"}) == "a|b|c|d"
    props = {"spark.job.description": "\nid = 1\nrunId = 2\nbatch = 0", "perfbench.tag": "a|t0|s|exec"}
    assert eventlog.job_tag(props) == "a|t0|s|exec"
    assert eventlog.job_tag({}) is None


def test_rolling_log_directory(tmp_path):
    """Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` by default;
    the parts are read in order and give the same counters."""
    with open(LOG) as f:
        lines = f.readlines()
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    half = len(lines) // 2
    (d / "events_2_local-1").write_text("".join(lines[half:]))
    (d / "events_1_local-1").write_text("".join(lines[:half]))
    (d / "appstatus_local-1").write_text("")
    assert eventlog.read(str(d)) == eventlog.read(LOG)
