"""The bench harness's output contract, checked without Spark: a fake
session and a fake registry stand in for the engine, and a fake clock
gives every timed run a known duration."""

from __future__ import annotations

import json
import types

import bench

# the 3 timed runs of every query; the best is the middle one
_TIMED = (0.5, 0.25, 0.75)


class _Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


class _FakeFrame:
    """A frame whose only way to run is the noop sink: count() raises, so
    a query timed through count() fails the test."""

    def __init__(self, name, calls, clock):
        self.name, self.calls, self.clock = name, calls, clock
        self._format = self._mode = None

    def count(self):
        raise AssertionError(f"{self.name} was timed through count()")

    @property
    def write(self):
        return self

    def format(self, fmt):
        self._format = fmt
        return self

    def mode(self, mode):
        self._mode = mode
        return self

    def save(self):
        assert (self._format, self._mode) == ("noop", "overwrite")
        k = len(self.calls.setdefault(self.name, []))
        self.calls[self.name].append(k)
        # call 0 is the global warm-up, call 1 the priming run
        if k >= 2:
            self.clock.now += _TIMED[k - 2]


def test_main_times_every_headliner_through_the_noop_sink(
    monkeypatch, tmp_path, capsys
):
    calls: dict[str, list[int]] = {}
    clock = _Clock()
    reg = {
        name: types.SimpleNamespace(
            spark=lambda spark, sf_dir, name=name: _FakeFrame(name, calls, clock)
        )
        for name in bench.HEADLINE
    }
    sc = types.SimpleNamespace(defaultParallelism=3, setJobDescription=lambda d: None)
    monkeypatch.setattr(bench, "registry", lambda: reg)
    monkeypatch.setattr(
        bench, "get_spark", lambda app_name: types.SimpleNamespace(sparkContext=sc)
    )
    monkeypatch.setattr(bench.time, "perf_counter", clock)
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))

    bench.main()

    # warm-up + priming + 3 timed runs, every one through the noop sink
    assert calls == {name: [0, 1, 2, 3, 4] for name in bench.HEADLINE}

    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {"metric", "value", "unit", "queries", "sf", "cpus"}
    assert out["queries"] == {name: min(_TIMED) for name in bench.HEADLINE}
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["sf"] == 0.1 and out["cpus"] == 3

    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full["runs"] == {name: list(_TIMED) for name in bench.HEADLINE}
    assert full["queries"] == out["queries"] and full["value"] == out["value"]
