"""The one timing mechanism: `bench.best_seconds` / `bench.time_queries`,
and the replicate-and-time routine of `tools/run_scale_test.py` that
builds on them."""

from __future__ import annotations

import argparse
import json
import types

import bench
from conftest import SF_SMOKE


def _fake_clock(monkeypatch, ticks, events):
    it = iter(ticks)

    def perf_counter():
        events.append("clock")
        return next(it)

    monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=perf_counter))


def test_best_seconds_is_min_and_prepare_is_untimed(monkeypatch):
    events: list = []
    _fake_clock(monkeypatch, [0.0, 5.0, 10.0, 12.0, 20.0, 23.0], events)
    prepared: list = []
    ran: list = []

    def prepare():
        events.append("prepare")
        prepared.append(object())
        return prepared[-1]

    def run(x):
        events.append("run")
        ran.append(x)

    assert bench.best_seconds(run, runs=3, prepare=prepare) == 2.0
    assert events == ["prepare", "clock", "run", "clock"] * 3
    assert len(prepared) == 3
    assert all(r is p for r, p in zip(ran, prepared, strict=True))


def test_best_seconds_without_prepare_calls_run_bare(monkeypatch):
    events: list = []
    _fake_clock(monkeypatch, [0.0, 4.0, 4.0, 7.0], events)
    calls: list = []
    assert bench.best_seconds(lambda: calls.append(1)) == 3.0
    assert calls == [1, 1]


def test_time_queries_timed_regions_and_job_description(monkeypatch):
    """time_build=False times the sink only; time_build=True times the
    plan builder too. Each query's jobs carry ``time: <name>``."""
    events: list = []
    _fake_clock(monkeypatch, [0.0, 1.0] * 4, events)
    monkeypatch.setattr(bench, "noop", lambda df: events.append(("sink", df)))

    descriptions: list = []
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setJobDescription=descriptions.append)
    )

    def fn(spark_, sf_dir):
        events.append(("build", sf_dir))
        return "df"

    specs = {"q": types.SimpleNamespace(fn=fn)}
    assert bench.time_queries(spark, specs, ["q"], "d", time_build=False) == {"q": 1.0}
    assert events == [("build", "d"), "clock", ("sink", "df"), "clock"] * 2
    events.clear()
    assert bench.time_queries(spark, specs, ["q"], "d", time_build=True) == {"q": 1.0}
    assert events == ["clock", ("build", "d"), ("sink", "df"), "clock"] * 2
    assert descriptions == ["time: q", None] * 2


def test_text_scale_phase_counts_rows_from_the_data(spark, tmp_path, monkeypatch):
    """The shared replicate-and-time routine, text phase on the smoke
    fixture: `documents_rows` is counted from each replicated table
    (500 docs at sf0.001) and every query of the phase is timed."""
    from tools import run_scale_test as rst

    out = tmp_path / "scale.json"
    monkeypatch.setattr(rst, "SRC_DIR", SF_SMOKE)
    monkeypatch.setattr(rst, "OUT_JSON", str(out))
    rst.cmd_replicated(
        spark, argparse.Namespace(dir=str(tmp_path), factors="1,2"), "text"
    )
    rows = json.loads(out.read_text())["text"]["per_factor"]
    assert [(r["factor"], r["documents_rows"]) for r in rows] == [(1, 500), (2, 1000)]
    for r in rows:
        for q in rst.REPLICATED["text"].queries:
            assert r[q] > 0, (q, r)
