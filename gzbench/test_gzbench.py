"""The benchmark's own tests: a smoke run of each workload at tiny size
plus the cache guard on a planted duplicate.

    python3 -m pytest gzbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from gzbench import metrics, run, workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _units(entries) -> dict:
    return {m["name"]: m["unit"] for m in entries}


def test_spec_matches_emitted_names():
    spec = _spec()
    assert _units(spec["end_to_end"]) == {
        k: v[0] for k, v in metrics.END_TO_END.items()}
    assert _units(spec["per_layer"]) == {
        k: v[0] for k, v in metrics.per_layer_units().items()}
    assert [w["name"] for w in spec["workloads"]] == list(
        workloads.WORKLOADS)


@pytest.mark.parametrize("name,trace", [("geo", False), ("corpus", True)])
def test_smoke(name, trace):
    res = run.run(name, 5, 1.0, trace, size=workloads.TINY)
    assert res["correct"] and res["failed"] == 0, res
    spec = _spec()
    want = _units(spec["per_layer" if trace else "end_to_end"])
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_cache_guard_fires_on_planted_duplicate(capsys):
    def plant(wl, rec):
        # a persisted copy of the decode plan: the timed decode would
        # be served from memory
        wl._points().persist().count()

    res = run.run("geo", 5, 1.0, False, size=workloads.TINY, plant=plant)
    assert not res["correct"] and res["failed"] >= 1
    assert "not a declared input" in capsys.readouterr().err


def test_cache_guard_accepts_declared_input():
    def plant(wl, rec):
        rec.declare_persisted(wl._points())

    res = run.run("geo", 5, 1.0, False, size=workloads.TINY, plant=plant)
    assert res["correct"] and res["failed"] == 0, res
