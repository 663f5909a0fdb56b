"""Toy-size smoke run of each workload, untraced and traced: the checks
pass and every declared metric is reported."""

import json
from pathlib import Path

import pytest

import run
from workloads import TOY

BENCHMARK = json.loads(
    (Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", ["extract", "ingest", "build"])
def test_untraced_toy_run(workload):
    res = run.run(workload, seed=5, seconds=1.0, trace=False, sizes=TOY)
    out = run.report(res)
    assert out["correct"], res["problems"]
    assert out["attempted"] >= 1
    names = {m["name"] for m in BENCHMARK["end_to_end"]}
    assert set(out["metrics"]) == names
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_toy_run():
    res = run.run("extract", seed=5, seconds=1.0, trace=True, sizes=TOY)
    out = run.report(res)
    assert out["correct"], res["problems"]
    names = {m["name"] for m in BENCHMARK["per_layer"]}
    assert set(out["metrics"]) == names
    assert set(run.PER_LAYER_UNITS) == names
