"""Smoke test of the benchmark itself, on a small generated universe.

Runs every workload briefly in this process, untraced and traced, and
checks that every metric BENCHMARK.json names is printed with its unit.
A second, traced run of each workload corrupts one expected result
after it is prepared and must report failed ops, which proves each
workload's correctness check can fail.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import run  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

SMOKE_SCALE = 0.001


def _tamper_migrate(wl):
    wl.expect["tables"]["orders"]["pk"] += 1


def _tamper_curate(wl):
    wl.expect = {k: "0" * 64 for k in wl.expect}


def _tamper_admit(wl):
    doc = min(wl.oracle)
    wl.oracle[doc] = wl.oracle[doc][:-1] + ("wrong",)


TAMPER = {
    "migrate": _tamper_migrate,
    "curate_cold": _tamper_curate,
    "admit_stream": _tamper_admit,
}


def test_benchmark_json_matches_layer_map():
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    assert [m["name"] for m in BENCH["per_layer"]] == list(layers)
    for m in BENCH["per_layer"]:
        assert (m["unit"], m["better"]) == (layers[m["name"]]["unit"],
                                           layers[m["name"]]["better"])
    assert {w["name"] for w in BENCH["workloads"]} <= set(TAMPER)


@pytest.mark.parametrize("workload", sorted(TAMPER))
def test_workload_reports_every_metric_and_checks_can_fail(workload):
    res = run.run(workload, seed=7, seconds=1, trace=False, scale=SMOKE_SCALE)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    for m in BENCH["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0

    res = run.run(workload, seed=7, seconds=1, trace=True, scale=SMOKE_SCALE,
                  tamper=TAMPER[workload])
    assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    assert res["failed"] / res["attempted"] > 0
    assert not res["correct"]
