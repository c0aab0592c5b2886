"""Benchmark-owned tests: count pins and BENCHMARK.json's metric list.

Run from the repository root (about five minutes; four traced runs)::

    python3 -m pytest perfbench/test_bench.py -q -p no:cacheprovider

The count pins are the baseline for work that changes how many Spark
jobs a query launches or how many sweeps IPF takes: each count must
repeat exactly across two traced runs of the same seed and equal the
value recorded in ``perfbench/counts_baseline.json``. A change that
moves a count on purpose updates that file in the same commit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASELINE = json.load(open(os.path.join(HERE, "counts_baseline.json")))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=[w["name"] for w in SPEC["workloads"]])
def two_runs(request):
    seed = BASELINE["seed"]
    return request.param, [traced_run(request.param, seed) for _ in range(2)]


def test_counts_repeat_and_match_baseline(two_runs):
    workload, runs = two_runs
    pinned = BASELINE["counts"][workload]
    for run in runs:
        assert run["correct"] and run["failed"] == 0
        got = {k: run["metrics"][k]["value"] for k in pinned}
        assert got == pinned


def test_traced_metrics_match_spec(two_runs):
    _, runs = two_runs
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for run in runs:
        assert {k: v["unit"] for k, v in run["metrics"].items()} == want
