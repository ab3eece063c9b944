"""BENCHMARK.json must describe the code that runs.

Run from the repository root:  python3 -m pytest perfbench/test_spec.py -q
"""

from __future__ import annotations

import json
import os

from perfbench import run, spec
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json()


def test_workloads_are_runnable_and_described():
    assert run.WORKLOAD_NAMES == list(WORKLOADS)
    for w in WORKLOADS.values():
        assert w.why and "\n" not in w.why and len(w.why) <= 200


def test_metric_names_are_unique():
    doc = spec.benchmark_json()
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names)) and len(doc["per_layer"]) <= 128
