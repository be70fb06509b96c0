"""BENCHMARK.json names exactly what run.py and layers.py report."""

import json
import os

import layers
import run
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == layers.PER_LAYER
    assert b["command"] == ["python3", "perfbench/run.py"]


def test_high_percentile_needs_ten_samples_beyond_it():
    assert run.high_percentile(19) == ""
    assert run.high_percentile(20) == "p50"
    assert run.high_percentile(100) == "p90"
    assert run.high_percentile(999) == "p90"
    assert run.high_percentile(1000) == "p99"
