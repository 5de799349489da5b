"""BENCHMARK.json names exactly the metrics and workloads run.py reports."""

import json
import os

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match():
    b = _bench()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == run.per_layer_names()
    assert len(b["per_layer"]) <= 128


def test_workloads_exist():
    b = _bench()
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)
