"""BENCHMARK.json names exactly the metrics run.py reports."""

import json
import os

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END


def test_per_layer_metrics_match():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_units()


def test_workloads_match():
    assert [w["name"] for w in _bench()["workloads"]] == \
        ["backfill", "query_mix"]
