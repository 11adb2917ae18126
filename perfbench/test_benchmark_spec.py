"""BENCHMARK.json names exactly the workloads and metrics run.py emits."""

import json
import os

import run

SPEC = os.path.join(run.ROOT, "BENCHMARK.json")


def _spec():
    with open(SPEC) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)


def test_end_to_end_metrics_match():
    assert [(m["name"], m["unit"]) for m in _spec()["end_to_end"]] == list(run.END_TO_END)


def test_per_layer_metrics_match():
    assert [(m["name"], m["unit"]) for m in _spec()["per_layer"]] == run.per_layer_names()


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
