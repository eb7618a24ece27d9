"""BENCHMARK.json names exactly what run.py reports."""

import json
import os

from perfbench import kg, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)
    assert set(kg.WORKLOADS) == set(run.WORKLOADS)


def test_end_to_end_metrics_match():
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert spec == kg.END_TO_END_UNITS


def test_per_layer_metrics_match():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert spec == kg.per_layer_units()


def test_closed_loop_runs_at_least_once_and_at_most_max():
    assert len(kg.closed_loop(0, 5, lambda i: i)) == 1
    assert kg.closed_loop(60, 3, lambda i: i) == [0, 1, 2]
