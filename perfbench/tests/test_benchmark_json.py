"""BENCHMARK.json names exactly the metrics the benchmark prints."""

import json
import os

import report
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_the_report():
    b = load()
    assert [m["name"] for m in b["end_to_end"]] == list(report.GATED)
    assert all(m["unit"] == report.END_TO_END_UNITS[m["name"]] for m in b["end_to_end"])
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == report.LAYER_UNITS


def test_workloads_exist():
    assert {w["name"] for w in load()["workloads"]} <= set(workloads.WORKLOADS)
