"""BENCHMARK.json lists exactly the workloads and metrics the code emits."""

import json
from pathlib import Path

from perfbench import metrics, workloads

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_workloads_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert [w["why"] for w in SPEC["workloads"]] == [
        w.why for w in workloads.WORKLOADS.values()
    ]


def test_end_to_end_metrics_match():
    assert [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in SPEC["end_to_end"]
    ] == list(metrics.END_TO_END)


def test_per_layer_metrics_match():
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == list(
        metrics.PER_LAYER
    )
    assert len({m["name"] for m in SPEC["per_layer"]}) == len(SPEC["per_layer"])
