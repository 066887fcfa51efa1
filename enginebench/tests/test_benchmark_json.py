"""BENCHMARK.json lists exactly the metrics and workloads run.py
reports."""

from __future__ import annotations

import json
from pathlib import Path

import layers
import run
import workloads

SPEC = json.loads((Path(__file__).resolve().parents[2]
                   / "BENCHMARK.json").read_text())


def test_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_end_to_end_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == \
        run.END_TO_END


def test_per_layer_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == \
        layers.PER_LAYER
