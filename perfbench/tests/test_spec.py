"""BENCHMARK.json, the layer map and the workloads agree."""
from __future__ import annotations

import json
import os

from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    with open(path) as f:
        return json.load(f)


def test_workloads_match_the_benchmark_spec():
    spec = load(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    layer_map = load(os.path.join(HERE, "layer_map.json"))
    assert list(WORKLOADS) == list(layer_map["workloads"])
    for w in spec["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why


def test_every_per_layer_metric_belongs_to_a_layer():
    spec = load(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    layer_map = load(os.path.join(HERE, "layer_map.json"))
    mapped = {m for layer in layer_map["layers"].values()
              for m in layer["metrics"]}
    assert {m["name"] for m in spec["per_layer"]} <= mapped
