"""BENCHMARK.json lists exactly the metrics and workloads run.py reports."""

import json
import os

from perfbench import corpus, metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == metrics.per_layer()
    assert {w["name"] for w in bench["workloads"]} == set(corpus.CYCLES)
