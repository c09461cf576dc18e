"""BENCHMARK.json, layers.json and the metrics run.py prints agree."""

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent.parent / "BENCHMARK.json"
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]

import run  # noqa: E402
from layers import SPEC  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench():
    return json.loads(BENCH.read_text())


def test_workloads_match_run():
    assert {w["name"] for w in _bench()["workloads"]} == set(WORKLOADS)


def test_end_to_end_metrics_match_run():
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert declared == run.E2E_UNITS


def test_per_layer_metrics_match_layers_json():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == {m["name"]: m["unit"] for m in SPEC}


def test_layer_map_names_real_metrics_and_workloads():
    bench = _bench()
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    for m in SPEC:
        for metric, workload in m["moves"]:
            assert metric in e2e and workload in workloads, (m["name"], metric, workload)
