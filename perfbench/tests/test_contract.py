"""BENCHMARK.json agrees with what the code prints."""

import json
import os

import layers
import run
import workloads

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_keys_and_command():
    assert set(BENCH) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert BENCH["command"] == ["python3", "perfbench/run.py"]
    assert BENCH["paths"] == ["perfbench"]
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)


def test_end_to_end_metrics_match_code():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.UNITS
    for m in BENCH["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_per_layer_metrics_match_code():
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.UNITS
    assert all(m["better"] in ("higher", "lower") for m in BENCH["per_layer"])
