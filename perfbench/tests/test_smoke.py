"""Smoke-sized runs of the whole benchmark (Spark, small inputs)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import inputs
import run
import workloads

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
E2E = {m["name"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"] for m in BENCH["per_layer"]}


@pytest.fixture(autouse=True)
def small_inputs(monkeypatch):
    monkeypatch.setattr(inputs, "TURNS", 20_000)
    monkeypatch.setattr(inputs, "DOC_COPIES", 2)


def _run(capsys, *args) -> dict:
    assert run.main(list(args)) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run_prints_every_metric_and_is_correct(capsys, workload):
    res = _run(capsys, "--workload", workload, "--seed", "7", "--seconds", "1")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == E2E
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_lost_row_counts_as_failed_operation(capsys, monkeypatch):
    real = workloads.warehouse_digest

    def lossy(warehouse, sinks):
        d = real(warehouse, sinks)
        n, h = d["sink_default"]
        d["sink_default"] = [n - 1, h]
        return d

    monkeypatch.setattr(workloads, "warehouse_digest", lossy)
    res = _run(capsys, "--workload", "spine", "--seed", "7", "--seconds", "1")
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1


def test_traced_smoke_run_prints_every_layer_metric(capsys):
    res = _run(capsys, "--workload", "spine", "--seed", "7", "--seconds", "1", "--trace", "1")
    assert res["correct"] is True
    assert set(res["metrics"]) == PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["routing.fanout_rows_per_turn"] > 1.0
    assert m["enrich.broadcast_joins"] == 4
    assert m["pipeline.spark_jobs_per_run"] > 0 and m["curation.survivors"] > 0


def test_without_program_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        run.BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".data")
    )
    p = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", "spine",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
