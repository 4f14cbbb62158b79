"""The benchmark's own tests: every workload runs on tiny inputs with no
failed unit and prints every end-to-end metric BENCHMARK.json lists, the
traced run reports every per-layer metric, and the command refuses to run
without the engine.

    python3 -m pytest perfbench/test_perfbench.py -q    # several minutes
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        capture_output=True, text=True, cwd=cwd, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    return last


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_workload_prints_every_metric_and_fails_nothing(workload):
    last = _result(_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--smoke"))
    assert last["correct"] is True
    assert last["failed"] == 0 and last["attempted"] >= 1
    assert {n: m["unit"] for n, m in last["metrics"].items()} == run.listed_metrics("end_to_end")
    assert last["metrics"]["success_ratio"]["value"] == 1.0
    assert all(m["value"] > 0 for m in last["metrics"].values())


@pytest.mark.parametrize("workload,layers", [
    ("batch_corpus", ("mentions", "candidates", "pipeline", "connected_components",
                      "triples", "checkpoint")),
    ("stream_backlog", ("mentions", "candidates", "triples", "checkpoint", "wikify_stream")),
])
def test_smoke_traced_run_reports_every_layer(workload, layers):
    last = _result(_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                          "--trace", "1", "--smoke"))
    assert last["correct"] is True and last["failed"] == 0
    assert {n: m["unit"] for n, m in last["metrics"].items()} == run.listed_metrics("per_layer")
    m = {n: v["value"] for n, v in last["metrics"].items()}
    assert m["trace.coverage"] >= 0.9
    for layer in layers:
        assert m[f"{layer}.self_s"] > 0 and m[f"{layer}.jobs"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "batch_corpus", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
