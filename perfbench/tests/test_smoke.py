"""Every workload runs end to end at sf0.001 and prints every metric.

Each case starts the benchmark in its own process, as the benchmark
is run for real. About a minute per case:

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = [sys.executable, os.path.join(BENCH, "run.py")]
WORKLOADS = ["cdc_backlog", "window_backlog", "cdc_live", "batch_queries"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(args: list[str], cwd: str = ROOT, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict[str, str]]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    named = {ln.split()[0]: ln for ln in lines[:-1]}
    return json.loads(lines[-1]), named


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_end_to_end_metric(workload):
    res, named = _result(_run(["--workload", workload, "--seed", "3", "--seconds", "2",
                               "--trace", "0", "--smoke"]))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert named["error_rate"].split()[1] == "0"
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    res, _ = _result(_run(["--workload", "cdc_live", "--seed", "3", "--seconds", "2",
                           "--trace", "1", "--smoke"]))
    assert res["correct"] is True and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["sinks.process_batch_ms"] > 0 and m["streaming.batches"] >= 1
    assert m["sinks.replayed_batches"] == 0
    assert m["sources.input_rows"] > 0 and m["jvm.gc_count"] >= 0


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_backlog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
