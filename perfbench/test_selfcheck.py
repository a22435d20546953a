"""Self-check of the benchmark at its smallest input sizes.

    python3 -m pytest perfbench/test_selfcheck.py -q

Runs every workload for a few ops, untraced and traced, each in its own
process and JVM, and checks that every answer matched the reference and
that exactly the metrics ``BENCHMARK.json`` declares are emitted, each with
its unit. Takes a few minutes.
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

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_declared_metrics_match_the_runner():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v[0] for k, v in PER_LAYER.items()}
    assert {m["name"]: m["better"] for m in bench["per_layer"]} == {
        k: v[1] for k, v in PER_LAYER.items()}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_answers_and_metrics(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--small")
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= WORKLOADS[workload].min_ops
    declared = _bench()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    if not trace:
        assert res["metrics"]["answer_ok"]["value"] == 1.0
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_package():
    bare = os.path.join(ROOT, ".perfbench", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run(bare, "--workload", "analyze_raw", "--seed", "1", "--seconds", "1")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
