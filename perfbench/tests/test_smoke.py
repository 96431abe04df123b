"""Tiny-size runs of the benchmark command, checked against BENCHMARK.json.

Each run starts its own Spark driver, so this module takes a few minutes.

Run with: python3 -m pytest perfbench/tests/test_smoke.py -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(args, cwd, env=None):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def test_benchmark_json_names_the_command():
    assert BENCH["command"] == ["python3", "perfbench/run.py"]
    assert BENCH["paths"] == ["perfbench"]
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("traced", [0, 1])
def test_tiny_run_prints_every_metric(workload, traced, tmp_path):
    p = run(["--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(traced), "--size", "tiny"], cwd=tmp_path)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = BENCH["per_layer" if traced else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not traced:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in want)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         BENCH["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert "dask_image_spark" in p.stderr
