"""Smoke test of the benchmark at a tiny corpus size.

Runs every workload once untraced and once traced and checks that each
run succeeds and prints every metric BENCHMARK.json names, with its unit.
Takes a few minutes (one Spark session per run):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "5", "--seconds", "1", "--trace", str(trace),
            "--turns", "400",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.stdout, p.stderr[-3000:]
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    code, out = run(workload, trace)
    assert code == 0 and out["correct"] and out["failed"] == 0, out
    assert out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_outside_a_checkout_fails_without_result(tmp_path):
    """Only BENCHMARK.json and perfbench/ present: exit non-zero, no JSON."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", "build",
            "--seed", "1", "--seconds", "1", "--trace", "0",
        ],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
