"""The benchmark runs end to end and its checker passes: each workload
named in BENCHMARK.json, on the tiny `--smoke` inputs, in a fresh
process, exactly as `perfbench/run.py` is invoked by hand."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    WORKLOADS = [w["name"] for w in json.load(f)["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_perfbench_smoke(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "5",
         "--trace", "0", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    assert result["failed"] == 0
    assert result["attempted"] > 0
