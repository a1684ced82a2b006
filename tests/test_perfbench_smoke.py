"""The benchmark runs end to end and its checker passes: each workload
named in BENCHMARK.json, on the tiny `--smoke` inputs, in a fresh
process, exactly as `perfbench/run.py` is invoked by hand. The traced
frontier_scale run also runs: its tracer wraps the engine calls a crawl
generation makes (seen filter, pop, placement, fetcher, commit,
read-back), so a change to their call shapes fails here."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    WORKLOADS = [w["name"] for w in json.load(f)["workloads"]]

RUNS = [pytest.param(w, 0, id=w) for w in WORKLOADS] + [
    pytest.param("frontier_scale", 1, id="frontier_scale-trace")
]


@pytest.mark.parametrize("workload,trace", RUNS)
def test_perfbench_smoke(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "5",
         "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    assert result["failed"] == 0
    assert result["attempted"] > 0
    if trace:
        # every generation's caches are released once it commits
        assert result["metrics"]["frontier_loop.persistent_rdds"]["value"] == 0
