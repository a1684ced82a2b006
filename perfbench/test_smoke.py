"""Tests of the benchmark itself: the checker catches wrong outputs, the
origin serves what the checker expects, and every workload runs end to
end on tiny inputs (`run.py --smoke`).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import urllib.error
import urllib.request
from urllib.parse import urlsplit

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import origin as web  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_model_crawl_check_catches_a_wrong_generation():
    seed = pd.DataFrame({
        "seq": range(200),
        "url": [f"http://h{i % 3}.test/p/{i}" for i in range(200)],
        "priority": [i % 10 for i in range(200)],
    })
    model = check.model_crawl(seed, 3, 50, max_redelivery=2)
    per_gen, seen = model
    gens = [{"generation": g, "released": r, "results": ok, "errors": e}
            for g, (r, ok, e) in enumerate(per_gen)]
    assert check.check_model_crawl(gens, seen, model)[1] == []
    gens[1] = dict(gens[1], results=gens[1]["results"] - 1)
    assert check.check_model_crawl(gens, seen, model)[1]
    assert check.check_model_crawl(gens[:1], seen[1:], model)[1]


def _envelope(url: str, ctx) -> str:
    status, sha, _ = check.expected_live(urlsplit(url).path, retries=1)
    env = {"url": url, "code": status, "body": sha}
    if ctx is not None:
        env["context"] = ctx
    return json.dumps(env)


def test_cli_check_catches_order_context_and_extra_requests():
    inputs = [(f"http://127.0.0.1:1/c{i}", None if i % 2 else [f"x{i}"]) for i in range(40)]
    kept = [(u, c) for u, c in inputs
            if check.expected_live(urlsplit(u).path, 1)[0] < 500]
    lines = [_envelope(u, c) for u, c in kept]
    hits = {urlsplit(u).path: check.expected_live(urlsplit(u).path, 1)[2] for u, _ in inputs}
    assert check.check_cli_output(inputs, lines, hits, 1)[1] == []
    assert check.check_cli_output(inputs, lines[::-1], hits, 1)[1]
    assert check.check_cli_output(inputs, lines[1:], hits, 1)[1]
    wrong_ctx = [_envelope(kept[0][0], ["other"])] + lines[1:]
    assert check.check_cli_output(inputs, wrong_ctx, hits, 1)[1]
    extra = dict(hits, **{urlsplit(inputs[0][0]).path: 5})
    assert check.check_cli_output(inputs, lines, extra, 1)[1]


def test_origin_serves_the_expected_pages():
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "origin.py"),
                             "--hosts", "2", "--delay-ms", "1"],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        addr = json.loads(proc.stdout.readline())
        host, port = addr["hosts"][1]
        paths = [f"/r{i}/0" for i in range(60)]
        for path in paths:
            try:
                with urllib.request.urlopen(f"http://{host}:{port}{path}", timeout=10) as r:
                    got = (r.status, r.read().decode())
            except urllib.error.HTTPError as e:
                got = (e.code, e.read().decode())
            kind = web.outcome(path)
            if kind == web.OK:
                assert got == (200, web.page_body(path))
            elif kind == web.NOT_FOUND:
                assert got[0] == 404
            else:
                assert got[0] == 500
        control = addr["control"]
        with urllib.request.urlopen(f"http://127.0.0.1:{control}/counters") as r:
            counters = json.load(r)
        assert counters["requests"] == len(paths)
        assert counters["hits"] == {p: 1 for p in paths}
        assert counters["host_inflight"][1]["peak"] >= 1
    finally:
        proc.stdin.close()
        proc.wait(timeout=10)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "5", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
