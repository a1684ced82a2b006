"""Crawl benchmark for ganda_spark.

    python3 perfbench/run.py --workload frontier_scale --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository. Workloads:

  frontier_scale  mock-fetch CrawlDriver with hybrid seen set, delta
                  checkpoints with compaction and a global budget
                  (frontier-bound)
  cli_pipe        URL+TSV-context lines piped into the ganda_spark CLI
                  against the origin, a fresh process per invocation

Every program process is started fresh, with the environment pinned below.
With --trace 0 the run reports the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. Outputs are checked in both. The last
line of stdout is one JSON object {correct, attempted, failed, metrics}.
See perfbench/README.md for the metrics and what each one means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
from origin import host_of  # noqa: E402
from tracing import BOOKKEEPING, http_fetch_metrics, layer_totals, origin_counters  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
WORKERS = 4 * NPROC  # W: configured fetch concurrency, about 4 x nproc
CHILD_TIMEOUT_S = 150
# fresh-process session starts per run; setup_s is their median. Each
# costs a JVM launch (7-9 s on a 4-core host), so two keep a run short.
SETUP_SAMPLES = 2

# Input sizes per workload: one run measures about RUN_S seconds on a
# 4-core host. A longer --seconds adds generations / invocations in
# proportion; the size of one generation or invocation is fixed.
RUN_S = 30
SIZES = {
    # compact_every=2: generation 0 writes the full snapshot, 1 a delta
    # commit and 2 a compaction, so the steady generations hold both
    "frontier_scale": {
        "n_orders": 10_000, "replicas": 6, "global_budget": 10_000,
        "compact_every": 2, "generations": 3,
    },
    "cli_pipe": {"hosts": 6, "delay_ms": 10, "lines": 600, "invocations": 2},
}
# traced frontier_scale run: generations 1 (delta) and 4 (compaction) plain,
# 2 (compaction) and 3 (delta) traced, so each side holds one of each kind
TRACE_GENERATIONS = 5
TRACE_PLAIN = (1, 4)
SMOKE = {
    "frontier_scale": {"n_orders": 2_000, "replicas": 2, "global_budget": 1_500,
                       "generations": 3},
    "cli_pipe": {"lines": 60, "invocations": 1},
}


def sizes_for(workload: str, seconds: int, smoke: bool, trace: bool) -> dict:
    s = dict(SIZES[workload])
    count = "generations" if "generations" in s else "invocations"
    if smoke:
        s.update(SMOKE[workload])
    else:
        s[count] = max(s[count], round(s[count] * seconds / RUN_S))
    if trace and count == "generations":
        s["generations"] = TRACE_GENERATIONS
        s["plain_generations"] = TRACE_PLAIN
    return s


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def reap_group(pgid: int, grace_s: float = 10.0) -> None:
    """Stop every process left in a child's process group and wait until
    none remains."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


class MemSampler(threading.Thread):
    """Peak summed memory (MB) of a process group — driver JVM plus Python
    workers — read from /proc every 100 ms. It sums the proportional set
    size (PSS), not RSS: forked Python workers share pages with their
    parent, and summed RSS would count those once per process."""

    def __init__(self, pgid: int):
        super().__init__(daemon=True)
        self.pgid = pgid
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total = 0
            for pid in group_pids(self.pgid):
                try:
                    total += pss_kb(pid)
                except OSError:
                    pass
            self.peak_mb = max(self.peak_mb, total / 1e3)
            self._stop_evt.wait(0.1)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


def child_env(run_dir: str, cores: int) -> dict:
    """The pinned environment of every program process."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_worker(spec: dict, run_dir: str, env: dict, log_name: str) -> tuple[dict, float]:
    """Run worker.py on `spec` in a fresh process; (result, peak PSS MB)."""
    work = os.path.join(run_dir, log_name)
    os.makedirs(work)
    spec = dict(spec, work_dir=work)
    with open(os.path.join(work, "log.txt"), "w") as log:
        spec["spawn_t"] = time.monotonic()
        with open(os.path.join(work, "spec.json"), "w") as f:
            json.dump(spec, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), os.path.join(work, "spec.json")],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        mem = MemSampler(proc.pid)
        mem.start()
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            peak = mem.stop()
            reap_group(proc.pid)
            proc.wait()
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"{log_name} exited with {code}; log: {work}/log.txt")
    with open(result_path) as f:
        return json.load(f), peak


class Origin:
    def __init__(self, hosts: int, delay_ms: float, run_dir: str, env: dict):
        self.log = open(os.path.join(run_dir, "origin.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "origin.py"),
             "--hosts", str(hosts), "--delay-ms", str(delay_ms)],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True,
        )
        line = self.proc.stdout.readline()
        if not line:
            self.close()
            raise RuntimeError("origin server did not start")
        self.addr = json.loads(line)

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            pass
        reap_group(self.proc.pid)
        self.proc.wait()
        self.log.close()


def host_noise() -> dict:
    """Load average and a single-thread interpreter ops/s probe, recorded
    with every run so a noisy host is visible next to its numbers."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.2:
        for _ in range(1000):
            n += 1
    return {"loadavg_1m": os.getloadavg()[0], "ops_per_s": n / (time.perf_counter() - t0)}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def setup_probes(n: int, cores: int, run_dir: str, env: dict) -> list[float]:
    out = []
    for i in range(n):
        res, _ = run_worker({"mode": "probe", "cores": cores}, run_dir, env, f"probe{i}")
        out.append(res["setup_s"])
    return out


def crawl_workload(args, sizes: dict, run_dir: str, env: dict) -> dict:
    spec = dict(sizes, mode=args.workload, seed=args.seed, cores=args.cores,
                trace=bool(args.trace))
    res, peak = run_worker(spec, run_dir, env, "workload")
    report = {"res": res, "peak_pss_mb": peak}
    if not args.trace:
        report["setup"] = [res["setup_s"]] + setup_probes(
            SETUP_SAMPLES - 1, args.cores, run_dir, env)
    return report


def cli_lines(seed: int, k: int, hosts: list[list], n: int) -> list[tuple[str, list | None]]:
    """Invocation k's input: distinct paths per invocation (so the origin's
    transient-500 state never carries over), ragged TSV context."""
    rng = random.Random(seed * 1000 + k)
    ids = rng.sample(range(10**9), n)
    out = []
    for i, pid in enumerate(ids):
        addr, port = hosts[host_of(i, n, len(hosts))]
        ctx = None if i % 5 == 4 else [f"ctx{k}-{i}", rng.choice(["a", "b c", "d-e"])]
        out.append((f"http://{addr}:{port}/c{pid}", ctx))
    rng.shuffle(out)
    return out


def cli_invocation(k: int, args, sizes: dict, origin: Origin, run_dir: str, env: dict,
                   traced: bool) -> dict:
    inputs = cli_lines(args.seed, k, origin.addr["hosts"], sizes["lines"])
    in_path = os.path.join(run_dir, f"cli{k}.tsv")
    with open(in_path, "w") as f:
        for url, ctx in inputs:
            f.write("\t".join([url] + (ctx or [])) + "\n")
    cli_args = ["-W", str(WORKERS), "-B", "sha256", "-J", "-s", "--cores", str(args.cores),
                "-r", "1", "--base-retry-millis", "5"]
    out_path = os.path.join(run_dir, f"cli{k}.json")
    cmd = [sys.executable, os.path.join(HERE, "cli_run.py"), out_path,
           str(origin.addr["control"]), str(WORKERS), str(int(traced)), "--"] + cli_args
    before = origin_counters(origin.addr["control"])["hits"]
    lines, first = [], None
    with open(in_path) as stdin, open(os.path.join(run_dir, f"cli{k}.err"), "w") as err:
        spawn_t = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=dict(env, PERFBENCH_SPAWN_T=repr(spawn_t)),
                                stdin=stdin, stdout=subprocess.PIPE, stderr=err,
                                start_new_session=True, text=True)
        mem = MemSampler(proc.pid)
        mem.start()
        timer = threading.Timer(CHILD_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in proc.stdout:
                if first is None:
                    first = time.monotonic() - spawn_t
                lines.append(line.rstrip("\n"))
            code = proc.wait()
            wall = time.monotonic() - spawn_t
        finally:
            timer.cancel()
            peak = mem.stop()
            reap_group(proc.pid)
            proc.wait()
    if code != 0:
        raise RuntimeError(f"CLI invocation {k} exited with {code}; see {run_dir}/cli{k}.err")
    after = origin_counters(origin.addr["control"])["hits"]
    hits = {p: n - before.get(p, 0) for p, n in after.items() if n != before.get(p, 0)}
    attempted, failures = check.check_cli_output(inputs, lines, hits, retries=1)
    with open(out_path) as f:
        hooks = json.load(f)
    return {"wall": wall, "first_line": first if first is not None else wall,
            "setup_s": hooks["setup_s"], "trace": hooks,
            "lines_in": len(inputs), "lines_out": len(lines), "peak_pss_mb": peak,
            "attempted": attempted, "failures": failures}


def cli_workload(args, sizes: dict, run_dir: str, env: dict) -> dict:
    origin = Origin(sizes["hosts"], sizes["delay_ms"], run_dir, env)
    try:
        if args.trace:
            runs = [cli_invocation(k, args, sizes, origin, run_dir, env, traced=k == 1)
                    for k in range(2)]
            return {"runs": runs}
        runs = [cli_invocation(k, args, sizes, origin, run_dir, env, traced=False)
                for k in range(sizes["invocations"])]
    finally:
        origin.close()
    setup = [r["setup_s"] for r in runs]
    return {"runs": runs,
            "setup": setup + setup_probes(SETUP_SAMPLES - len(setup), args.cores, run_dir, env)}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

E2E_UNITS = {"setup_s": "s", "urls_per_s": "URLs/s", "batch_p50_s": "s",
             "first_output_s": "s", "peak_pss_mb": "MB"}


def crawl_e2e(report: dict) -> dict:
    res = report["res"]
    walls, gens = res["walls"], res["gens"]
    steady = walls[1:]
    done = sum(m["results"] + m["errors"] for m in gens[1:])
    return {
        "setup_s": statistics.median(report["setup"]),
        "urls_per_s": done / sum(steady),
        "batch_p50_s": statistics.median(steady),
        "first_output_s": walls[0],
        "peak_pss_mb": report["peak_pss_mb"],
    }


def cli_e2e(report: dict) -> dict:
    runs = report["runs"]
    return {
        "setup_s": statistics.median(report["setup"]),
        "urls_per_s": statistics.median(r["lines_in"] / r["wall"] for r in runs),
        "batch_p50_s": statistics.median(r["wall"] for r in runs),
        "first_output_s": statistics.median(r["first_line"] for r in runs),
        "peak_pss_mb": statistics.median(r["peak_pss_mb"] for r in runs),
    }


# Per-layer metrics and their units. A layer the workload does not run
# reports 0 (see README).
LAYER_UNITS = {
    "sources.seed_s": "s", "sources.parse_s": "s",
    "seen.filter_s": "s", "seen.executor_s": "s", "seen.shuffle_mb": "MB",
    "seen.dropped_share": "ratio", "seen.prefilter_positive_share": "ratio",
    "seen.prefilter_grow_s": "s",
    "politeness.pop_s": "s", "politeness.place_s": "s", "politeness.shuffle_mb": "MB",
    "politeness.released": "count", "politeness.deferred": "count",
    "politeness.fetch_partition_skew": "ratio",
    "fetch.s": "s", "fetch.executor_s": "s",
    "http_fetch.s": "s", "http_fetch.executor_s": "s",
    "http_fetch.requests_per_url": "ratio", "http_fetch.retries_per_url": "ratio",
    "http_fetch.conns_per_request": "ratio", "http_fetch.inflight_mean": "count",
    "http_fetch.inflight_peak": "count", "http_fetch.host_inflight_peak": "count",
    "http_fetch.concurrency_share": "ratio", "origin.cpu_share": "ratio",
    "checkpoint.commit_s": "s", "checkpoint.mb_written": "MB",
    "checkpoint.files_written": "count", "checkpoint.readback_s": "s",
    "frontier_loop.jobs_per_gen": "count", "frontier_loop.stages_per_gen": "count",
    "frontier_loop.executor_s_per_gen": "s", "frontier_loop.idle_share": "ratio",
    "frontier_loop.persistent_rdds": "count", "frontier_loop.gen_growth": "ratio",
    "sinks.emit_s": "s", "sinks.lines": "count",
    "cli.setup_s": "s", "cli.self_s": "s",
    "trace.overhead_ratio": "ratio",
    "check.failed_share": "ratio",
    "host.loadavg_1m": "count", "host.ops_per_s": "1/s",
}


def crawl_layers(report: dict, cores: int) -> dict:
    res = report["res"]
    tr = res["trace"]
    walls = res["walls"]
    plain = list(TRACE_PLAIN)
    traced = [g for g in range(1, len(walls)) if g not in plain]
    n_tr = len(traced)
    span, counts = tr["span_s"], tr["counts"]
    layers = layer_totals(tr["stages"])
    loop = [tr["stages"].get(f"g{g}|loop", {}) for g in plain]
    loop_wall = sum(walls[g] for g in plain)
    loop_exec = sum(r.get("executor_s", 0.0) for r in loop)

    def per_gen(key):
        return span.get(key, 0.0) / n_tr

    return {
        "sources.seed_s": span.get("sources", 0.0),
        "seen.filter_s": per_gen("seen"),
        "seen.executor_s": layers["seen"]["executor_s"] / n_tr,
        "seen.shuffle_mb": layers["seen"]["shuffle_mb"] / n_tr,
        "seen.dropped_share": 1 - counts["seen_out"] / max(counts["seen_in"], 1),
        "seen.prefilter_positive_share": counts["seen_positive"] / max(counts["seen_in"], 1),
        "seen.prefilter_grow_s": per_gen("seen.grow"),
        "politeness.pop_s": per_gen("politeness.pop"),
        "politeness.place_s": per_gen("politeness.place"),
        "politeness.shuffle_mb": (layers["politeness.pop"]["shuffle_mb"]
                                  + layers["politeness.place"]["shuffle_mb"]) / n_tr,
        "politeness.released": counts["released"] / n_tr,
        "politeness.deferred": counts["deferred"] / n_tr,
        "politeness.fetch_partition_skew": (statistics.median(counts["skew"])
                                            if counts["skew"] else 0.0),
        "fetch.s": per_gen("fetch"),
        "fetch.executor_s": layers["fetch"]["executor_s"] / n_tr,
        "checkpoint.commit_s": per_gen("checkpoint.commit"),
        "checkpoint.mb_written": counts["ckpt_mb"] / n_tr,
        "checkpoint.files_written": counts["ckpt_files"] / n_tr,
        "checkpoint.readback_s": per_gen("checkpoint.readback"),
        "frontier_loop.jobs_per_gen": sum(r.get("jobs", 0) for r in loop) / len(plain),
        "frontier_loop.stages_per_gen": sum(r.get("stages", 0) for r in loop) / len(plain),
        "frontier_loop.executor_s_per_gen": loop_exec / len(plain),
        "frontier_loop.idle_share": 1 - loop_exec / (cores * loop_wall),
        "frontier_loop.persistent_rdds": max(tr["persistent_rdds"]),
        "frontier_loop.gen_growth": walls[plain[-1]] / walls[plain[0]],
        "trace.overhead_ratio": sum(walls[g] for g in traced) / loop_wall,
    }


def cli_layers(report: dict) -> dict:
    plain, traced = report["runs"]
    tr = traced["trace"]
    span = tr["span_s"]
    layers = layer_totals(tr["stages"])
    out = {
        "sources.parse_s": span.get("sources", 0.0),
        "http_fetch.s": span.get("http_fetch", 0.0),
        "http_fetch.executor_s": layers["http_fetch"]["executor_s"],
        "sinks.emit_s": span.get("sinks", 0.0),
        "sinks.lines": tr["lines"],
        "cli.setup_s": tr["setup_s"],
        # span_s holds the bookkeeping span too, so self_s excludes it
        "cli.self_s": tr["total_s"] - tr["setup_s"] - sum(span.values()),
        "trace.overhead_ratio": (traced["wall"] - span.get(BOOKKEEPING, 0.0))
                                / plain["wall"],
    }
    out.update(http_fetch_metrics(tr["fetch_windows"]))
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description="ganda_spark crawl benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    ap.add_argument("--cores", type=int, default=NPROC,
                    help="Spark local[N] cores (default nproc); --cores 1 gives the "
                         "single-core baseline of the N->4N scaling check")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ganda_spark", "__init__.py")):
        print(f"error: no ganda_spark package under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    sizes = sizes_for(args.workload, args.seconds, args.smoke, bool(args.trace))
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    env = child_env(run_dir, args.cores)
    noise = host_noise()
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} cores={args.cores} "
          f"W={WORKERS} sizes={json.dumps(sizes, sort_keys=True)}")
    print(f"# host: loadavg_1m={noise['loadavg_1m']:.2f} ops_per_s={noise['ops_per_s']:.4g}")

    t0 = time.monotonic()
    if args.workload == "cli_pipe":
        report = cli_workload(args, sizes, run_dir, env)
        attempted = sum(r["attempted"] for r in report["runs"])
        failures = [f for r in report["runs"] for f in r["failures"]]
        n_failed = len(failures)
        for k, r in enumerate(report["runs"]):
            print(f"# invocation {k}: wall={r['wall']:.3f}s first_line={r['first_line']:.3f}s "
                  f"lines_in={r['lines_in']} lines_out={r['lines_out']}")
    else:
        report = crawl_workload(args, sizes, run_dir, env)
        res = report["res"]
        attempted, failures, n_failed = res["attempted"], res["failures"], res["n_failed"]
        for g, (m, w) in enumerate(zip(res["gens"], res["walls"])):
            print(f"# gen {g}: wall={w:.3f}s released={m['released']} "
                  f"results={m['results']} errors={m['errors']} "
                  f"dedup_dropped={m['dedup_dropped']}")
        print(f"# seen={res['seen']} digest={res['seen_digest'][:16]}")
    for f in failures[: check.MAX_SHOWN]:
        print(f"# MISMATCH {f}")
    print(f"# failed_share={n_failed / max(attempted, 1):.6f} "
          f"({n_failed} of {attempted}), run wall {time.monotonic() - t0:.1f}s")

    if args.trace:
        values = dict.fromkeys(LAYER_UNITS, 0.0)
        values.update(cli_layers(report) if args.workload == "cli_pipe"
                      else crawl_layers(report, args.cores))
        values["check.failed_share"] = n_failed / max(attempted, 1)
        values["host.loadavg_1m"] = noise["loadavg_1m"]
        values["host.ops_per_s"] = noise["ops_per_s"]
        units = LAYER_UNITS
    else:
        values = cli_e2e(report) if args.workload == "cli_pipe" else crawl_e2e(report)
        units = E2E_UNITS
    for k, v in values.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    if n_failed == 0:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 1 if n_failed else 0


if __name__ == "__main__":
    sys.exit(main())
