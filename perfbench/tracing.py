"""Per-layer tracing for the traced benchmark run.

Spans are recorded from the benchmark's own code around calls into the
program's public functions; the program itself is not modified. A
`Tracer` can wrap a public function so that, while tracing is on, the
call runs under a Spark job group named after its layer and its lazy
DataFrame result is persisted and counted inside the span — so the span
holds the layer's own work instead of a plan build. After the run, the
job groups are joined with Spark's status store to give executor run
time, shuffle bytes, spill and job/stage counts per layer.

Materializing each layer separately costs extra jobs and breaks
pipelining between layers; the traced run reports that cost as the ratio
of traced to untraced generation wall time. The benchmark's own counting
(row counts, origin counter reads, status-store reads) runs in a
`bookkeeping` span of its own, which is taken out of the traced wall.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

BOOKKEEPING = "bookkeeping"


def origin_counters(control_port: int, reset_peaks: bool = False) -> dict:
    url = f"http://127.0.0.1:{control_port}/counters"
    if reset_peaks:
        url += "?reset_peaks=1"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def origin_window(before: dict, after: dict, workers: int, urls: int) -> dict:
    """http_fetch.* metrics of the interval between two counter snapshots
    in which `urls` URLs were fetched with `workers` configured (W)."""
    return {
        "requests": after["requests"] - before["requests"],
        "urls": urls,
        "connections": after["connections"] - before["connections"],
        "inflight_integral_s": after["inflight"]["integral_s"] - before["inflight"]["integral_s"],
        "window_s": after["t"] - before["t"],
        "inflight_peak": after["inflight"]["peak"],
        "host_inflight_peak": max(h["peak"] for h in after["host_inflight"]),
        "origin_cpu_s": after["cpu_s"] - before["cpu_s"],
        "workers": workers,
    }


def http_fetch_metrics(windows: list[dict]) -> dict:
    """Fold origin windows into the http_fetch.* per-layer metrics."""
    urls = sum(w["urls"] for w in windows) or 1
    requests = sum(w["requests"] for w in windows)
    window_s = sum(w["window_s"] for w in windows) or 1e-9
    inflight_mean = sum(w["inflight_integral_s"] for w in windows) / window_s
    workers = windows[0]["workers"] if windows else 1
    return {
        "http_fetch.requests_per_url": requests / urls,
        "http_fetch.retries_per_url": (requests - urls) / urls,
        "http_fetch.conns_per_request": (
            sum(w["connections"] for w in windows) / max(requests, 1)
        ),
        "http_fetch.inflight_mean": inflight_mean,
        "http_fetch.inflight_peak": max((w["inflight_peak"] for w in windows), default=0),
        "http_fetch.host_inflight_peak": max(
            (w["host_inflight_peak"] for w in windows), default=0
        ),
        "http_fetch.concurrency_share": inflight_mean / workers,
        "origin.cpu_share": sum(w["origin_cpu_s"] for w in windows) / window_s,
    }


class Tracer:
    """Named spans (summed wall seconds) plus Spark job groups.

    Job group ids are `<prefix>|<layer>`; `prefix` tags the generation
    (or CLI invocation) so per-generation job counts can be read back."""

    def __init__(self):
        self.active = False
        self.prefix = "run"
        self.span_s: dict[str, float] = defaultdict(float)
        self.handles: list = []

    @property
    def sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @property
    def bookkeeping_s(self) -> float:
        return self.span_s[BOOKKEEPING]

    def bookkeeping(self):
        """Span for the benchmark's own counting, not the program's work."""
        return self.group(BOOKKEEPING)

    @contextmanager
    def group(self, layer: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{self.prefix}|{layer}", layer)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.span_s[layer] += time.monotonic() - t0
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev.split("|")[-1])

    def materialize(self, df):
        df = df.persist()
        n = df.count()
        self.handles.append(df)
        return df, n

    def release(self) -> None:
        for df in self.handles:
            df.unpersist()
        self.handles.clear()

    def wrap(self, layer: str, fn, after=None):
        """fn's DataFrame result(s) materialized inside the `layer` span
        while tracing is on; `after(args, outputs, row_counts)` then
        records layer counts in the bookkeeping span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.group(layer):
                out = fn(*args, **kwargs)
                many = isinstance(out, tuple)
                parts = out if many else (out,)
                done, rows = [], []
                for part in parts:
                    if hasattr(part, "persist"):
                        part, n = self.materialize(part)
                        rows.append(n)
                    done.append(part)
                out = tuple(done) if many else done[0]
            if after is not None:
                with self.bookkeeping():
                    after(args, out, rows)
            return out

        return traced

    # -- status store -------------------------------------------------------

    def stage_metrics(self) -> dict[str, dict]:
        """Per job-group totals: jobs, completed stages, executor run
        seconds, shuffle write MB and spill MB."""
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        by_stage: dict[int, list[float]] = {}
        for i in range(stages.length()):
            s = stages.apply(i)
            if s.status().toString() != "COMPLETE":
                continue
            rec = by_stage.setdefault(s.stageId(), [0.0, 0.0, 0.0])
            rec[0] += s.executorRunTime() / 1000.0
            rec[1] += s.shuffleWriteBytes() / 1e6
            rec[2] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        out: dict[str, dict] = defaultdict(
            lambda: {"jobs": 0, "stages": 0, "executor_s": 0.0,
                     "shuffle_mb": 0.0, "spill_mb": 0.0}
        )
        jobs = store.jobsList(None)
        for i in range(jobs.length()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined():
                continue
            rec = out[group.get()]
            rec["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.length()):
                stage = by_stage.get(ids.apply(k))
                if stage is not None:
                    rec["stages"] += 1
                    rec["executor_s"] += stage[0]
                    rec["shuffle_mb"] += stage[1]
                    rec["spill_mb"] += stage[2]
        return dict(out)


def layer_totals(stage_metrics: dict[str, dict]) -> dict[str, dict]:
    """Sum `<prefix>|<layer>` groups over prefixes, keyed by layer."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for group, rec in stage_metrics.items():
        layer = group.split("|")[-1]
        for k, v in rec.items():
            out[layer][k] += v
    return out
