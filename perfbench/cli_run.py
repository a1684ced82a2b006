"""Run the ganda_spark CLI (`python -m ganda_spark`) for the cli_pipe
workload, with the benchmark's hooks around its public calls.

    python3 perfbench/cli_run.py <out.json> <origin control port> <W> <trace 0|1> -- <cli args>

Always records when the SparkSession is ready, counted from process spawn
(PERFBENCH_SPAWN_T, time.monotonic() at spawn), which gives setup_s. With
trace 1 it also wraps session start, parse_url_lines, http_fetch_udf and
emit_stdout in per-layer spans and records origin counter windows around
the fetch and the Spark stage totals per layer, in a bookkeeping span of
their own. It then runs the CLI's own main() and writes what it recorded
to <out.json>.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from pyspark.sql import SparkSession  # noqa: E402

import ganda_spark.cli as cli  # noqa: E402
from ganda_spark import session, sinks  # noqa: E402
from ganda_spark.operators import http_fetch  # noqa: E402
from ganda_spark.sources import url_lines  # noqa: E402
from tracing import Tracer, origin_counters, origin_window  # noqa: E402


def install_tracing(tracer: Tracer, state: dict, control: int, workers: int) -> None:
    inner_fetch = tracer.wrap("http_fetch", http_fetch.http_fetch_udf)

    def traced_fetch(frontier, cfg):
        with tracer.bookkeeping():
            before = origin_counters(control, reset_peaks=True)
        out = inner_fetch(frontier, cfg)
        with tracer.bookkeeping():
            after = origin_counters(control)
            state["fetch_windows"].append(origin_window(before, after, workers, out.count()))
        return out

    emit = sinks.emit_stdout

    def traced_emit(results, cfg, *args, **kwargs):
        with tracer.group("sinks"):
            n = emit(results, cfg, *args, **kwargs)
        state["lines"] += n
        return n

    stop = SparkSession.stop

    def traced_stop(self):
        # the status store goes away with the session: read it first
        with tracer.bookkeeping():
            state["stages"] = tracer.stage_metrics()
        tracer.active = False
        stop(self)

    url_lines.parse_url_lines = tracer.wrap("sources", url_lines.parse_url_lines)
    http_fetch.http_fetch_udf = traced_fetch
    sinks.emit_stdout = traced_emit
    SparkSession.stop = traced_stop


def main() -> int:
    out_path, control, workers = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    trace = sys.argv[4] == "1"
    cli_args = sys.argv[sys.argv.index("--") + 1:]
    spawn_t = float(os.environ["PERFBENCH_SPAWN_T"])
    tracer = Tracer()
    state = {"fetch_windows": [], "lines": 0, "stages": {}}

    get_spark = session.get_spark

    def timed_get_spark(*args, **kwargs):
        spark = get_spark(*args, **kwargs)
        state["setup_s"] = time.monotonic() - spawn_t
        tracer.active = trace
        return spark

    # cli.main imports these names at call time, so it sees the wrappers
    session.get_spark = timed_get_spark
    if trace:
        install_tracing(tracer, state, control, workers)

    code = cli.main(cli_args)
    sys.stdout.flush()
    out = {"setup_s": state.get("setup_s", 0.0), "total_s": time.monotonic() - spawn_t}
    if trace:
        out.update(span_s=dict(tracer.span_s), lines=state["lines"],
                   fetch_windows=state["fetch_windows"], stages=state["stages"])
    with open(out_path, "w") as f:
        json.dump(out, f)
    return code


if __name__ == "__main__":
    sys.exit(main())
