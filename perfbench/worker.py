"""One benchmark process: a set-up probe or one frontier_scale crawl,
started fresh by run.py for every run.

    python3 perfbench/worker.py <spec.json>

The spec names the mode (`probe` or `frontier_scale`), the workload seed,
sizes and the working directory; the worker writes `result.json` there.
Timed sections hold only program calls; inputs are built before and
outputs checked after.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


def start_session(spec: dict):
    from ganda_spark.session import get_spark

    spark = get_spark(f"perfbench-{spec['mode']}", cores=spec["cores"])
    setup_s = time.monotonic() - spec["spawn_t"]
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def write_orders(seed: int, n_orders: int, path: str) -> None:
    """A TPC-H-shaped `orders` table (the columns seed_frontier reads)."""
    import pandas as pd

    rng = random.Random(seed)
    keys = sorted(rng.sample(range(1, 60 * n_orders), n_orders))
    pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": [rng.randrange(1, 150_000) for _ in keys],
        "o_orderstatus": [rng.choice("OFP") for _ in keys],
        "o_orderpriority": [
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
            for _ in keys
        ],
    }).to_parquet(path, index=False)


# ---------------------------------------------------------------------------
# discover (the crawl's link extraction)
# ---------------------------------------------------------------------------


def discover_next(results):
    """Every 10th seq links one new `/next` child (tools/rehearsal.py
    shape); every 4th seq from 1 links back to its own, now seen, URL, so
    the seen filter has URLs to drop."""
    from pyspark.sql import functions as F

    cols = ("host", "priority", "context")
    children = results.where(
        (F.col("seq") % 10 == 0) & (~F.col("url").contains("/next"))
    ).select(
        (F.col("seq") + 1_000_000_000).alias("seq"),
        F.concat(F.col("url"), F.lit("/next")).alias("url"), *cols,
    )
    back = results.where(F.col("seq") % 4 == 1).select(
        (F.col("seq") + 2_000_000_000).alias("seq"), "url", *cols)
    return children.unionByName(back)


# ---------------------------------------------------------------------------
# tracing hooks (traced run only)
# ---------------------------------------------------------------------------


def install_tracing(tracer, driver) -> dict:
    """Wrap the public calls CrawlDriver.run_generation makes; returns
    the dict the wrappers fill with layer counts. The counts are taken in
    the tracer's bookkeeping span, which the generation wall excludes."""
    import numpy as np
    from pyspark.sql import functions as F

    from ganda_spark.operators import seen as seen_mod
    from ganda_spark.streaming import frontier_loop

    counts = {"seen_in": 0, "seen_out": 0, "seen_positive": 0, "released": 0,
              "deferred": 0, "skew": [], "ckpt_mb": 0.0, "ckpt_files": 0}

    def seen_rows(args, out, rows):
        eligible, _seen, prefilter = args
        h = eligible.select(F.xxhash64("url").alias("h")).toPandas()["h"]
        counts["seen_in"] += len(h)
        counts["seen_out"] += rows[0]
        counts["seen_positive"] += int(prefilter.might_contain(h.to_numpy(dtype=np.int64)).sum())

    def pop_rows(args, out, rows):
        counts["released"] += rows[0]
        counts["deferred"] += rows[1]

    def place_rows(args, out, rows):
        sizes = [r[0] for r in out.groupBy(F.spark_partition_id()).count()
                 .select("count").collect()]
        parts = out.rdd.getNumPartitions()
        if sizes:
            counts["skew"].append(max(sizes) / (sum(sizes) / parts))

    seen_mod.filter_unseen_hybrid = tracer.wrap(
        "seen", seen_mod.filter_unseen_hybrid, seen_rows)
    seen_mod.build_bloom_tree = tracer.wrap("seen.grow", seen_mod.build_bloom_tree)
    frontier_loop.pop_batch = tracer.wrap("politeness.pop", frontier_loop.pop_batch, pop_rows)
    frontier_loop.partition_for_fetch = tracer.wrap(
        "politeness.place", frontier_loop.partition_for_fetch, place_rows)
    driver.fetcher = tracer.wrap("fetch", driver.fetcher)

    commit = driver.store.commit

    def traced_commit(gen, tables, metrics):
        if not tracer.active:
            return commit(gen, tables, metrics)
        with tracer.group("checkpoint.commit"):
            snap = commit(gen, tables, metrics)
        with tracer.bookkeeping():
            for root, _dirs, files in os.walk(snap.path):
                data = [f for f in files if not f.startswith((".", "_"))]
                counts["ckpt_files"] += len(data)
                counts["ckpt_mb"] += sum(
                    os.path.getsize(os.path.join(root, f)) for f in data) / 1e6
        return snap

    driver.store.commit = traced_commit
    driver._read_frontier = tracer.wrap("checkpoint.readback", driver._read_frontier)
    driver._read_seen = tracer.wrap("checkpoint.readback", driver._read_seen)
    return counts


# ---------------------------------------------------------------------------
# the frontier_scale crawl
# ---------------------------------------------------------------------------


def run_crawl(spec: dict) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    import check
    from ganda_spark.config import EngineConfig
    from ganda_spark.sources.frontier import seed_frontier
    from ganda_spark.streaming.frontier_loop import CrawlDriver

    spark, setup_s = start_session(spec)
    sc = spark.sparkContext
    work = spec["work_dir"]
    trace = spec["trace"]
    plain = set(spec.get("plain_generations", ()))

    orders_dir = os.path.join(work, "sf")
    os.makedirs(orders_dir)
    write_orders(spec["seed"], spec["n_orders"], os.path.join(orders_dir, "orders.parquet"))

    def build_seed():
        base = seed_frontier(spark, orders_dir)
        out = None
        for r in range(spec["replicas"]):
            part = base.select(
                (F.col("seq") + F.lit(r * 10_000_000)).alias("seq"),
                F.concat(F.col("url"), F.lit(f"?r={r}")).alias("url"),
                "host", "priority", "context",
            )
            out = part if out is None else out.unionByName(part)
        return out

    cfg = EngineConfig(retries=1, request_workers=spec["cores"], per_host_budget=1 << 30)
    driver = CrawlDriver(
        spark, cfg, os.path.join(work, "ckpt"), discover=discover_next,
        global_budget=spec["global_budget"], seen_strategy="hybrid",
        checkpoint_mode="delta", compact_every=spec["compact_every"],
    )

    if trace:
        from tracing import Tracer

        tracer = Tracer()
        counts = install_tracing(tracer, driver)
        spark.range(1).count()  # the session's first job pays one-off start costs
        tracer.active = True
        with tracer.group("sources"):
            seed_df, n_seed = tracer.materialize(build_seed())
        tracer.active = False
    else:
        seed_df = build_seed()

    gen0, frontier, seen = driver.load_state(seed_df)
    walls, gens, persistent = [], [], []
    for g in range(gen0, gen0 + spec["generations"]):
        if trace:
            tracer.prefix = f"g{g}"
            # generation 0 and the `plain` ones run untraced: they give the
            # loop metrics and the untraced wall for the overhead ratio
            tracer.active = g > 0 and g not in plain
            sc.setJobGroup(f"g{g}|loop", "loop")
            kept_s = tracer.bookkeeping_s
        t0 = time.monotonic()
        frontier, seen, m = driver.run_generation(g, frontier, seen)
        wall = time.monotonic() - t0
        if trace:
            wall -= tracer.bookkeeping_s - kept_s
            tracer.active = False
            tracer.release()
            sc.setLocalProperty("spark.jobGroup.id", None)
            persistent.append(sc._jsc.getPersistentRDDs().size())
        walls.append(wall)
        gens.append(m)

    # -- check outputs (untimed) -------------------------------------------
    seen_urls = [r[0] for r in seen.select("url").collect()]
    seed_pd = seed_df.select("seq", "url", "priority").toPandas()
    model = check.model_crawl(
        pd.DataFrame(seed_pd), len(gens), spec["global_budget"], driver.max_redelivery)
    attempted, failures = check.check_model_crawl(gens, seen_urls, model)
    failures += check.check_conservation(gens)

    result = {
        "setup_s": setup_s,
        "walls": walls,
        "gens": gens,
        "attempted": attempted,
        "failures": failures[: check.MAX_SHOWN],
        "n_failed": len(failures),
        "seen": len(seen_urls),
        "seen_digest": check.seen_digest(seen_urls),
    }
    if trace:
        result["trace"] = {
            "span_s": dict(tracer.span_s),
            "stages": tracer.stage_metrics(),
            "counts": counts,
            "persistent_rdds": persistent,
            "seed_rows": n_seed,
        }
    return result


def write_result(spec: dict, result: dict) -> None:
    tmp = os.path.join(spec["work_dir"], "result.json.tmp")
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.rename(tmp, os.path.join(spec["work_dir"], "result.json"))


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    if spec["mode"] == "probe":
        _spark, setup_s = start_session(spec)
        write_result(spec, {"setup_s": setup_s})
    else:
        write_result(spec, run_crawl(spec))
    # skip the orderly session stop: the JVM exits when its stdin (this
    # process) goes away, and run.py reaps the process group
    os._exit(0)


if __name__ == "__main__":
    main()
