"""F7-F9: politeness budgets, priority pop order, robots gating, and
P-invariance of the crawl order (BASELINE.json:14 equality contract)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ganda_spark.config import EngineConfig
from ganda_spark.operators.politeness import partition_for_fetch, pop_batch, robots_gate
from ganda_spark.sources.frontier import seed_frontier


def test_per_host_budget(spark, sf_dir):
    frontier = seed_frontier(spark, sf_dir)
    cfg = EngineConfig(per_host_budget=5)
    released, deferred = pop_batch(frontier, cfg)
    per_host = released.groupBy("host").count()
    assert per_host.where(F.col("count") > 5).count() == 0
    assert released.count() + deferred.count() == frontier.count()


def test_pop_order_is_priority_then_seq(spark, sf_dir):
    frontier = seed_frontier(spark, sf_dir)
    cfg = EngineConfig(per_host_budget=3)
    released, _ = pop_batch(frontier, cfg)
    # reference order oracle in pure pandas
    pdf = frontier.toPandas().sort_values(["priority", "seq"])
    expect = set(pdf.groupby("host").head(3)["url"])
    got = {r["url"] for r in released.select("url").collect()}
    assert got == expect


def test_pop_order_parallelism_invariant(spark, sf_dir):
    """Same released set at 2 and 32 shuffle partitions — determinism under
    parallelism is the engine's strengthening of ganda (SURVEY.md §7d)."""
    frontier = seed_frontier(spark, sf_dir)
    cfg = EngineConfig(per_host_budget=2)
    a, _ = pop_batch(frontier.repartition(2), cfg)
    b, _ = pop_batch(frontier.repartition(32), cfg)
    assert a.select("url").exceptAll(b.select("url")).isEmpty()
    assert b.select("url").exceptAll(a.select("url")).isEmpty()


def test_global_budget_cap(spark, sf_dir):
    frontier = seed_frontier(spark, sf_dir)
    cfg = EngineConfig(per_host_budget=100)
    released, deferred = pop_batch(frontier, cfg, global_budget=50)
    assert released.count() == 50
    assert released.count() + deferred.count() == frontier.count()
    # the released rows are the globally best (priority, seq)
    top = frontier.orderBy("priority", "seq").limit(1).collect()[0]["url"]
    assert released.where(F.col("url") == top).count() == 1


def test_global_rank_matches_reference_and_is_scale_safe(spark, sf_dir):
    """with_global_rank == row_number() OVER (ORDER BY ...) but with no
    unpartitioned Window over the data (VERDICT r1 #5)."""
    from ganda_spark.operators.ranking import (
        assert_no_global_window,
        with_global_rank,
    )

    frontier = seed_frontier(spark, sf_dir)
    # 64 range partitions over a few hundred rows: many tiny partitions
    # that AQE may coalesce inside the persisted intermediate (the session
    # lets it re-plan cached output partitioning) — ranks must stay exact
    for df, parts in ((frontier, 8), (frontier.limit(300), 64)):
        ranked, handle = with_global_rank(df, ["priority", "seq"], parts, rank_col="rk")
        assert_no_global_window(ranked)

        pdf = ranked.select("seq", "priority", "rk").toPandas()
        ref = pdf.sort_values(["priority", "seq"]).reset_index(drop=True)
        assert len(ref) == df.count()
        assert (ref["rk"].to_numpy() == range(1, len(ref) + 1)).all()
        handle.unpersist()


def test_global_window_guard_trips_on_bad_pattern(spark):
    """The guard itself must catch the single-task pattern it exists for
    (regression: an early version was blinded by 'row_number' containing
    its exclusion marker)."""
    import pytest
    from pyspark.sql import Window

    from ganda_spark.operators.ranking import assert_no_global_window

    bad = spark.range(100).withColumn(
        "rk", F.row_number().over(Window.orderBy("id"))
    )
    with pytest.raises(AssertionError, match="global"):
        assert_no_global_window(bad)


def test_global_budget_plan_has_no_global_window(spark, sf_dir):
    from ganda_spark.operators.ranking import assert_no_global_window

    frontier = seed_frontier(spark, sf_dir)
    released, _ = pop_batch(
        frontier, EngineConfig(per_host_budget=100), global_budget=50
    )
    assert_no_global_window(released)


def test_partition_for_fetch_preserves_rows(spark, sf_dir):
    frontier = seed_frontier(spark, sf_dir)
    cfg = EngineConfig(request_workers=8)
    placed = partition_for_fetch(frontier, cfg)
    assert placed.count() == frontier.count()
    assert placed.rdd.getNumPartitions() == 8


def test_partition_for_fetch_caps_partitions_at_huge_w(spark, sf_dir):
    """-W may be up to 2^20; a ~1M-partition repartitionByRange is itself a
    scheduler hazard (ADVICE r2). Partitions cap at 16× parallelism while
    threads_per_task preserves the total -W concurrency contract."""
    from ganda_spark.operators.http_fetch import threads_per_task

    import math

    from ganda_spark.operators.http_fetch import MAX_THREADS_PER_TASK

    frontier = seed_frontier(spark, sf_dir).limit(500)
    cfg = EngineConfig(request_workers=1 << 20)
    placed = partition_for_fetch(frontier, cfg)
    cap = max(spark.sparkContext.defaultParallelism * 16, 64)
    n_parts = placed.rdd.getNumPartitions()
    assert n_parts <= cap
    # the real invariant: per-task pool is ceil(W / partitions) bounded by
    # MAX_THREADS_PER_TASK, so effective concurrency is
    # min(W, partitions x MAX_THREADS_PER_TASK)
    expected = min(MAX_THREADS_PER_TASK, math.ceil(cfg.request_workers / n_parts))
    assert threads_per_task(cfg, n_parts) == expected
    assert n_parts * threads_per_task(cfg, n_parts) == min(
        cfg.request_workers, n_parts * MAX_THREADS_PER_TASK
    )


def test_salting_balances_hot_host(spark, sf_dir):
    """The hot host (~24% of rows) must not pin one task: with the seq
    salt, the max fetch-partition size stays close to uniform."""
    frontier = seed_frontier(spark, sf_dir)
    n = frontier.count()
    cfg = EngineConfig(request_workers=8, skew_salt=8, host_buckets=64)
    placed = partition_for_fetch(frontier, cfg)
    sizes = placed.rdd.glom().map(len).collect()
    hot = frontier.where(F.col("host") == "host-0.test").count()
    assert hot / n > 0.2  # the skew is real
    # no partition holds more than ~2× its fair share
    assert max(sizes) <= (n / 8) * 2.2


def test_fetch_plan_has_single_python_eval(spark, sf_dir):
    """Regression: a deterministic fetch UDF + filter-on-result used to
    double the ArrowEvalPython node (every fetch ran twice, PLANS.md §1)."""
    from ganda_spark.operators.fetch import mock_fetch_udf, split_results

    frontier = seed_frontier(spark, sf_dir)
    results, errors = split_results(
        mock_fetch_udf(frontier, EngineConfig(retries=1))
    )
    for df in (results, errors):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan[:2000]


def test_robots_gate(spark, sf_dir):
    frontier = seed_frontier(spark, sf_dir)
    robots = spark.createDataFrame(
        [("host-0.test", ["/order"], 1000), ("host-1.test", ["/nope"], 0)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    allowed, blocked = robots_gate(frontier, robots)
    assert blocked.where(F.col("host") != "host-0.test").count() == 0
    assert blocked.count() == frontier.where(F.col("host") == "host-0.test").count()
    assert allowed.count() + blocked.count() == frontier.count()
    # explain: the rules join must be a broadcast
    plan = allowed._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


# -- recrawl_schedule (adaptive revisit policy) -----------------------------


def test_recrawl_schedule_backoff_and_clamp(spark):
    import pytest
    from ganda_spark.operators.recrawl import recrawl_schedule

    hist = spark.createDataFrame(
        [
            (1, 0, 10),   # fresh page: base interval
            (2, 3, 10),   # unchanged 3x: 8-gen interval
            (3, 40, 10),  # huge streak: clamped to max_interval
            (4, 2, 18),   # not yet due at gen 20
        ],
        "seq long, unchanged_streak long, last_fetch_gen long",
    )
    r = {
        row.seq: row
        for row in recrawl_schedule(hist, current_gen=20, max_interval=64).collect()
    }
    assert (r[1].revisit_interval, r[1].next_due, r[1].due_now, r[1].overdue) == (
        1, 11, True, 9,
    )
    assert (r[2].revisit_interval, r[2].next_due) == (8, 18)
    assert r[3].revisit_interval == 64 and not r[3].due_now and r[3].overdue == 0
    assert (r[4].revisit_interval, r[4].next_due, r[4].due_now) == (4, 22, False)

    with pytest.raises(ValueError, match="base_interval"):
        recrawl_schedule(hist, current_gen=20, base_interval=0)

    # shuffle-free projection
    out = recrawl_schedule(hist, current_gen=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_adaptive_host_budgets_rule(spark):
    """Hand-computed: base 6, floor 1, slow 200 ms — a clean fast host
    keeps 6, a 50%-OK host gets 3, a clean-but-slow host halves to 3, a
    dead host floors at 1 (never starves)."""
    import pytest

    from ganda_spark.operators.politeness import adaptive_host_budgets

    health = spark.createDataFrame(
        [
            ("fast.test", 10_000, 50),
            ("half.test", 5_000, 50),
            ("slow.test", 10_000, 500),
            ("dead.test", 0, 50),
        ],
        "host string, ok_bp long, mean_latency_ms long",
    )
    got = {
        r.host: r.budget
        for r in adaptive_host_budgets(
            health, base_budget=6, min_budget=1, slow_ms=200
        ).collect()
    }
    assert got == {"fast.test": 6, "half.test": 3, "slow.test": 3, "dead.test": 1}
    # no latency rule → slow host keeps its OK-rate budget
    got2 = {
        r.host: r.budget
        for r in adaptive_host_budgets(health, base_budget=6).collect()
    }
    assert got2["slow.test"] == 6
    with pytest.raises(ValueError, match="min_budget"):
        adaptive_host_budgets(health, min_budget=0)
    with pytest.raises(ValueError, match="base_budget"):
        adaptive_host_budgets(health, base_budget=1, min_budget=2)
