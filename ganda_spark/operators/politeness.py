"""F7-F9: host politeness, robots gating, priority scheduling.

The reference's only per-host control is the transport's 50-conns/host cap
(requests/requests.go:29); its scheduler is FIFO channel order
(cli/cli.go:241-242) and its rate limit is one global ticker
(cli/cli.go:244-250). At 10^10-URL frontier scale those become:

  F7  per-host budget  — release at most `per_host_budget` rows per host
      per generation. Expressed as row_number() over
      (PARTITION BY host ORDER BY priority, seq) <= budget — a pure
      window, SQL-oracle-checkable, no mutable heap.
  F9  priority queue   — the same window IS the priority queue: Spark-native
      top-k pop instead of a per-worker heap. Physical layout:
      repartitionByRange(host_bucket, priority) + sortWithinPartitions so
      one task owns a contiguous host range — co-located politeness
      accounting with zero extra shuffles downstream.
  skew: host_bucket = pmod(xxhash64(host) + salt, buckets) where salt
      splits ONLY the hot hosts (top-k by count or AQE skew stats) so one
      hot host (~24% of our synthetic frontier) cannot pin a single task.
      The budget window stays keyed by the TRUE host, so salting never
      changes semantics, only placement.
  F8  robots gating    — broadcast join of per-host rules; a disallowed
      prefix defers/drops the row before it ever reaches the fetch stage.
  F5  global throttle  — a per-generation release cap (LIMIT budget on the
      popped frontier): Structured Streaming's maxRecordsPerTrigger analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ganda_spark.config import EngineConfig


def host_bucket(host_col, buckets: int, salt_col=None, salt: int = 1):
    """Politeness partition key. With salt>1 the bucket space fans out so a
    hot host spreads over `salt` adjacent buckets (placement only)."""
    h = F.pmod(F.xxhash64(host_col), F.lit(buckets))
    if salt_col is not None and salt > 1:
        return h * salt + F.pmod(salt_col, F.lit(salt))
    return h


def pop_batch(
    frontier: DataFrame,
    cfg: EngineConfig,
    global_budget: int | None = None,
    host_budgets: DataFrame | None = None,
    cache_out: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(released, deferred) for one crawl generation.

    released = per host, the budget-best rows by (priority ASC, seq ASC) —
    ganda's FIFO generalized with priorities; ties broken by seq so the pop
    order is deterministic at ANY parallelism (SURVEY.md §7 risk 2).
    deferred = everything else, carried to the next generation untouched.

    host_budgets: optional (host, budget) overrides — e.g. derived from
    robots crawl-delay (operators/robots.crawl_delay_budgets); broadcast
    join, default = cfg.per_host_budget.

    cache_out: a registry of persisted handles that the CALLER unpersists
    once released and deferred have both been materialized (frontier_loop
    does this after each generation commits). When given, the per-host
    ranked frame is persisted, so released and deferred read one pop
    instead of each re-running the frontier's plan up to the window.
    When global_budget is set, the scale-safe rank also persists an
    intermediate that must stay cached until released/deferred are
    materialized; with cache_out it is appended too, without it it stays
    cached for the session — acceptable only for one-shot callers (oracle
    queries); loop callers MUST pass a registry or they leak one cache per
    generation (VERDICT r2 #1).
    """
    w = Window.partitionBy("host").orderBy(
        F.col("priority").asc(), F.col("seq").asc()
    )
    ranked = frontier.withColumn("_rk", F.row_number().over(w))
    if host_budgets is not None:
        ranked = ranked.join(F.broadcast(host_budgets), "host", "left")
        budget = F.coalesce(F.col("budget"), F.lit(cfg.per_host_budget))
    else:
        budget = F.lit(cfg.per_host_budget)
    if cache_out is not None:
        ranked = ranked.persist()
        cache_out.append(ranked)
    released = ranked.where(F.col("_rk") <= budget).drop("_rk", "budget")
    deferred = ranked.where(F.col("_rk") > budget).drop("_rk", "budget")

    if global_budget is not None:
        # F5: global release cap — deterministic: keep the globally best
        # (priority, seq) rows among the per-host winners. Scale-safe rank
        # (range-partition + per-partition offsets) — an unpartitioned
        # row_number() Window would funnel the whole frontier through one
        # task (VERDICT r1 #5).
        from ganda_spark.operators.ranking import with_global_rank

        # Partition count for the range rank: enough to parallelize, but
        # CAPPED — request_workers may be up to 2^20 (config.MAX_WORKERS)
        # and repartitionByRange with ~1M partitions is itself a
        # scheduler/boundary-sampling hazard (ADVICE r2). 16× the cluster's
        # default parallelism is plenty for rank skew at any -W.
        # Sized from the config and the slots, not from the frontier's
        # RDD: under AQE asking `.rdd` for its partition count runs the
        # frontier's shuffle stages as an extra job every generation.
        default_par = frontier.sparkSession.sparkContext.defaultParallelism
        parts = min(
            max(cfg.request_workers, default_par),
            max(default_par * 16, 64),
        )
        capped, rank_cache = with_global_rank(
            released, ["priority", "seq"], parts, rank_col="_gk"
        )
        if cache_out is not None:
            cache_out.append(rank_cache)
        over = capped.where(F.col("_gk") > global_budget).drop("_gk")
        released = capped.where(F.col("_gk") <= global_budget).drop("_gk")
        deferred = deferred.unionByName(over)
    return released, deferred


def partition_for_fetch(released: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Physical placement for the fetch stage: range-partition on
    (host_bucket, priority) and sort within partitions — every host's rows
    are contiguous in one task (per-host sessions + budgets are local),
    and the hot-host salt spreads placement without touching semantics.

    Partition count is request_workers CAPPED at 16× cluster parallelism
    (same hazard as the rank site above: -W may be 2^20 and a ~1M-partition
    repartitionByRange is a scheduler/boundary-sampling hazard).
    http_fetch sizes each task's pool from the tasks that run at once,
    T = min(partitions, slots): ceil(request_workers / T) threads, bounded
    by MAX_THREADS_PER_TASK — so effective total concurrency is
    min(T × ceil(-W / T), T × MAX_THREADS_PER_TASK). An extreme -W beyond that
    product is treated as "as much concurrency as this cluster can give",
    matching the reference's behavior of -W being an upper bound, not a
    guarantee (its transport also caps idle conns per host)."""
    default_par = released.sparkSession.sparkContext.defaultParallelism
    parts = min(cfg.request_workers, max(default_par * 16, 64))
    salted = released.withColumn(
        "_bucket",
        host_bucket(
            F.col("host"), cfg.host_buckets, salt_col=F.col("seq"), salt=cfg.skew_salt
        ),
    )
    return (
        salted.repartitionByRange(parts, "_bucket", "priority")
        .sortWithinPartitions("_bucket", "priority", "seq")
        .drop("_bucket")
    )


def robots_gate(frontier: DataFrame, robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F8: (allowed, blocked) by per-host disallow prefixes.

    robots: (host, disallow_prefixes: array<string>, crawl_delay_ms: int).
    Broadcast join — the rules table is tiny relative to the frontier at
    any scale; prefix test is a JVM higher-order function (exists), no UDF.
    """
    r = F.broadcast(robots.select("host", "disallow_prefixes"))
    joined = frontier.join(r, "host", "left")
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    blocked_pred = F.when(
        F.col("disallow_prefixes").isNotNull(),
        F.exists("disallow_prefixes", lambda p: path.startswith(p)),
    ).otherwise(F.lit(False))
    tagged = joined.withColumn("_blocked", blocked_pred).drop("disallow_prefixes")
    allowed = tagged.where(~F.col("_blocked")).drop("_blocked")
    blocked = tagged.where(F.col("_blocked")).drop("_blocked")
    return allowed, blocked


def adaptive_host_budgets(
    health: DataFrame,
    base_budget: int = 6,
    min_budget: int = 1,
    slow_ms: int | None = None,
) -> DataFrame:
    """Health-driven per-host politeness (the production crawler's
    feedback loop): hosts that answered cleanly keep the full budget,
    failing hosts shrink proportionally to their OK rate, and slow hosts
    halve — bounded below by min_budget so a recovering host can
    re-prove itself instead of starving forever.

        budget = greatest(min_budget,
                          (base·ok_bp DIV 10⁴) [DIV 2 if mean_latency >
                          slow_ms])

    Integer arithmetic throughout (engine-reproducible). Input is the
    crawl_host_health rollup shape (host, ok_bp, mean_latency_ms);
    output (host, budget) feeds pop_batch's host_budgets — host-count
    sized, broadcast by the pop join. Compose per generation: last
    generation's fetch outcomes → health → budgets → this generation's
    pop."""
    if min_budget < 1:
        raise ValueError(f"min_budget must be >= 1, got {min_budget}")
    if base_budget < min_budget:
        raise ValueError(
            f"base_budget {base_budget} must be >= min_budget {min_budget}"
        )
    b = F.expr(f"{base_budget} * ok_bp DIV 10000")
    if slow_ms is not None:
        b = F.when(F.col("mean_latency_ms") > slow_ms, F.expr(
            f"({base_budget} * ok_bp DIV 10000) DIV 2"
        )).otherwise(b)
    return health.select(
        "host",
        F.greatest(F.lit(min_budget), b).cast("long").alias("budget"),
    )
