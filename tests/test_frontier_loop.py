"""K5/F4: generation loop, checkpoint commit protocol, kill-and-resume,
cross-generation retry redelivery."""

from __future__ import annotations


import pyspark.sql.functions as F
import pytest

from ganda_spark.config import EngineConfig
from ganda_spark.sources.frontier import seed_frontier
from ganda_spark.streaming.checkpoint import WRITE_AHEAD, CheckpointStore
from ganda_spark.streaming.frontier_loop import CrawlDriver


@pytest.fixture()
def ckpt(tmp_path):
    return str(tmp_path / "ckpt")


def _seed(spark, sf_dir, n=300):
    return seed_frontier(spark, sf_dir).limit(n)


def test_loop_drains_frontier(spark, sf_dir, ckpt):
    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=10)
    driver = CrawlDriver(spark, cfg, ckpt)
    metrics = driver.run(_seed(spark, sf_dir), max_generations=50)
    # every generation releases ≤ budget×hosts and the loop terminates
    assert metrics[-1]["released"] > 0
    total_results = sum(m["results"] for m in metrics)
    store = CheckpointStore(ckpt)
    last = store.latest()
    seen = store.read(spark, last.generation, "seen")
    # all results are in the seen set; no url fetched twice
    all_results = [
        store.read(spark, g, "results") for g in store.committed_generations()
    ]
    from functools import reduce

    union = reduce(lambda a, b: a.unionByName(b), all_results)
    assert union.count() == total_results
    assert union.select("url").distinct().count() == total_results  # no double fetch
    assert union.join(seen, "url", "left_anti").count() == 0


def test_retry_redelivery_across_generations(spark, sf_dir, ckpt):
    """retries=0 ⇒ every 5xx row fails its generation, then re-enters with
    attempt+1 after its not_before horizon, and is finally perma-failed."""
    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=1000)
    driver = CrawlDriver(spark, cfg, ckpt, max_redelivery=2)
    seed = _seed(spark, sf_dir, 1000)
    metrics = driver.run(seed, max_generations=20)
    store = CheckpointStore(ckpt)
    gens = store.committed_generations()
    assert len(gens) >= 3  # redelivery forces extra generations
    err0 = store.read(spark, 0, "errors")
    n_err0 = err0.count()
    assert n_err0 > 0
    # every gen-0 error shows up in a later frontier with attempt=1
    f0 = store.read(spark, 0, "frontier")
    redelivered = f0.where(F.col("attempt") == 1)
    assert redelivered.count() == n_err0
    assert redelivered.where(F.col("not_before") <= 0).count() == 0


def test_kill_and_resume(spark, sf_dir, ckpt):
    cfg = EngineConfig(retries=1, request_workers=4, per_host_budget=5)
    seed = _seed(spark, sf_dir, 400)
    # run 2 generations, "crash"
    d1 = CrawlDriver(spark, cfg, ckpt)
    gen, frontier, seen = d1.load_state(seed)
    for g in range(2):
        frontier, seen, _ = d1.run_generation(g, frontier, seen)
    # resume with a FRESH driver: must continue at gen 2, not refetch
    d2 = CrawlDriver(spark, cfg, ckpt)
    gen2, frontier2, seen2 = d2.load_state(seed)
    assert gen2 == 2
    assert seen2.count() == seen.count()
    m = d2.run(seed, max_generations=30)
    store = CheckpointStore(ckpt)
    all_gens = store.committed_generations()
    assert all_gens[0] == 0 and all_gens[1] == 1 and len(all_gens) >= 3
    # the full run's seen set equals the union of all results+perma-failures,
    # and no url was fetched in two different generations
    from functools import reduce

    results = [store.read(spark, g, "results") for g in all_gens]
    union = reduce(lambda a, b: a.unionByName(b), results)
    assert union.count() == union.select("url").distinct().count()


def test_lineage_columns_committed(spark, sf_dir, ckpt):
    cfg = EngineConfig(retries=1, request_workers=4)
    driver = CrawlDriver(spark, cfg, ckpt)
    driver.run(_seed(spark, sf_dir, 100), max_generations=2)
    store = CheckpointStore(ckpt)
    lin = store.read_lineage(spark, 0, "results")
    assert "_batch_id" in lin.columns and "_partition_id" in lin.columns
    assert lin.select("_batch_id").distinct().collect()[0][0] == 0
    assert lin.select("_partition_id").distinct().count() >= 1


def test_partition_metrics_from_snapshot(spark, sf_dir, ckpt):
    """north rule: per-partition fetch/dedup/defer metrics, derivable
    offline from any committed snapshot via the lineage columns."""
    cfg = EngineConfig(retries=1, request_workers=4)
    driver = CrawlDriver(spark, cfg, ckpt)
    driver.run(_seed(spark, sf_dir, 200), max_generations=1)
    store = CheckpointStore(ckpt)
    pm = store.partition_metrics(spark, 0)
    assert pm.columns == ["table", "_batch_id", "_partition_id", "rows"]
    agg = {r["table"]: r["total"] for r in
           pm.groupBy("table").agg(F.sum("rows").alias("total")).collect()}
    # per-partition rows must sum to the committed table totals
    for t in ("results", "errors", "frontier", "seen"):
        assert agg.get(t, 0) == store.read(spark, 0, t).count(), t
    # fetch metric consistency with the manifest accounting
    snap = store.latest()
    assert agg.get("results", 0) == snap.manifest["metrics"]["results"]


def test_live_fetch_executes_once_per_generation(spark, ckpt):
    """Regression (VERDICT r1 #4 / ADVICE r1): only `results` was cached, so
    the errors write, errors.count() and the redeliver/perma-failed splits
    each re-ran the nondeterministic fetch stage — with a REAL fetcher that
    means duplicate live HTTP requests. Pin with the echoserver's per-path
    hit counter: every URL must be requested exactly once."""
    from ganda_spark.echoserver import Echoserver
    from ganda_spark.operators.http_fetch import http_fetch_udf

    with Echoserver() as srv:
        seed = spark.createDataFrame(
            [
                (i, srv.url_for(f"/echo/{i}"), "127.0.0.1", 1, ["c"])
                for i in range(40)
            ],
            "seq long, url string, host string, priority int, context array<string>",
        )
        cfg = EngineConfig(retries=0, request_workers=2, per_host_budget=1000)
        driver = CrawlDriver(spark, cfg, ckpt, fetcher=http_fetch_udf)
        metrics = driver.run(seed, max_generations=3)
        assert sum(m["results"] for m in metrics) == 40
        hits = srv.hits
        dupes = {p: n for p, n in hits.items() if n != 1}
        assert len(hits) == 40 and not dupes, dupes


@pytest.mark.parametrize("seen_strategy", ["exact", "hybrid", "cuckoo"])
def test_global_budget_cache_stays_flat(spark, sf_dir, ckpt, seen_strategy):
    """VERDICT r2 #1: with global_budget set, each generation persists the
    scale-safe rank's intermediate, the pop and (hybrid/cuckoo) the
    prefilter tag pass. The loop must unpersist them after the generation
    commits — the JVM persistent-RDD registry must NOT grow
    generation-over-generation across a 10-generation run."""

    def persistent_rdd_count() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=3)
    driver = CrawlDriver(
        spark, cfg, ckpt, global_budget=20, seen_strategy=seen_strategy
    )
    gen, frontier, seen = driver.load_state(_seed(spark, sf_dir, 600))
    baseline = persistent_rdd_count()
    counts = []
    for g in range(gen, gen + 10):
        if frontier.isEmpty():
            break
        frontier, seen, m = driver.run_generation(g, frontier, seen)
        assert m["released"] <= 20  # the global cap actually binds
        counts.append(persistent_rdd_count())
    assert len(counts) >= 5, "workload drained too fast to exercise the loop"
    # every generation returns the registry to the pre-loop level
    assert all(c <= baseline for c in counts), (baseline, counts)


def test_committed_tables_never_read_the_live_fetch(spark, sf_dir, ckpt):
    """Every committed table reads the generation's write-ahead fetch
    table, never the fetch itself: no table's executed plan holds a fetch
    UDF node, nor an in-memory relation whose cached plan holds one (a
    persisted fetch, which a lost block or executor would re-run). Delta
    mode with compact_every=2 commits both table sets: full snapshots at
    generations 0 and 2, a delta at 1."""
    import re

    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=1000)
    driver = CrawlDriver(
        spark, cfg, ckpt, seen_strategy="hybrid", checkpoint_mode="delta",
        compact_every=2, global_budget=40, content_dedup=True,
        discover=lambda r: r.select(
            (F.col("seq") + 1_000_000).alias("seq"),
            F.concat("url", F.lit("/next")).alias("url"),
            "host", "priority", "context",
        ),
    )
    commit = driver.store.commit
    committed: dict[tuple[int, str], str] = {}

    def inspecting_commit(gen, tables, metrics):
        for name, df in tables.items():
            committed[(gen, name)] = df._jdf.queryExecution().executedPlan().toString()
        return commit(gen, tables, metrics)

    driver.store.commit = inspecting_commit
    driver.run(_seed(spark, sf_dir, 200), max_generations=3)
    assert {(0, "frontier"), (1, "frontier_removes"), (2, "seen")} <= set(committed)
    fetch_udf = re.compile(r"(ArrowEvalPython|BatchEvalPython|MapInPandas).*\bfetch\(")
    for key, plan in committed.items():
        assert not fetch_udf.search(plan), (key, plan)
        assert "InMemoryRelation" not in plan or "fetch(" not in plan, (key, plan)
    # the write-ahead table is part of each committed snapshot
    store = CheckpointStore(ckpt)
    assert all(WRITE_AHEAD in store.snapshot(g).manifest["tables"] for g in (0, 1, 2))


def test_read_back_runs_no_spark_job(spark, sf_dir, ckpt):
    """The store remembers the schema of every table it writes, so the
    generation's read-back (delta reconstruction: base ∪ adds − removes)
    plans without a parquet schema-inference job. A fresh store — the
    resume path — infers the schemas instead and reads the same rows."""
    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=5)
    kw = dict(checkpoint_mode="delta", compact_every=4, max_redelivery=1)
    driver = CrawlDriver(spark, cfg, ckpt, **kw)
    gen, frontier, seen = driver.load_state(_seed(spark, sf_dir, 200))
    for g in range(2):
        frontier, seen, _ = driver.run_generation(g, frontier, seen)
    assert "frontier_adds" in driver.store.snapshot(1).manifest["tables"]

    sc = spark.sparkContext
    group = f"read-back-{id(driver)}"
    sc.setJobGroup(group, "checkpoint read-back")
    try:
        warm = driver._read_frontier(1), driver._read_seen(1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    resumed = CrawlDriver(spark, cfg, ckpt, **kw)
    cold = resumed._read_frontier(1), resumed._read_seen(1)
    for a, b in zip(warm, cold):
        assert a.schema == b.schema
        assert a.count() == b.count() > 0
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_bloom_grow_reads_write_ahead_once(spark, sf_dir, ckpt, monkeypatch):
    """The hybrid prefilter grows from ONE filtered scan of the
    write-ahead table (fetched OK or permanently failed), not a union of
    two scans, and its URLs are exactly the generation's results ∪
    permanently-failed errors — redelivered errors stay out of it."""
    from ganda_spark.operators import seen as seen_mod

    grown: list = []
    build = seen_mod.build_bloom_tree

    def capturing_build(df, **kw):
        grown.append(df)
        return build(df, **kw)

    monkeypatch.setattr(seen_mod, "build_bloom_tree", capturing_build)
    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=1000)
    driver = CrawlDriver(
        spark, cfg, ckpt, seen_strategy="hybrid", max_redelivery=1
    )
    gen, frontier, seen = driver.load_state(_seed(spark, sf_dir, 300))
    for g in range(3):  # gen 0's errors come back, attempt 1, at gen 2
        frontier, seen, _ = driver.run_generation(g, frontier, seen)
    assert len(grown) == 3

    store = driver.store
    n_perma = 0
    for g, df in enumerate(grown):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1, plan
        errors = store.read(spark, g, "errors")
        perma = errors.where(F.col("attempt") + 1 > 1)
        n_perma += perma.count()
        want = store.read(spark, g, "results").select("url").unionByName(
            perma.select("url")
        )
        got = {r.url for r in df.collect()}
        assert got == {r.url for r in want.collect()}
        assert len(got) == want.count()
    assert n_perma > 0, "no permanently failed row reached the grow"
    # gen 0's errors were redelivered: rows the grow had to leave out
    assert store.read(spark, 0, "errors").count() > 0


@pytest.mark.parametrize("mode", ["full", "delta"])
def test_crash_between_write_ahead_and_manifest(spark, sf_dir, tmp_path, mode):
    """A crash after generation 1's write-ahead fetch table and before its
    manifest: a fresh driver resumes at generation 1, overwrites the stale
    table instead of reading it, and ends in the same state as an
    uninterrupted run — per-generation metrics and final seen set."""
    import os

    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=5)
    seed = _seed(spark, sf_dir, 300)
    kw = dict(checkpoint_mode=mode, compact_every=2, max_redelivery=1)

    def committed_state(root):
        store = CheckpointStore(root)
        gens = store.committed_generations()
        metrics = [store.snapshot(g).manifest["metrics"] for g in gens]
        seen = CrawlDriver(spark, cfg, root, **kw)._read_seen(gens[-1])
        return metrics, sorted(r.url for r in seen.collect())

    ref_dir, crash_dir = str(tmp_path / "ref"), str(tmp_path / "crash")
    CrawlDriver(spark, cfg, ref_dir, **kw).run(seed, max_generations=3)

    d1 = CrawlDriver(spark, cfg, crash_dir, **kw)
    write_ahead = d1.store.write_ahead

    def crash_after_write_ahead(gen, df):
        out = write_ahead(gen, df)
        if gen == 1:
            raise RuntimeError("crash after the write-ahead table")
        return out

    d1.store.write_ahead = crash_after_write_ahead
    with pytest.raises(RuntimeError, match="write-ahead"):
        d1.run(seed, max_generations=3)
    stale_dir = os.path.join(crash_dir, "gen=000001", WRITE_AHEAD)
    stale = {f for f in os.listdir(stale_dir) if f.startswith("part-")}
    assert stale and CheckpointStore(crash_dir).latest().generation == 0

    d2 = CrawlDriver(spark, cfg, crash_dir, **kw)
    gen, _, _ = d2.load_state(seed)
    assert gen == 1
    d2.run(seed, max_generations=2)
    rewritten = {f for f in os.listdir(stale_dir) if f.startswith("part-")}
    assert rewritten and not stale & rewritten  # overwritten, not reused
    assert committed_state(crash_dir) == committed_state(ref_dir)


def test_hybrid_seen_strategy_matches_exact(spark, sf_dir, ckpt, tmp_path):
    """seen_strategy='hybrid' (bloom prefilter + exact recovery — the
    10^10 path promised in PLANS.md's f10 row) must produce EXACTLY the
    exact-strategy crawl: same per-generation results, no URL fetched
    twice, and a killed run resumes by rebuilding the bloom from the
    committed seen table."""
    cfg = EngineConfig(
        retries=0, request_workers=4, per_host_budget=7,
        seen_bloom_bits=1 << 16, seen_bloom_hashes=5,
    )
    seed = _seed(spark, sf_dir, 500)

    exact = CrawlDriver(spark, cfg, str(tmp_path / "exact"))
    exact.run(seed, max_generations=30)  # run to drain (empty frontier)

    hybrid = CrawlDriver(spark, cfg, ckpt, seen_strategy="hybrid")
    gen, frontier, seen = hybrid.load_state(seed)
    for g in range(2):  # run 2 generations, then "crash"
        frontier, seen, _ = hybrid.run_generation(g, frontier, seen)
    resumed = CrawlDriver(spark, cfg, ckpt, seen_strategy="hybrid")
    gen2, f2, s2 = resumed.load_state(seed)
    assert gen2 == 2 and resumed._bloom is not None
    assert resumed._bloom.bits.any()  # rebuilt from the committed seen set
    resumed.run(seed, max_generations=30)  # run to drain

    store_h, store_e = CheckpointStore(ckpt), CheckpointStore(str(tmp_path / "exact"))
    from functools import reduce

    def all_result_urls(store):
        dfs = [store.read(spark, g, "results") for g in store.committed_generations()]
        return reduce(lambda a, b: a.unionByName(b), dfs).select("url")

    urls_h = all_result_urls(store_h)
    urls_e = all_result_urls(store_e)
    assert urls_h.count() == urls_h.distinct().count()  # no double fetch
    assert urls_h.exceptAll(urls_e).count() == 0
    assert urls_e.exceptAll(urls_h).count() == 0
    # per-generation release schedule identical too (the bloom never
    # changed WHAT was eligible, only how the dedup executed)
    per_gen_h = {
        g: store_h.read(spark, g, "results").count()
        for g in store_h.committed_generations()
    }
    per_gen_e = {
        g: store_e.read(spark, g, "results").count()
        for g in store_e.committed_generations()
    }
    assert per_gen_h == per_gen_e


def test_cuckoo_seen_strategy_matches_exact(spark, sf_dir, ckpt, tmp_path):
    """seen_strategy='cuckoo' (north rule: "bloom/cuckoo URL-seen set") —
    same contract as hybrid: crawl identical to exact, resumable. The
    table is deliberately undersized (64 buckets × 4 slots for ~500 urls)
    so fingerprint insertion MUST spill to the overflow set — membership
    stays no-false-negative even past the load-factor cliff."""
    cfg = EngineConfig(
        retries=0, request_workers=4, per_host_budget=7,
        seen_cuckoo_buckets=1 << 6,
    )
    seed = _seed(spark, sf_dir, 500)

    exact = CrawlDriver(spark, cfg, str(tmp_path / "exact"))
    exact.run(seed, max_generations=30)

    cuckoo = CrawlDriver(spark, cfg, ckpt, seen_strategy="cuckoo")
    gen, frontier, seen = cuckoo.load_state(seed)
    for g in range(2):
        frontier, seen, _ = cuckoo.run_generation(g, frontier, seen)
    assert cuckoo._bloom is not None and cuckoo._bloom.table.any()
    # the undersized table MUST have spilled — pins that overflow entries
    # are actually recorded, not silently dropped (the no-false-negative
    # property this test's docstring claims)
    assert len(cuckoo._bloom.overflow) > 0
    resumed = CrawlDriver(spark, cfg, ckpt, seen_strategy="cuckoo")
    gen2, f2, s2 = resumed.load_state(seed)
    assert gen2 == 2 and resumed._bloom.table.any()  # rebuilt on resume
    resumed.run(seed, max_generations=30)

    store_c, store_e = CheckpointStore(ckpt), CheckpointStore(str(tmp_path / "exact"))
    from functools import reduce

    def all_result_urls(store):
        dfs = [store.read(spark, g, "results") for g in store.committed_generations()]
        return reduce(lambda a, b: a.unionByName(b), dfs).select("url")

    urls_c, urls_e = all_result_urls(store_c), all_result_urls(store_e)
    assert urls_c.count() == urls_c.distinct().count()  # no double fetch
    assert urls_c.exceptAll(urls_e).count() == 0
    assert urls_e.exceptAll(urls_c).count() == 0


def test_discovery_expands_frontier(spark, sf_dir, ckpt):
    """Fetched pages yield new URLs (span extraction model) that get
    crawled in later generations exactly once."""
    cfg = EngineConfig(retries=1, request_workers=4, per_host_budget=1000)

    def discover(results):
        # each fetched /order/K page "links to" /order/K+100000
        return results.select(
            (F.col("seq") + 1_000_000).alias("seq"),
            F.concat(F.col("url"), F.lit("/next")).alias("url"),
            F.col("host"),
            F.col("priority"),
            F.col("context"),
        ).where(~F.col("url").rlike("/next/next"))  # depth 1 only

    driver = CrawlDriver(spark, cfg, ckpt, discover=discover)
    metrics = driver.run(_seed(spark, sf_dir, 100), max_generations=10)
    store = CheckpointStore(ckpt)
    from functools import reduce

    results = [
        store.read(spark, g, "results") for g in store.committed_generations()
    ]
    union = reduce(lambda a, b: a.unionByName(b), results)
    n_next = union.where(F.col("url").endswith("/next")).count()
    assert n_next > 0
    assert union.count() == union.select("url").distinct().count()


def test_delta_checkpoint_matches_full(spark, sf_dir, ckpt, tmp_path):
    """checkpoint_mode='delta' (budget-sized commits + periodic compaction
    — the parquet analog of Iceberg delete files) must produce EXACTLY the
    full-rewrite crawl: same per-generation results, no URL fetched twice,
    and a killed run resumes by reconstructing the frontier from
    base ∪ adds − removes mid-delta-window. Discover fan-out + retry
    redelivery are both on, so adds and removes (including the
    remove-then-re-add-same-seq redelivery case) are exercised."""
    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=7)
    seed = _seed(spark, sf_dir, 500)

    def discover(results):
        return results.where(
            (F.col("seq") % 5 == 0) & (~F.col("url").contains("/next"))
        ).select(
            (F.col("seq") + 1_000_000).alias("seq"),
            F.concat(F.col("url"), F.lit("/next")).alias("url"),
            "host",
            "priority",
            "context",
        )

    full = CrawlDriver(
        spark, cfg, str(tmp_path / "full"), discover=discover, max_redelivery=2
    )
    full.run(seed, max_generations=30)

    delta = CrawlDriver(
        spark, cfg, ckpt, discover=discover, max_redelivery=2,
        checkpoint_mode="delta", compact_every=3,
    )
    gen, frontier, seen = delta.load_state(seed)
    for g in range(2):  # gen 0 full (compaction anchor), gen 1 delta, crash
        frontier, seen, _ = delta.run_generation(g, frontier, seen)
    resumed = CrawlDriver(
        spark, cfg, ckpt, discover=discover, max_redelivery=2,
        checkpoint_mode="delta", compact_every=3,
    )
    gen2, f2, s2 = resumed.load_state(seed)
    assert gen2 == 2
    # 2 pre-crash + 28 = the full run's 30 generations (this frontier
    # does NOT drain in 30 gens — the comparison needs equal gen counts)
    resumed.run(seed, max_generations=28)

    store_d = CheckpointStore(ckpt)
    store_f = CheckpointStore(str(tmp_path / "full"))
    from functools import reduce

    def all_result_urls(store):
        dfs = [store.read(spark, g, "results") for g in store.committed_generations()]
        return reduce(lambda a, b: a.unionByName(b), dfs).select("url")

    urls_d, urls_f = all_result_urls(store_d), all_result_urls(store_f)
    assert urls_d.count() == urls_d.distinct().count()  # no double fetch
    assert urls_d.exceptAll(urls_f).count() == 0
    assert urls_f.exceptAll(urls_d).count() == 0
    per_gen_d = {
        g: store_d.read(spark, g, "results").count()
        for g in store_d.committed_generations()
    }
    per_gen_f = {
        g: store_f.read(spark, g, "results").count()
        for g in store_f.committed_generations()
    }
    assert per_gen_d == per_gen_f
    # delta windows really were delta: non-compaction generations committed
    # adds/removes, not a frontier rewrite
    non_compaction = [
        g for g in store_d.committed_generations() if g % 3 != 0
    ]
    assert non_compaction, "test must cover at least one delta generation"
    for g in non_compaction:
        tables = store_d.snapshot(g).manifest["tables"]
        assert "frontier" not in tables and "frontier_adds" in tables
    # reconstructed seen state matches the full-mode seen state at the end
    last_d = store_d.committed_generations()[-1]
    last_f = store_f.committed_generations()[-1]
    seen_d = resumed._read_seen(last_d).select("url")
    seen_f = store_f.read(spark, last_f, "seen").select("url")
    assert seen_d.exceptAll(seen_f).count() == 0
    assert seen_f.exceptAll(seen_d).count() == 0


def test_delta_drain_terminates_like_full(spark, sf_dir, ckpt, tmp_path):
    """r3 ADVICE: seen-dropped rows LINGER in the reconstructed delta
    frontier until compaction, so a logically drained delta crawl used to
    keep committing empty generations until the next compaction anchor.
    The drain guard (release 0 + no adds ⇒ force compaction) must make the
    delta run terminate at the SAME generation as the full-mode run.

    Construction: discover() re-emits each fetched URL under a fresh seq,
    so generation 1's frontier holds only already-seen rows — the
    anti-join drops every one of them and nothing is released or added."""
    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=1000)
    seed = _seed(spark, sf_dir, 120)

    def rediscover(results):
        # children duplicate the parent URL — guaranteed seen next gen
        return results.select(
            (F.col("seq") + 1_000_000).alias("seq"),
            "url", "host", "priority", "context",
        )

    full = CrawlDriver(
        spark, cfg, str(tmp_path / "full"), discover=rediscover, max_redelivery=0
    )
    m_full = full.run(seed, max_generations=12)

    delta = CrawlDriver(
        spark, cfg, ckpt, discover=rediscover, max_redelivery=0,
        checkpoint_mode="delta", compact_every=4,
    )
    m_delta = delta.run(seed, max_generations=12)

    # both terminate after the same (small) number of generations — no
    # empty filler generations riding out the delta window
    assert len(m_delta) == len(m_full) == 2
    assert m_delta[1]["released"] == 0 and m_delta[1]["results"] == 0
    store_d = CheckpointStore(ckpt)
    gens = store_d.committed_generations()
    assert gens == [0, 1]
    # the drain guard forced a compaction: gen 1 committed a FULL frontier
    last_tables = store_d.snapshot(1).manifest["tables"]
    assert "frontier" in last_tables and "frontier_adds" not in last_tables
    assert store_d.read(spark, 1, "frontier").isEmpty()
    # results parity with full mode, per generation
    for g in gens:
        assert (
            store_d.read(spark, g, "results").count()
            == CheckpointStore(str(tmp_path / "full")).read(spark, g, "results").count()
        )


def test_hybrid_seen_with_delta_checkpoint(spark, sf_dir, ckpt, tmp_path):
    """The 10^10 configuration: bloom-prefilter seen strategy + delta
    checkpoints together. Must equal the exact/full crawl, and a resume
    inside a delta window must rebuild the bloom from the RECONSTRUCTED
    seen table (base ∪ seen_adds)."""
    cfg = EngineConfig(
        retries=0, request_workers=4, per_host_budget=7,
        seen_bloom_bits=1 << 16, seen_bloom_hashes=5,
    )
    seed = _seed(spark, sf_dir, 500)

    ref = CrawlDriver(spark, cfg, str(tmp_path / "ref"))
    ref.run(seed, max_generations=10)

    combo = CrawlDriver(
        spark, cfg, ckpt, seen_strategy="hybrid",
        checkpoint_mode="delta", compact_every=4,
    )
    gen, frontier, seen = combo.load_state(seed)
    for g in range(2):  # crash after gen 1 (a delta generation)
        frontier, seen, _ = combo.run_generation(g, frontier, seen)
    resumed = CrawlDriver(
        spark, cfg, ckpt, seen_strategy="hybrid",
        checkpoint_mode="delta", compact_every=4,
    )
    gen2, f2, s2 = resumed.load_state(seed)
    assert gen2 == 2 and resumed._bloom is not None
    assert resumed._bloom.bits.any()  # rebuilt from reconstructed seen
    resumed.run(seed, max_generations=8)  # 2 + 8 = ref's 10 generations

    store_c, store_r = CheckpointStore(ckpt), CheckpointStore(str(tmp_path / "ref"))
    per_gen_c = {
        g: store_c.read(spark, g, "results").count()
        for g in store_c.committed_generations()
    }
    per_gen_r = {
        g: store_r.read(spark, g, "results").count()
        for g in store_r.committed_generations()
    }
    assert per_gen_c == per_gen_r
    from functools import reduce

    def urls(store):
        dfs = [store.read(spark, g, "results") for g in store.committed_generations()]
        return reduce(lambda a, b: a.unionByName(b), dfs).select("url")

    uc, ur = urls(store_c), urls(store_r)
    assert uc.count() == uc.distinct().count()
    assert uc.exceptAll(ur).count() == 0 and ur.exceptAll(uc).count() == 0


def test_trap_guard_gates_discovered_and_seed(spark, sf_dir, ckpt, tmp_path):
    """trap_guard filters spider traps at frontier ENTRY: a discover that
    emits one calendar-loop URL per fetched page never gets those URLs
    into the frontier, results, or seen set; trap_dropped rides the
    generation metrics; with the guard off the traps ARE crawled."""
    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=1000)

    def discover(results):
        # each fetched page "links to" a calendar trap AND one clean page
        trap = results.select(
            (F.col("seq") + 1_000_000).alias("seq"),
            F.concat(F.col("url"), F.lit("/cal/2024/cal/2024/cal/2024")).alias("url"),
            "host", "priority", "context",
        )
        clean = results.select(
            (F.col("seq") + 2_000_000).alias("seq"),
            F.concat(F.col("url"), F.lit("/next")).alias("url"),
            "host", "priority", "context",
        ).where(~F.col("url").rlike("/next/next|/cal/"))
        return trap.unionByName(clean)

    guarded = CrawlDriver(
        spark, cfg, ckpt, discover=discover, trap_guard={"max_repeat": 3}
    )
    metrics = guarded.run(_seed(spark, sf_dir, 60), max_generations=6)
    assert any(m.get("trap_dropped", 0) > 0 for m in metrics)
    store = CheckpointStore(ckpt)
    last = store.latest()
    seen = store.read(spark, last.generation, "seen")
    assert seen.where(F.col("url").contains("/cal/")).count() == 0
    # clean discovered pages still crawled
    assert seen.where(F.col("url").endswith("/next")).count() > 0

    unguarded = CrawlDriver(
        spark, cfg, str(tmp_path / "noguard"), discover=discover
    )
    m2 = unguarded.run(_seed(spark, sf_dir, 60), max_generations=6)
    assert all("trap_dropped" not in m for m in m2)
    store2 = CheckpointStore(str(tmp_path / "noguard"))
    seen2 = store2.read(spark, store2.latest().generation, "seen")
    assert seen2.where(F.col("url").contains("/cal/")).count() > 0


def test_trap_guard_filters_seed(spark, ckpt):
    """A trap URL planted directly in the seed list never enters gen 0."""
    cfg = EngineConfig(retries=0, request_workers=4, per_host_budget=1000)
    seed = spark.createDataFrame(
        [
            (1, "http://h.test/ok", "h.test", 0, ["c"]),
            (2, "http://h.test/cal/2024/cal/2024/cal/2024", "h.test", 0, ["c"]),
        ],
        "seq long, url string, host string, priority int, context array<string>",
    )
    driver = CrawlDriver(spark, cfg, ckpt, trap_guard={})
    metrics = driver.run(seed, max_generations=3)
    assert sum(m["results"] for m in metrics) == 1
    store = CheckpointStore(ckpt)
    seen = store.read(spark, store.latest().generation, "seen")
    assert [r.url for r in seen.collect()] == ["http://h.test/ok"]


def _mirror_seed(spark, pages=10, variants=3):
    """pages×variants URLs where every variant of a page serves the same
    body (the custom fetcher below keys the body on the page id)."""
    rows = [
        (p * variants + v,
         f"http://host-{p % 3}.test/page/{p}/v/{v}",
         f"host-{p % 3}.test", 0, "")
        for p in range(pages)
        for v in range(variants)
    ]
    return spark.createDataFrame(
        rows, "seq long, url string, host string, priority int, context string"
    )


def _mirror_fetcher(df, cfg):
    from ganda_spark.operators.fetch import mock_fetch_udf

    return mock_fetch_udf(df, cfg).withColumn(
        "body", F.concat(F.lit("PAGE-"), F.regexp_extract("url", r"/page/(\d+)/", 1))
    )


@pytest.mark.parametrize("mode", ["full", "delta"])
def test_content_dedup_drops_mirrors(spark, ckpt, mode):
    """Mirror detection: 10 pages served under 3 URLs each — exactly one
    result row per page survives, mirrors_dropped accounts for the rest,
    and every URL (mirror or not) still enters the seen set (fetched
    once, never refetched)."""
    cfg = EngineConfig(retries=1, request_workers=4, per_host_budget=1000)
    driver = CrawlDriver(
        spark, cfg, ckpt, fetcher=_mirror_fetcher, content_dedup=True,
        checkpoint_mode=mode, compact_every=2,
    )
    metrics = driver.run(_mirror_seed(spark), max_generations=5)
    total_results = sum(m["results"] for m in metrics)
    total_mirrors = sum(m["mirrors_dropped"] for m in metrics)
    assert total_results == 10
    assert total_mirrors == 20
    store = CheckpointStore(ckpt)
    last = store.latest()
    seen = store.read(spark, last.generation, "seen")
    assert seen.count() == 30  # every URL seen exactly once
    # committed results carry 10 distinct bodies, one per page
    all_results = [
        store.read(spark, g, "results") for g in store.committed_generations()
    ]
    from functools import reduce

    union = reduce(lambda a, b: a.unionByName(b), all_results)
    assert union.count() == 10
    assert union.select("body").distinct().count() == 10


def test_content_dedup_survives_resume(spark, ckpt):
    """Kill after generation 0, resume: pages fetched before the kill are
    recognized as mirrors AFTER it (the content table checkpoints and
    reconstructs like seen)."""
    cfg = EngineConfig(retries=1, request_workers=4, per_host_budget=1000)
    seed = _mirror_seed(spark, pages=6, variants=2)
    d1 = CrawlDriver(
        spark, cfg, ckpt, fetcher=_mirror_fetcher, content_dedup=True,
        global_budget=8,
    )
    gen, frontier, seen = d1.load_state(seed)
    d1.run_generation(gen, frontier, seen)  # then "crash"
    d2 = CrawlDriver(
        spark, cfg, ckpt, fetcher=_mirror_fetcher, content_dedup=True,
        global_budget=8,
    )
    metrics = d2.run(seed, max_generations=5)
    store = CheckpointStore(ckpt)
    all_results = [
        store.read(spark, g, "results") for g in store.committed_generations()
    ]
    from functools import reduce

    union = reduce(lambda a, b: a.unionByName(b), all_results)
    assert union.count() == 6  # one per page across the kill boundary
    assert union.select("body").distinct().count() == 6


def test_content_dedup_rejects_discard_mode(spark, ckpt):
    cfg = EngineConfig(retries=1, request_workers=4, response_body="discard")
    with pytest.raises(ValueError, match="content_dedup"):
        CrawlDriver(spark, cfg, ckpt, content_dedup=True)


def _chrome_mirror_fetcher(df, cfg):
    """Every variant of a page serves the SAME article wrapped in
    DIFFERENT chrome (a per-URL session id in a script tag + a build
    comment) — raw bodies all differ, extracted text is per-page."""
    from ganda_spark.operators.fetch import mock_fetch_udf

    page = F.regexp_extract("url", r"/page/(\d+)/", 1)
    variant = F.regexp_extract("url", r"/v/(\d+)", 1)
    return mock_fetch_udf(df, cfg).withColumn(
        "body",
        F.concat(
            F.lit("<html><head><script>sid='"), variant,
            F.lit("';</script><!-- build "), variant,
            F.lit(" --></head><body><p>ARTICLE "), page,
            F.lit("</p></body></html>"),
        ),
    )


def test_content_dedup_on_text_catches_chrome_mirrors(spark, ckpt):
    """content_dedup_on='text': mirrors that differ only in script/comment
    chrome dedup (raw-body hashing would keep all of them — asserted as
    the contrast)."""
    cfg = EngineConfig(retries=1, request_workers=4, per_host_budget=1000)
    d_text = CrawlDriver(
        spark, cfg, ckpt + "/t", fetcher=_chrome_mirror_fetcher,
        content_dedup=True, content_dedup_on="text",
    )
    metrics = d_text.run(_mirror_seed(spark, pages=6, variants=3),
                         max_generations=3)
    assert sum(m["results"] for m in metrics) == 6
    assert sum(m["mirrors_dropped"] for m in metrics) == 12
    # contrast: raw-body hashing sees 18 distinct bodies, drops nothing
    d_body = CrawlDriver(
        spark, cfg, ckpt + "/b", fetcher=_chrome_mirror_fetcher,
        content_dedup=True, content_dedup_on="body",
    )
    metrics_b = d_body.run(_mirror_seed(spark, pages=6, variants=3),
                           max_generations=3)
    assert sum(m["results"] for m in metrics_b) == 18
    assert sum(m["mirrors_dropped"] for m in metrics_b) == 0


def test_content_dedup_on_rejects_unknown(spark, ckpt):
    cfg = EngineConfig(retries=1, request_workers=4)
    with pytest.raises(ValueError, match="content_dedup_on"):
        CrawlDriver(spark, cfg, ckpt, content_dedup=True,
                    content_dedup_on="soup")


def test_content_dedup_mode_switch_resets_content_state(spark, ckpt):
    """ADVICE r6: a 'body'-mode checkpoint holds raw-byte md5s — resuming
    with content_dedup_on='text' must NOT compare against them. The
    resume starts content state empty (pre-flag-checkpoint treatment):
    conservative refetch, never a silent cross-domain hash compare."""
    cfg = EngineConfig(retries=1, request_workers=4, per_host_budget=1000)
    seed = _mirror_seed(spark, pages=4, variants=2)
    d1 = CrawlDriver(
        spark, cfg, ckpt, fetcher=_mirror_fetcher, content_dedup=True,
        content_dedup_on="body", global_budget=4,
    )
    gen, frontier, seen = d1.load_state(seed)
    d1.run_generation(gen, frontier, seen)
    store = CheckpointStore(ckpt)
    last = store.latest()
    assert last.manifest["metrics"]["content_dedup_on"] == "body"
    n_committed = store.read(spark, last.generation, "seen_content").count()
    assert n_committed > 0
    d2 = CrawlDriver(
        spark, cfg, ckpt, fetcher=_mirror_fetcher, content_dedup=True,
        content_dedup_on="text", global_budget=4,
    )
    d2.load_state(seed)
    assert d2._seen_content.count() == 0  # reset, not reused
    d3 = CrawlDriver(
        spark, cfg, ckpt, fetcher=_mirror_fetcher, content_dedup=True,
        content_dedup_on="body", global_budget=4,
    )
    d3.load_state(seed)
    assert d3._seen_content.count() == n_committed  # same mode → reused


def test_content_dedup_on_pre_flag_delta_checkpoint(spark, ckpt):
    """content_dedup switched on for a delta crawl whose checkpoint was
    written without it: no seen_content base exists until the next
    compaction, so the committed content_adds carry the mirror state
    across the delta generations in between."""
    from ganda_spark.operators.fetch import mock_fetch_udf

    def two_pages(df, cfg):
        # page p serves the body of page p % 2
        page = F.regexp_extract("url", r"/page/(\d+)/", 1).cast("int")
        return mock_fetch_udf(df, cfg).withColumn(
            "body", F.concat(F.lit("PAGE-"), (page % 2).cast("string"))
        )

    cfg = EngineConfig(retries=1, request_workers=4, per_host_budget=1000)
    seed = _mirror_seed(spark, pages=8, variants=1)
    kw = dict(fetcher=two_pages, global_budget=2, checkpoint_mode="delta",
              compact_every=8)
    d1 = CrawlDriver(spark, cfg, ckpt, **kw)
    gen, frontier, seen = d1.load_state(seed)
    d1.run_generation(gen, frontier, seen)  # pages 0, 1 without the flag
    d2 = CrawlDriver(spark, cfg, ckpt, content_dedup=True, **kw)
    metrics = d2.run(seed, max_generations=5)
    # pages 2, 3 are the first content the flag sees; 4-7 are mirrors of
    # them, recognized through the carried content_adds
    assert [m["results"] for m in metrics] == [2, 0, 0]
    assert [m["mirrors_dropped"] for m in metrics] == [0, 2, 2]


def _empty_body_fetcher(mode):
    """Pages 0-2 serve no content — an empty body in 'body' mode, chrome
    without text in 'text' mode; every other page serves its own text
    under each of its variants."""
    from ganda_spark.operators.fetch import mock_fetch_udf

    empty = F.lit("") if mode == "body" else F.lit(
        "<html><head><script>var sid=1;</script></head><body></body></html>"
    )

    def fetch(df, cfg):
        page = F.regexp_extract("url", r"/page/(\d+)/", 1)
        return mock_fetch_udf(df, cfg).withColumn(
            "body",
            F.when(page.cast("int") < 3, empty).otherwise(
                F.concat(F.lit("<p>PAGE "), page, F.lit("</p>"))
            ),
        )

    return fetch


@pytest.mark.parametrize("mode", ["body", "text"])
def test_content_dedup_keeps_empty_bodies(spark, ckpt, mode):
    """Empty hash sources (404s, empty 200s, text-less pages) are not
    mirrors of each other: none is dropped, in its own generation or a
    later one, and none enters seen_content."""
    cfg = EngineConfig(retries=1, request_workers=4, per_host_budget=1000)
    driver = CrawlDriver(
        spark, cfg, ckpt, fetcher=_empty_body_fetcher(mode),
        content_dedup=True, content_dedup_on=mode, global_budget=4,
    )
    metrics = driver.run(_mirror_seed(spark, pages=6, variants=2),
                         max_generations=10)
    assert len(metrics) >= 3  # empties span several generations
    # 3 empty pages × 2 variants all kept + 1 keeper per content page
    assert sum(m["results"] for m in metrics) == 6 + 3
    assert sum(m["mirrors_dropped"] for m in metrics) == 3
    store = CheckpointStore(ckpt)
    content = store.read(spark, store.latest().generation, "seen_content")
    empty_md5 = spark.range(1).select(F.md5(F.lit("").cast("binary"))).first()[0]
    hashes = [r.content_hash for r in content.collect()]
    assert len(hashes) == 3 and empty_md5 not in hashes and None not in hashes
