"""The iterative crawl driver — ganda's channel cascade re-expressed as a
micro-batch generation loop (SURVEY.md §3.1 step 5).

Per generation:
  frontier → anti-join(seen) → robots → politeness pop → fetch →
  results/errors; deferred rows + newly-discovered URLs become the next
  generation's frontier; seen set grows by the released URLs; everything
  commits to the CheckpointStore (Iceberg-snapshot stand-in) so a killed
  run resumes exactly where the last manifest committed.

Retry deferral across generations (F4's deferred-row re-queue): rows that
exhausted in-UDF retries re-enter the frontier with attempt+1 and a
not_before generation; they are withheld from pop until then — the
scale-safe version of per-task backoff sleeps.

Each layer runs once per generation. The fetch output is written first,
as the generation's write-ahead table; every other table, the counts and
the prefilter grow read that scan, and the prefilter tag pass and the pop
are persisted for the generation. Metrics (north rule: fetch/dedup/defer
per partition) come from df.observe() accumulators that fill during the
write-ahead write; only content_dedup's deduped results and the trap
gate's trapped slice take a direct count.
"""

from __future__ import annotations

import itertools
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession

# Observation names must be session-unique; a bare "gen0" collides when two
# drivers run in one SparkSession (tests, notebooks)
_OBS_COUNTER = itertools.count()
from pyspark.sql import functions as F

from ganda_spark.config import EngineConfig
from ganda_spark.operators.fetch import mock_fetch_udf, split_results
from ganda_spark.operators.politeness import partition_for_fetch, pop_batch, robots_gate
from ganda_spark.operators.seen import filter_unseen_exact
from ganda_spark.streaming.checkpoint import CheckpointStore

FRONTIER_SCHEMA = (
    "seq long, url string, host string, priority int, context array<string>, "
    "attempt int, not_before int"
)


def _with_retry_cols(frontier: DataFrame) -> DataFrame:
    out = frontier
    if "attempt" not in out.columns:
        out = out.withColumn("attempt", F.lit(0))
    if "not_before" not in out.columns:
        out = out.withColumn("not_before", F.lit(0))
    return out


class CrawlDriver:
    def __init__(
        self,
        spark: SparkSession,
        cfg: EngineConfig,
        checkpoint_dir: str,
        robots: DataFrame | None = None,
        discover: Callable[[DataFrame], DataFrame] | None = None,
        max_redelivery: int = 2,
        fetcher: Callable[[DataFrame, EngineConfig], DataFrame] | None = None,
        global_budget: int | None = None,
        seen_strategy: str = "exact",
        checkpoint_mode: str = "full",
        compact_every: int = 8,
        trap_guard: dict | None = None,
        content_dedup: bool = False,
        content_dedup_on: str = "body",
    ):
        """discover: results DataFrame → new frontier rows
        (seq, url, host, priority, context) — e.g. extract_urls over span
        docs keyed by the fetched URL.

        fetcher: the fetch stage (frontier, cfg) → fetched DataFrame;
        defaults to the deterministic mock. Pass
        operators.http_fetch.http_fetch_udf for a live crawl. Its output
        is written once per generation as the write-ahead table
        (CheckpointStore.write_ahead, before the other tables and the
        manifest) and everything else reads that scan, so within a
        generation each URL is requested once. Live-fetch contract across
        a crash: a crash after the write-ahead table and before the
        manifest leaves the generation uncommitted; resume reruns it and
        overwrites the stale table, so each of its URLs is requested AT
        LEAST once — resume does not reuse the write-ahead table yet.

        global_budget: optional per-generation release cap across ALL hosts
        (F5 at frontier scale) — the scale-safe rank inside pop_batch
        persists one more intermediate per generation, next to the pop and
        the prefilter tag pass; this loop owns those handles and
        unpersists them after each generation commits, so the executor
        cache stays flat over arbitrarily many generations (VERDICT r2 #1).

        seen_strategy: 'exact' (anti-join the full eligible frontier — the
        correctness oracle), 'hybrid' (the 10^10 path: a driver-held
        Bloom filter, grown per generation via a treeAggregate over just
        that generation's newly-seen delta, splits the frontier so only
        bloom-positive rows shuffle against the seen table; result is
        identical to 'exact' by construction — see
        operators.seen.filter_unseen_hybrid), or 'cuckoo' (same split with
        a CuckooFilter prefilter — choose it when the crawl needs
        RETRACTION, e.g. re-crawl scheduling deletes a url to make it
        fetchable again; merge spills to an overflow set so membership
        stays no-false-negative). On resume the prefilter is rebuilt once
        from the committed seen table.

        checkpoint_mode: 'full' rewrites the whole frontier + seen tables
        every generation — correct, but at a 10^10-row frontier the
        rewrite IS the generation cost (measured: the 10.5M rehearsal's
        per-generation wall is dominated by it, BASELINE.md). 'delta'
        commits only what changed — frontier_adds (redeliver ∪ discovered,
        budget-sized), frontier_removes (released seqs), seen_adds (newly
        seen urls) — and compacts to a full snapshot every
        `compact_every` generations, the parquet analog of Iceberg v2
        delete files + table maintenance. Read-back reconstructs the
        logical table: base ∪ adds, anti-joined against removes whose
        commit generation is later than the row's (so a seq released at
        gen g and re-added by redelivery at g survives). Plans stay
        bounded: ≤ compact_every unions + one anti-join against a
        broadcast-sized remove set.

        Delta-mode semantic note: rows dropped by the seen anti-join or
        robots gate LINGER in the stored frontier until the next
        compaction (they are re-filtered each generation, so released
        rows, results and the seen set are identical to full mode);
        eligible/dedup_dropped metrics count those lingering rows again
        each generation. A generation that releases nothing and adds
        nothing forces a compaction (drain guard), so a logically drained
        delta crawl terminates at the same generation as a full-mode one
        instead of committing up to compact_every-1 empty snapshots. Removes are keyed by (seq, url): a seq collision
        between unrelated rows (e.g. a discover offset landing on another
        seed range) cannot delete an innocent row, because its url
        differs; only true (seq, url) duplicates among LIVE rows would
        conflate, and the seed/discover/redeliver construction never
        produces those.

        trap_guard: None disables spider-trap gating; a dict (possibly
        empty = defaults) of url_trap_metrics thresholds enables it. The
        gate runs at frontier ENTRY — on the seed once and on each
        generation's discovered URLs — not on every generation's eligible
        set: a URL is judged once, the cheapest place to stop calendar
        loops / param explosions from ever occupying frontier rows.
        Trapped-row counts ride the generation metrics (trap_dropped).

        content_dedup: MIRROR DETECTION — the web serves the same page
        under many URLs (mirrors, CDNs, session-id aliases that survive
        canonicalization), and a training-data crawl wants each page
        ONCE. When enabled, each generation hashes its result bodies
        (md5, a projection over the write-ahead fetch table) and drops
        rows whose hash (a) already appeared this generation (keeper =
        lowest seq) or (b) lives in the accumulated seen_content table —
        the same anti-join shape as the URL seen set, but keyed on the
        16-byte content hash, so the body columns never shuffle. Deduped
        results feed discover() (a mirror's links are the original's —
        re-extracting them is pure waste) and the committed results
        table; the URL-level seen set is unchanged (the mirror URL is
        still seen — never refetched). State checkpoints like seen:
        full-mode snapshots carry seen_content, delta commits
        content_adds; resume reconstructs it (a checkpoint written
        before the flag existed resumes with an empty content table).
        Metrics gain mirrors_dropped. An empty hash source (a 404 or empty
        200 body; in 'text' mode also a page whose extracted text is
        empty) is not content: it never drops a row and never enters
        seen_content.

        content_dedup_on: 'body' hashes the RAW response bytes (exact
        mirrors); 'text' hashes the html-EXTRACTED text (functions/html —
        still a pure projection feeding the same md5), so mirrors that
        differ only in per-page chrome the extraction strips — session
        ids in scripts, build stamps in comments, CSS variants — dedup
        too. 'text' is the training-data default posture; 'body' is the
        byte-exact conservative one."""
        self.spark = spark
        self.cfg = cfg
        self.store = CheckpointStore(checkpoint_dir)
        self.robots = robots
        self.discover = discover
        self.max_redelivery = max_redelivery
        self.fetcher = fetcher or mock_fetch_udf
        self.global_budget = global_budget
        if seen_strategy not in ("exact", "hybrid", "cuckoo"):
            raise ValueError(f"unknown seen_strategy {seen_strategy!r}")
        self.seen_strategy = seen_strategy
        if checkpoint_mode not in ("full", "delta"):
            raise ValueError(f"unknown checkpoint_mode {checkpoint_mode!r}")
        self.checkpoint_mode = checkpoint_mode
        self.compact_every = max(compact_every, 1)
        self.trap_guard = trap_guard
        if content_dedup and cfg.response_body == "discard":
            # discard mode closes bodies unread — every page would hash
            # equal and the whole crawl would collapse to one "page"
            raise ValueError(
                "content_dedup requires fetched bodies; response_body='discard' "
                "hashes every page identically"
            )
        self.content_dedup = content_dedup
        if content_dedup_on not in ("body", "text"):
            raise ValueError(f"unknown content_dedup_on {content_dedup_on!r}")
        self.content_dedup_on = content_dedup_on
        self._seen_content: DataFrame | None = None
        self._bloom = None  # lazily built/grown prefilter (bloom OR cuckoo)
        # driver-side memo: table -> latest generation holding a FULL
        # snapshot of it. Updated at every full commit and on resume, so
        # steady-state reconstruction does zero directory scans (r3 ADVICE:
        # the per-generation committed_generations() walk was O(total
        # generations) driver small-file reads, quadratic over a crawl).
        self._full_gen: dict[str, int] = {}

    # -- delta-mode table reconstruction -------------------------------------

    def _latest_full_gen(self, upto: int, table: str) -> int:
        memo = self._full_gen.get(table)
        if memo is not None and memo <= upto:
            # the memo is the GLOBAL latest full gen (single-writer store,
            # refreshed at each full commit) — valid whenever it is ≤ upto
            return memo
        gens = self.store.committed_generations()
        for g in reversed(gens):
            if g <= upto and table in self.store.snapshot(g).manifest["tables"]:
                if gens and upto >= gens[-1]:
                    # scanned from the newest gen: this hit IS the global
                    # latest full snapshot — safe to memoize
                    self._full_gen[table] = g
                return g
        raise ValueError(f"no full {table!r} snapshot at or before gen {upto}")

    def _read_table(self, gen: int, table: str, adds: str, removes: str | None) -> DataFrame:
        """Logical state of `table` at generation `gen`: the latest full
        snapshot ∪ later adds, minus removes committed after a row's own
        commit generation (_batch_id, stamped by CheckpointStore). The
        remove set is delta-sized → broadcast anti-join; unions are
        bounded by compact_every."""
        base_gen = self._latest_full_gen(gen, table)
        if base_gen == gen:
            return self.store.read(self.spark, gen, table)
        parts = [self.store.read_lineage(self.spark, base_gen, table)]
        rem_parts = []
        for g in range(base_gen + 1, gen + 1):
            tables = self.store.snapshot(g).manifest["tables"]
            if adds in tables:
                parts.append(self.store.read_lineage(self.spark, g, adds))
            if removes is not None and removes in tables:
                rem_parts.append(
                    self.store.read_lineage(self.spark, g, removes).select(
                        F.col("seq").alias("_rm_seq"),
                        F.col("url").alias("_rm_url"),
                        F.col("_batch_id").alias("_rm_gen"),
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if rem_parts:
            rem = rem_parts[0]
            for p in rem_parts[1:]:
                rem = rem.unionByName(p)
            out = out.alias("t").join(
                F.broadcast(rem.alias("r")),
                (F.col("t.seq") == F.col("r._rm_seq"))
                & (F.col("t.url") == F.col("r._rm_url"))
                & (F.col("r._rm_gen") > F.col("t._batch_id")),
                "left_anti",
            )
        return out.drop("_batch_id", "_partition_id")

    def _read_frontier(self, gen: int) -> DataFrame:
        return self._read_table(gen, "frontier", "frontier_adds", "frontier_removes")

    def _read_seen(self, gen: int) -> DataFrame:
        return self._read_table(gen, "seen", "seen_adds", None)

    # -- resume -------------------------------------------------------------

    def load_state(self, seed: DataFrame) -> tuple[int, DataFrame, DataFrame]:
        """(next_gen, frontier, seen) — from the latest committed snapshot,
        or generation 0 with the seed frontier."""
        snap = self.store.latest()
        if self.content_dedup:
            self._seen_content = self.spark.createDataFrame(
                [], "content_hash string"
            )
        if snap is None:
            empty_seen = self.spark.createDataFrame([], "url string")
            return 0, _with_retry_cols(seed), empty_seen
        frontier = self._read_frontier(snap.generation)
        seen = self._read_seen(snap.generation)
        if self.content_dedup:
            # hash-domain guard (ADVICE r6): a 'body'-mode checkpoint holds
            # raw-byte md5s, a 'text'-mode one extracted-text md5s — resuming
            # across modes would silently compare incompatible hashes
            # (readmitting mirrors or never matching). Mode mismatch gets
            # the same treatment as pre-flag checkpoints: content state
            # restarts empty (conservative — duplicates may be refetched
            # once, never wrongly dropped).
            ckpt_mode = (snap.manifest.get("metrics") or {}).get(
                "content_dedup_on"
            )
            if ckpt_mode is not None and ckpt_mode != self.content_dedup_on:
                pass  # keep the empty seen_content initialized above
            else:
                try:
                    self._seen_content = self._read_table(
                        snap.generation, "seen_content", "content_adds", None
                    )
                except ValueError:
                    # checkpoints predate the flag — start content state empty
                    pass
        if self.seen_strategy == "hybrid":
            # resume: rebuild the bloom ONCE from the committed seen table
            # (treeAggregate — sqrt(P) driver ingress, operators/seen.py)
            from ganda_spark.operators.seen import build_bloom_tree

            self._bloom = build_bloom_tree(
                seen, n_bits=self.cfg.seen_bloom_bits,
                n_hashes=self.cfg.seen_bloom_hashes,
            )
        elif self.seen_strategy == "cuckoo":
            from ganda_spark.operators.cuckoo import build_cuckoo

            self._bloom = build_cuckoo(seen, n_buckets=self.cfg.seen_cuckoo_buckets)
        return snap.generation + 1, frontier, seen

    _TRAP_COLS = (
        "depth", "n_params", "max_seg_repeat", "url_len", "trap_reason",
        "is_trap",
    )

    def _gate_traps(self, tag: str, df: DataFrame):
        """Annotate + filter spider traps at frontier entry.

        The trapped count is a direct count over the trapped slice, NOT an
        Observation: no action executes the discovered-URLs plan before
        the metrics dict is assembled (the commit that would fire it takes
        the metrics as input), so Observation.get would deadlock waiting
        for it. The slice derives from the write-ahead fetch table — the
        count is one short parquet-scan job, bounded by discover fan-out."""
        from ganda_spark.functions.urls import url_trap_metrics

        ann = url_trap_metrics(df, **self.trap_guard)
        kept = ann.where(~F.col("is_trap")).drop(*self._TRAP_COLS)
        return kept, None, ann.where(F.col("is_trap"))

    # -- one generation -------------------------------------------------------

    def run_generation(
        self, gen: int, frontier: DataFrame, seen: DataFrame
    ) -> tuple[DataFrame, DataFrame, dict]:
        """Returns (next_frontier, next_seen, metrics) and commits the
        snapshot. The generation's caches (prefilter tag pass, pop) are
        released when it returns or raises, so the executor cache stays
        flat over arbitrarily many generations."""
        gen_caches: list[DataFrame] = []
        try:
            return self._run_generation(gen, frontier, seen, gen_caches)
        finally:
            for handle in gen_caches:
                handle.unpersist()

    def _run_generation(
        self, gen: int, frontier: DataFrame, seen: DataFrame,
        gen_caches: list[DataFrame],
    ) -> tuple[DataFrame, DataFrame, dict]:
        cfg = self.cfg
        eligible = frontier.where(F.col("not_before") <= gen)
        held = frontier.where(F.col("not_before") > gen)

        # metrics without extra actions: observe() accumulators fill when
        # the write-ahead fetch table is written — that write is the
        # generation's first action and runs the whole eligible → fetch
        # plan (north rule: fetch/dedup/defer metrics per generation)
        uid = next(_OBS_COUNTER)
        obs_eligible = Observation(f"g{gen}-{uid}-eligible")
        eligible = eligible.observe(obs_eligible, F.count(F.lit(1)).alias("n"))
        if self.seen_strategy in ("hybrid", "cuckoo"):
            from ganda_spark.operators.seen import BloomFilter, filter_unseen_hybrid

            if self._bloom is None:
                if self.seen_strategy == "cuckoo":
                    from ganda_spark.operators.cuckoo import CuckooFilter

                    self._bloom = CuckooFilter(cfg.seen_cuckoo_buckets)
                else:
                    self._bloom = BloomFilter(
                        cfg.seen_bloom_bits, cfg.seen_bloom_hashes
                    )
            unseen = filter_unseen_hybrid(
                eligible, seen, self._bloom, cache_out=gen_caches
            )
        else:
            unseen = filter_unseen_exact(eligible, seen)
        obs_unseen = Observation(f"g{gen}-{uid}-unseen")
        unseen = unseen.observe(obs_unseen, F.count(F.lit(1)).alias("n"))
        if self.robots is not None:
            allowed, _blocked = robots_gate(unseen, self.robots)
            # F7×F8: robots crawl-delay caps each host's per-generation pop
            from ganda_spark.operators.robots import crawl_delay_budgets

            budgets = crawl_delay_budgets(
                self.robots, window_ms=1000, default_budget=cfg.per_host_budget
            )
        else:
            allowed = unseen
            budgets = None
        # the pop is persisted (cache_out): released feeds the fetch and
        # deferred the compaction's frontier, and both read this one pop
        released, deferred = pop_batch(
            allowed,
            cfg,
            global_budget=self.global_budget,
            host_budgets=budgets,
            cache_out=gen_caches,
        )

        obs = Observation(f"g{gen}-{uid}-released")
        placed = partition_for_fetch(released, cfg).observe(
            obs,
            F.count(F.lit(1)).alias("released_rows"),
            # politeness fan-out metric: distinct hosts this generation
            # touches (approx — rides the same pass, no extra action)
            F.approx_count_distinct("host").alias("released_hosts"),
        )
        # write-ahead fetch table: the fetch output is written ONCE into
        # this generation's directory, and everything below reads that
        # scan — results, errors, redeliver, discover, the drain guard,
        # every committed table and the prefilter grow. The fetch is
        # nondeterministic (live HTTP): a second evaluation would send
        # duplicate requests and could disagree with the first (a URL seen
        # AND redelivered, VERDICT r1 #4). Unlike a persisted frame, the
        # scan cannot fall back to re-running the fetch when a cache block
        # or an executor is lost. The results/errors counts ride the same
        # write as an observation.
        ok = F.col("fetch_error").isNull()
        obs_fetch = Observation(f"g{gen}-{uid}-fetched")
        fetched = self.store.write_ahead(
            gen,
            self.fetcher(placed, cfg).observe(
                obs_fetch,
                F.count_if(ok).alias("results"),
                F.count_if(~ok).alias("errors"),
            ),
        )
        results, errors = split_results(fetched)
        newly_content = None
        if self.content_dedup:
            # mirror detection: one md5 projection over the write-ahead
            # scan, a within-generation keeper window (budget-sized
            # partitions keyed by the 16-byte hash — body columns never
            # shuffle beyond this generation's results), and the same
            # anti-join shape as the URL seen set against the accumulated
            # content table
            from pyspark.sql import Window

            wch = Window.partitionBy("_chash").orderBy("seq")
            hash_src = F.coalesce(F.col("body"), F.lit(""))
            if self.content_dedup_on == "text":
                # chrome-invariant identity: hash the extracted text, so
                # mirrors differing only in stripped markup collapse too
                from ganda_spark.functions.html import html_text_col

                hash_src = html_text_col(hash_src)
            # an empty hash source (a 404, an empty 200, a page with no
            # text) is not content: its _chash is NULL, so it is never a
            # keeper's mirror, never matches the anti-join and never
            # enters seen_content
            results = (
                results.withColumn(
                    "_chash",
                    F.when(hash_src != "", F.md5(hash_src.cast("binary"))),
                )
                .withColumn(
                    "_crk",
                    F.when(F.col("_chash").isNull(), F.lit(1)).otherwise(
                        F.row_number().over(wch)
                    ),
                )
                .where(F.col("_crk") == 1)
                .drop("_crk")
                .join(
                    self._seen_content.select(
                        F.col("content_hash").alias("_chash")
                    ),
                    "_chash",
                    "left_anti",
                )
            )
            newly_content = results.where(F.col("_chash").isNotNull()).select(
                F.col("_chash").alias("content_hash")
            )
            results = results.drop("_chash")

        # F4: exhausted rows re-enter with attempt+1 and a backoff horizon
        redeliver = (
            errors.where(F.col("attempt") + 1 <= self.max_redelivery)
            .select(
                "seq", "url", "host", "priority", "context",
                (F.col("attempt") + 1).alias("attempt"),
                F.lit(gen + 2).alias("not_before"),  # skip one generation
            )
        )

        gen_adds = redeliver
        trapped = None
        if self.discover is not None:
            discovered = _with_retry_cols(self.discover(results)).select(
                *redeliver.columns
            )
            if self.trap_guard is not None:
                discovered, _, trapped = self._gate_traps(
                    f"g{gen}-{uid}", discovered
                )
            gen_adds = gen_adds.unionByName(discovered)

        next_frontier = deferred.select(*redeliver.columns).unionByName(
            held.select(*redeliver.columns)
        ).unionByName(gen_adds)

        # seen = fetched OK ∪ permanently failed, as one filter over one
        # scan of the write-ahead table. NOT the redelivered rows — they
        # must survive the next generation's anti-join.
        # Scale shape: distinct() ONLY the generation's new URLs (they may
        # repeat within a generation), never the accumulated seen set — the
        # released rows passed the anti-join, so new ∩ seen = ∅ by
        # construction and the union needs no re-shuffle of 10^10 old rows.
        # URL-level seen uses ALL fetched results — a mirror's URL is
        # still seen (fetched once, never again) even though its content
        # row was dropped
        seen_urls = fetched.where(
            ok | (F.col("attempt") + 1 > self.max_redelivery)
        ).select("url")
        newly_seen = seen_urls.distinct()
        next_seen = seen.unionByName(newly_seen)

        def _obs_or(observation, key, fallback_df):
            # AQE's empty-relation propagation can eliminate a CollectMetrics
            # node outright (empty generation) — fall back to a direct count
            try:
                return int(observation.get[key])
            except Exception:
                return fallback_df.count()

        n_eligible = _obs_or(obs_eligible, "n", eligible)
        n_unseen = _obs_or(obs_unseen, "n", unseen)
        n_fetched_ok = _obs_or(obs_fetch, "results", fetched.where(ok))
        # content_dedup's deduped results are the one direct count: the
        # keeper window and anti-join run after the write-ahead write
        n_results = results.count() if self.content_dedup else n_fetched_ok
        metrics = {
            "generation": gen,
            "eligible": n_eligible,
            "dedup_dropped": n_eligible - n_unseen,
            "released": _obs_or(obs, "released_rows", released),
            "released_hosts": _obs_or(
                obs, "released_hosts", released.select("host").distinct()
            ),
            "results": n_results,
            "errors": _obs_or(obs_fetch, "errors", errors),
        }
        if self.content_dedup:
            # recorded so resume can detect a hash-domain switch
            # (ADVICE r6: 'body' vs 'text' hashes are incompatible)
            metrics["content_dedup_on"] = self.content_dedup_on
            metrics["mirrors_dropped"] = n_fetched_ok - n_results
        if self.trap_guard is not None:
            metrics["trap_dropped"] = trapped.count() if trapped is not None else 0
        full = self.checkpoint_mode == "full" or gen % self.compact_every == 0
        if not full and metrics["released"] == 0 and gen_adds.isEmpty():
            # delta drain guard (r3 ADVICE): a generation that released
            # nothing and added nothing cannot change the folded state, but
            # seen-dropped / robots-blocked rows LINGER in the reconstructed
            # delta frontier until compaction — run()'s isEmpty() drain
            # check would spin through up to compact_every-1 empty committed
            # generations. Force a compaction instead: the committed
            # frontier becomes the true folded state (held/deferred rows
            # survive — a backoff stall does NOT terminate the crawl;
            # lingering dropped rows are purged), so isEmpty() answers the
            # drain question exactly. gen_adds derives from the write-ahead
            # scan — the emptiness probe never re-runs the fetch.
            full = True
        if full:
            # compaction / full mode: the complete folded state
            tables = {
                "results": results,
                "errors": errors,
                "frontier": next_frontier,
                "seen": next_seen,
            }
            if self.content_dedup:
                tables["seen_content"] = self._seen_content.unionByName(
                    newly_content
                )
        else:
            # delta mode: only what changed this generation — budget-sized
            # writes instead of a full-frontier + full-seen rewrite. The
            # removes are the released rows, read as the fetch scan's keys
            tables = {
                "results": results,
                "errors": errors,
                "frontier_adds": gen_adds,
                "frontier_removes": fetched.select("seq", "url"),
                "seen_adds": newly_seen,
            }
            if self.content_dedup:
                tables["content_adds"] = newly_content
        self.store.commit(gen, tables, metrics)
        if full:
            # keep the full-snapshot memo authoritative: reconstruction at
            # this or any later generation must base on THIS snapshot
            self._full_gen["frontier"] = gen
            self._full_gen["seen"] = gen
            if self.content_dedup:
                self._full_gen["seen_content"] = gen
        if self.content_dedup:
            # read back the committed content table: lineage truncation,
            # same discipline as frontier/seen
            try:
                self._seen_content = self._read_table(
                    gen, "seen_content", "content_adds", None
                )
            except ValueError:
                # delta commits on top of a pre-flag checkpoint: no full
                # seen_content base yet — carry the committed adds until
                # the next compaction writes one
                self._seen_content = self._seen_content.unionByName(
                    self.store.read(self.spark, gen, "content_adds")
                )
        # read back the committed state: truncates lineage, keeps plans flat
        # (delta mode: bounded reconstruction — ≤ compact_every unions + one
        # broadcast anti-join, see _read_table)
        committed_frontier = self._read_frontier(gen)
        committed_seen = self._read_seen(gen)
        if self.seen_strategy == "hybrid":
            # grow the bloom by THIS generation's newly-seen urls only — a
            # treeAggregate over one filtered scan of the write-ahead
            # table, never a rescan of the accumulated seen table. No
            # distinct(): setting a bloom bit twice is a no-op
            from ganda_spark.operators.seen import build_bloom_tree

            delta = build_bloom_tree(
                seen_urls, n_bits=self.cfg.seen_bloom_bits,
                n_hashes=self.cfg.seen_bloom_hashes,
            )
            self._bloom = self._bloom.union(delta)
        elif self.seen_strategy == "cuckoo":
            # same delta-only discipline and single scan, but distinct:
            # each insert of a hash takes its own slot. Fingerprint
            # re-insertion merge spills to the overflow set rather than
            # ever dropping a member
            from ganda_spark.operators.cuckoo import build_cuckoo

            delta = build_cuckoo(
                newly_seen, n_buckets=self.cfg.seen_cuckoo_buckets
            )
            self._bloom = self._bloom.merge(delta)
        return committed_frontier, committed_seen, metrics

    # -- full loop -------------------------------------------------------------

    def run(self, seed: DataFrame, max_generations: int = 10) -> list[dict]:
        if self.trap_guard is not None:
            seed, _, _ = self._gate_traps("seed", seed)
        gen, frontier, seen = self.load_state(seed)
        all_metrics = []
        for g in range(gen, gen + max_generations):
            if frontier.isEmpty():
                break
            frontier, seen, metrics = self.run_generation(g, frontier, seen)
            all_metrics.append(metrics)
        return all_metrics
