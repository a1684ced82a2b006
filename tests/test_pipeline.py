"""End-to-end crawl generation on the sf0.001 frontier, wired the way the
k1_crawl_pipeline registry entry wires it: seen anti-join → robots gate →
politeness pop → mock fetch → split, printed by the stdout sink; plus the corpus assembly registry
entry over hand-built documents."""

from __future__ import annotations

import hashlib
import io
import json

import pyspark.sql.functions as F

from ganda_spark.config import EngineConfig
from ganda_spark.operators.fetch import mock_fetch_udf, split_results
from ganda_spark.operators.politeness import pop_batch, robots_gate
from ganda_spark.operators.seen import filter_unseen_exact
from ganda_spark.sinks import emit_stdout
from ganda_spark.sources.frontier import seed_frontier


def _stdout_lines(results, cfg) -> list[str]:
    out = io.StringIO()
    n = emit_stdout(results, cfg, out)
    lines = out.getvalue().splitlines()
    assert n == len(lines)
    return lines


def test_crawl_generation_accounting(spark, sf_dir):
    frontier = seed_frontier(spark, sf_dir)
    cfg = EngineConfig(retries=1, request_workers=8, per_host_budget=20)
    seen = frontier.where(F.col("seq") % 10 == 0).select("url")
    robots = spark.createDataFrame(
        [("host-3.test", ["/order"], 0)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    unseen = filter_unseen_exact(frontier, seen)
    allowed, blocked = robots_gate(unseen, robots)
    released, deferred = pop_batch(allowed, cfg)
    results, errors = split_results(mock_fetch_udf(released, cfg))

    n_frontier = frontier.count()
    n_seen = frontier.join(seen, "url", "left_semi").count()
    n_released = released.count()
    # conservation: unseen rows either blocked, released, or deferred
    assert blocked.count() + n_released + deferred.count() == n_frontier - n_seen
    # results + errors == released
    assert results.count() + errors.count() == n_released
    # all robots-blocked rows are host-3
    assert blocked.where(F.col("host") != "host-3.test").count() == 0


def test_envelope_output_lines(spark, sf_dir):
    frontier = seed_frontier(spark, sf_dir).limit(50)
    cfg = EngineConfig(retries=1, json_envelope=True, response_body="raw")
    released, _deferred = pop_batch(frontier, cfg)
    results, _errors = split_results(mock_fetch_udf(released, cfg))
    lines = _stdout_lines(results, cfg)
    assert len(lines) == results.count()
    for line in lines[:10]:
        assert line.startswith('{ "url": "http://host-')
        # the envelope embeds the echo body (valid JSON) for 200s
        if '"code": 200' in line:
            payload = json.loads(line)
            assert payload["body"]["status"] == 200
            assert payload["body"]["time"] == "2026-01-01T00:00:00Z"
        assert line.endswith(" }")


def test_plain_output_parity_with_oracle(spark, sf_dir):
    """sha256 mode plain output vs recomputing sha256 of the echo body:
    one line per non-empty body, in seq order."""
    frontier = seed_frontier(spark, sf_dir).limit(100)
    cfg = EngineConfig(retries=1, response_body="sha256")
    released, _deferred = pop_batch(frontier, cfg)
    results, _errors = split_results(mock_fetch_udf(released, cfg))
    rows = results.select("seq", "body").orderBy("seq").collect()
    expected = [hashlib.sha256(r["body"].encode()).hexdigest() for r in rows if r["body"]]
    assert expected
    assert _stdout_lines(results, cfg) == expected


def test_crawl_host_health_rollup(spark, sf_dir):
    """Per-host health rollup: conserves URL counts, rates in [0,10000] bp,
    ONE host-keyed Exchange with map-side partial aggregation."""
    import __spark_entry__ as entry

    out = entry.queries()["crawl_host_health"](spark, sf_dir)
    rows = out.collect()
    assert sum(r.n_urls for r in rows) == 1500
    for r in rows:
        assert 0 <= r.ok_bp <= 10000
        assert r.n_ok <= r.n_urls and r.n_retried <= r.n_urls
        assert r.mean_latency_ms >= 0
    # AQE's toString prints Final AND Initial plan sections — scope the
    # exchange count to the final one
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # partial + final HashAggregate around a single host-keyed shuffle
    assert final.count("Exchange hashpartitioning") == 1


def test_corpus_build_pipeline_stages_bite(spark, tmp_path):
    """Each stage of the corpus assembly line removes what it should:
    short docs (quality), repeated-phrase spam (Gopher gate), exact dups
    (min-id keeper), unweighted sources (mix)."""
    import __spark_entry__ as entry

    rows = [
        (0, "src0", "too short"),                                  # quality gate
        (1, "src0", ("spam phrase " * 10).strip()),                # repetition gate
        (2, "src0", "a perfectly ordinary document with enough words"),
        (3, "src0", "a perfectly ordinary document with enough words"),  # dup of 2
        (4, "src9", "weighted sources only please and thank you"),  # src9 unweighted
        (5, "src1", "another clean document with plenty of words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    # satisfy the reader contract: the query only reads documents.parquet
    out = entry.queries()["corpus_build_pipeline"](spark, str(tmp_path)).collect()
    ids = {r.doc_id for r in out}
    assert ids == {2, 5}  # 0,1 gated; 3 deduped; 4 unweighted
    assert all(r.bin_id == 0 for r in out)
    assert {r.source for r in out} == {"src0", "src1"}
