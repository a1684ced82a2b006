"""F1-F5: the fetch stage — Spark's "join with the outside world".

The reference runs N goroutines pulling from a channel, each with a pooled
HTTP client, retrying ≥500/transport errors with capped exponential backoff
and dropping exhausted rows from results
(requests/requests.go:41-124; retry rule :99-101, cap :117-121,
drop :75-79,113-115).

Spark re-expression (SURVEY.md §2.2):
  * worker fan-out  → repartition(P) + mapInPandas — one task = one worker
    pool, parallelism = partitions × cores, not goroutines (F1).
  * pooled client   → ONE session object per partition, created when the
    task starts and reused across the whole Arrow batch stream (F2). In the
    sandbox there is no network, so the "session" is a MockSession whose
    responses are a pure function of md5(url) (ganda_spark/spec.py) —
    swap in an aiohttp/requests session for production.
  * retry loop      → inside the UDF for intra-batch retries (same rule
    table); exhausted rows come back with error set, and the caller routes
    them to an errors DataFrame instead of results (F3/F4). Deferred-row
    re-queue across generations lives in streaming/frontier_loop.py.
  * throttle        → per-partition token budget = throttle/P per batch
    (F5); the driver-side release cap lives in operators/politeness.py.

Two implementations, identical output:
  * mock_fetch_plan — pure Column expressions (whole-stage codegen; this is
    the oracle-matched fast path and an upper bound for the bench).
  * mock_fetch_udf  — the real architecture: mapInPandas with a
    per-partition session, vectorized numpy status draws, a virtual clock
    for latency/backoff accounting (no real sleeps in tests).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ganda_spark import spec
from ganda_spark.config import EngineConfig

# ---------------------------------------------------------------------------
# Column-expression implementation (oracle-matched fast path)
# ---------------------------------------------------------------------------


def mock_fetch_plan(frontier: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Mock fetch as pure Catalyst expressions.

    Adds: status, body, attempts, fetch_error, latency_ms. Rows whose
    retries exhausted carry fetch_error != NULL — callers exclude them from
    results (requests/requests.go:75-79) but keep them as data (our errors
    superset)."""
    o = spec.fetch_outcome_sql("spark", url_expr="url", retries=cfg.retries)
    body = (
        F.when(
            F.expr(o["status_final"]) == 200,
            F.expr(spec.echo_body_sql("spark", "url", "host", cfg.request_method)),
        )
        .otherwise(F.lit(""))
    )
    err = F.when(
        F.expr(o["dropped"]),
        F.lit(
            f"maximum number of retries ({cfg.retries}) reached for request"
        ),  # requests/requests.go:114
    )
    return (
        frontier.withColumn("status", F.expr(o["status_final"]).cast("int"))
        .withColumn("body", body)
        .withColumn("attempts", F.expr(o["attempts"]).cast("int"))
        .withColumn("fetch_error", err)
        .withColumn("latency_ms", F.expr(o["latency_ms"]).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# mapInPandas implementation (the production architecture)
# ---------------------------------------------------------------------------


class MockSession:
    """Stands in for a pooled HTTP client (reference requests/requests.go:
    21-39: 500 idle conns, 50 conns/host, HTTP/2). Created ONCE per
    partition — the Spark analog of per-goroutine client reuse. Responses
    are a pure function of md5(url), matching ganda_spark.spec exactly.
    """

    def __init__(self, cfg: EngineConfig):
        self.cfg = cfg
        self.virtual_clock_ms = 0.0  # accumulates simulated latency + backoff

    @staticmethod
    def _draws(urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        """One md5 per url, then fully vectorized byte extraction:
        d   = first 4 hex chars (= bytes 0-1) % 100
        lat = 1 + hex chars 5-7 (= byte 2 + high nibble of byte 3) % 200
        """
        blob = b"".join(hashlib.md5(u.encode()).digest() for u in urls.to_list())
        m = np.frombuffer(blob, dtype=np.uint8).reshape(-1, 16).astype(np.int64)
        d = ((m[:, 0] << 8) | m[:, 1]) % 100
        lat = 1 + (((m[:, 2] << 4) | (m[:, 3] >> 4)) % spec.LATENCY_MOD)
        return d, lat

    def fetch_batch(self, urls: pd.Series, hosts: pd.Series) -> pd.DataFrame:
        """Vectorized fetch-with-retry over one Arrow batch.

        Retry rule table (requests/requests.go:83-124): status <500 returns
        immediately (404 NOT retried, :99-101); ≥500/transport retries with
        delay = base * 2^attempt capped at 30 s (:117-121); attempts >
        retries ⇒ error (:113-115).
        """
        cfg = self.cfg
        d, lat = self._draws(urls)
        n = len(urls)
        if cfg.fetch_cpu_work > 0:
            # simulate the per-request CPU of a real HTTP transaction
            # (TLS, header parse): k extra hash rounds per url
            scratch = [hashlib.md5(u.encode()).digest() for u in urls.to_list()]
            for _ in range(cfg.fetch_cpu_work):
                scratch = [hashlib.md5(x).digest() for x in scratch]

        status = np.where(
            d < spec.PCT_OK, 200, np.where(d < spec.PCT_NOT_FOUND, 404, 500)
        )
        attempts = np.ones(n, dtype=np.int64)
        # virtual time: every request "takes" its latency
        self.virtual_clock_ms += float(lat.sum())

        retryable = status >= 500  # 4xx never retried
        for attempt in range(1, cfg.retries + 1):
            if not retryable.any():
                break
            delay = min(
                cfg.base_retry_delay_millis * (1 << attempt),
                spec.RETRY_DELAY_CAP_MS,
            )
            self.virtual_clock_ms += delay * int(retryable.sum())
            # transient rows (d in [PCT_NOT_FOUND, PCT_TRANSIENT)) succeed on
            # their second attempt; d == PCT_TRANSIENT.. stay 500 forever
            heals = retryable & (d < spec.PCT_TRANSIENT)
            status = np.where(heals, 200, status)
            attempts = np.where(retryable, attempts + 1, attempts)
            self.virtual_clock_ms += float(lat[retryable].sum())
            retryable = retryable & ~heals

        exhausted = status >= 500
        error = pd.Series([None] * n, dtype=object)
        error[exhausted] = (
            f"maximum number of retries ({cfg.retries}) reached for request"
        )
        if cfg.response_body == "discard":
            # ganda's own throughput bench runs -B discard (Justfile:54-73):
            # the body is closed unread (responses.go:297-300) — skip
            # assembling it at all
            body = pd.Series([""] * n, dtype=object)
        else:
            # vectorized echo-body assembly (pandas str kernels, no per-row
            # Python): uri = path+query (Go RequestURI); body shape =
            # echoserver JSON
            urls = urls.reset_index(drop=True)
            hosts = hosts.reset_index(drop=True)
            uri = urls.str.replace(r"^https?://[^/]+", "", regex=True)
            p2 = spec.ECHO_P2_FMT.format(method=cfg.request_method)
            body = spec.ECHO_P1 + hosts + p2 + uri + spec.ECHO_P3
            body = body.where(pd.Series(status == 200), "")
        return pd.DataFrame(
            {
                "status": status.astype("int32"),
                "body": body,
                "attempts": attempts.astype("int32"),
                "fetch_error": error,
                "latency_ms": lat,
            }
        )


def mock_fetch_udf(
    frontier: DataFrame, cfg: EngineConfig, repartition: bool = False
) -> DataFrame:
    """F1: iterator-style pandas_udf with a per-task MockSession (the
    per-goroutine pooled client, requests/requests.go:66). Output schema =
    input + fetch columns, identical to mock_fetch_plan; a request `body`
    column (JSON-lines input) is renamed to request_body, as
    http_fetch_udf does, so `body` is the response.

    Design notes (scale):
      * SCALAR_ITER pandas_udf, not mapInPandas — ONLY url+host cross the
        Arrow boundary; passthrough columns (context arrays, seq, ...)
        never leave the JVM. At 10^10 rows that is the difference between
        shipping 2 string columns and shipping the whole frontier.
      * No forced shuffle: the caller controls placement
        (partition_for_fetch keeps hosts task-contiguous). Pass
        repartition=True only for a standalone fetch whose input
        partitioning is too coarse.
    """
    from pyspark.sql.functions import pandas_udf

    result_schema = (
        "struct<status:int,body:string,attempts:int,"
        "fetch_error:string,latency_ms:bigint>"
    )

    @pandas_udf(result_schema)
    def fetch(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        session = MockSession(cfg)  # once per task == per-goroutine client
        for urls, hosts in it:
            yield session.fetch_batch(urls, hosts)

    # A fetch is NOT a pure function (network). Also load-bearing for cost:
    # a deterministic UDF gets re-evaluated when a filter on its result is
    # pushed below the projection — the plan grows TWO ArrowEvalPython
    # fetch nodes and every results/errors split fetches twice.
    fetch = fetch.asNondeterministic()

    src = frontier
    if "body" in src.columns:  # request body — free the name for the response
        src = src.withColumnRenamed("body", "request_body")
    if repartition:
        src = src.repartition(max(1, cfg.request_workers))
    fetched = src.withColumn("_r", fetch(F.col("url"), F.col("host")))
    return fetched.select(*[f.name for f in src.schema], "_r.*")


def split_results(fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(results, errors): exhausted-retry rows are excluded from the result
    stream (requests/requests.go:75-79) but kept as an errors DataFrame —
    a deliberate superset of the reference, which only logs them."""
    results = fetched.where(F.col("fetch_error").isNull())
    errors = fetched.where(F.col("fetch_error").isNotNull())
    return results, errors
