"""F10: URL-seen set / frontier dedup.

The reference fetches exactly what it is given — uniqueness is the upstream
pipe's job (reference README.md:28-30). At 10^10-URL frontier scale the
seen set IS the engine, so we provide:

  1. exact oracle  — left_anti join on the url hash. Catalyst picks
     broadcast vs sort-merge by size; AQE converts at runtime. This is the
     correctness oracle at any scale where the seen set is a table.
  2. bloom path    — partition-local numpy bitmaps OR-merged with
     treeAggregate (depth=2: log-tree merge keeps driver ingress at
     O(bits × sqrt(P)), not O(bits × P)), then broadcast back and tested
     vectorized inside mapInPandas. False positives only ⇒ candidate set is
     a SUBSET of the exact result; exactness is recovered by confirming
     against the committed seen table (Iceberg MERGE in production,
     checkpoint parquet here) — false negatives are impossible, so no URL
     is fetched twice.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ganda_spark.functions.urls import url_hash64

# ---------------------------------------------------------------------------
# 1. exact anti-join
# ---------------------------------------------------------------------------


def filter_unseen_exact(frontier: DataFrame, seen_urls: DataFrame) -> DataFrame:
    """frontier rows whose url is NOT in seen_urls(url).

    left_anti on the 64-bit hash — joining on a fixed-width key instead of
    the raw url halves shuffle bytes at 10^10 rows; collision risk is
    addressed by also comparing url on the (tiny) matched side in the exact
    confirm step of the bloom path."""
    seen_keys = seen_urls.select(url_hash64(F.col("url")).alias("url_h")).distinct()
    return (
        frontier.withColumn("url_h", url_hash64(F.col("url")))
        .join(seen_keys, "url_h", "left_anti")
        .drop("url_h")
    )


# ---------------------------------------------------------------------------
# 2. partition-local bloom + treeAggregate merge
# ---------------------------------------------------------------------------


class BloomFilter:
    """Flat numpy bitmap with k derived hash probes.

    Probes derive from the row's xxhash64 (computed JVM-side) via
    double hashing: probe_i = h1 + i*h2 mod m — standard Kirsch-Mitzenmacher
    construction, so the only per-row Python is numpy vector math."""

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    def _probes(self, h64: np.ndarray) -> np.ndarray:
        h = h64.astype(np.uint64)
        h1 = h % np.uint64(self.n_bits)
        h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(self.n_bits)
        idx = (
            h1[:, None] + np.arange(self.n_hashes, dtype=np.uint64)[None, :] * h2[:, None]
        ) % np.uint64(self.n_bits)
        return idx.astype(np.int64)

    def add_hashes(self, h64: np.ndarray) -> None:
        idx = self._probes(h64).ravel()
        np.bitwise_or.at(self.bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))

    def might_contain(self, h64: np.ndarray) -> np.ndarray:
        idx = self._probes(h64)
        probe = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return probe.all(axis=1)

    def union(self, other: "BloomFilter") -> "BloomFilter":
        return BloomFilter(self.n_bits, self.n_hashes, self.bits | other.bits)


def build_bloom(seen_urls: DataFrame, n_bits: int = 1 << 24, n_hashes: int = 5) -> BloomFilter:
    """Partition-local bloom build over the Arrow channel: each task folds
    its partition into ONE bitmap (vectorized numpy adds on xxhash64 values
    computed JVM-side) and emits the bitmap as a single binary row; the
    driver ORs P blobs. P×(bits/8) driver ingress is fine up to a few GB;
    past that use build_bloom_tree (treeAggregate: sqrt(P) ingress)."""
    import pandas as pd

    hashes = seen_urls.select(url_hash64(F.col("url")).alias("h"))

    def fold_partition(batches):
        bloom = BloomFilter(n_bits, n_hashes)
        for pdf in batches:
            if len(pdf):
                bloom.add_hashes(pdf["h"].to_numpy(dtype=np.int64))
        yield pd.DataFrame({"bits": [bloom.bits.tobytes()]})

    blobs = hashes.mapInPandas(fold_partition, "bits binary").collect()
    out = BloomFilter(n_bits, n_hashes)
    for row in blobs:
        out.bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out


def build_bloom_tree(
    seen_urls: DataFrame, n_bits: int = 1 << 24, n_hashes: int = 5
) -> BloomFilter:
    """treeAggregate OR-merge — the 10^10-scale path for big bitmaps: the
    driver receives sqrt(P) pre-merged bitmaps, never P."""
    hashes = seen_urls.select(url_hash64(F.col("url")).alias("h"))

    def fold(rows):
        bloom = BloomFilter(n_bits, n_hashes)
        arr = np.fromiter((r[0] for r in rows), dtype=np.int64)
        if len(arr):
            bloom.add_hashes(arr)
        return [bloom]

    rdd = hashes.rdd.mapPartitions(fold)
    return rdd.treeAggregate(
        BloomFilter(n_bits, n_hashes),
        lambda a, b: a.union(b),
        lambda a, b: a.union(b),
        depth=2,
    )


def filter_unseen_hybrid(
    frontier: DataFrame,
    seen_urls: DataFrame,
    prefilter,
    *,
    cache_out: list[DataFrame] | None = None,
) -> DataFrame:
    """The 10^10-scale composition (PLANS.md f10 row): the broadcast
    prefilter (BloomFilter or CuckooFilter — anything with a vectorized
    `might_contain(h64)` and no false negatives) SPLITS the frontier —

      * prefilter-negative rows are DEFINITELY unseen (no false negatives)
        and skip the anti-join shuffle entirely; on a growing crawl this is
        the bulk of every generation,
      * prefilter-positive rows (truly seen + false-positive rate ε) are
        the only rows that shuffle against the seen table, which recovers
        the false positives exactly.

    Equal to filter_unseen_exact by construction — the exact join sees
    every row the prefilter could possibly be wrong about.

    cache_out: without it the two branches re-run the (map-only,
    deterministic) tag pass once each. With it the tagged frame is
    persisted and its handle appended, so the Python pass runs once; the
    CALLER unpersists the handle after materializing the result (the
    frontier loop does this after each generation commits)."""
    spark = frontier.sparkSession
    bc = spark.sparkContext.broadcast(prefilter)
    with_h = frontier.withColumn("url_h", url_hash64(F.col("url")))

    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(with_h.schema.fields)
        + [T.StructField("_maybe_seen", T.BooleanType(), False)]
    )

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = bc.value
        for pdf in batches:
            if len(pdf):
                flag = local.might_contain(pdf["url_h"].to_numpy(dtype=np.int64))
            else:
                flag = np.zeros(0, dtype=bool)
            yield pdf.assign(_maybe_seen=flag)

    tagged = with_h.mapInPandas(tag, out_schema)
    if cache_out is not None:
        tagged = tagged.persist()
        cache_out.append(tagged)
    sure_unseen = tagged.where(~F.col("_maybe_seen")).drop("url_h", "_maybe_seen")
    maybe = tagged.where(F.col("_maybe_seen")).drop("_maybe_seen")
    seen_keys = seen_urls.select(url_hash64(F.col("url")).alias("url_h")).distinct()
    recovered = maybe.join(seen_keys, "url_h", "left_anti").drop("url_h")
    return sure_unseen.unionByName(recovered)


def filter_unseen_bloom(frontier: DataFrame, bloom: BloomFilter) -> DataFrame:
    """Rows whose url is definitely unseen (bloom negative). False-positive
    rows are withheld this generation and recovered by the exact confirm in
    the frontier loop — never lost, never double-fetched."""
    spark = frontier.sparkSession
    bc = spark.sparkContext.broadcast((bloom.n_bits, bloom.n_hashes, bloom.bits))
    with_h = frontier.withColumn("url_h", url_hash64(F.col("url")))
    schema = with_h.schema

    def test_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_bits, n_hashes, bits = bc.value
        local = BloomFilter(n_bits, n_hashes, bits)
        for pdf in batches:
            if len(pdf):
                hit = local.might_contain(pdf["url_h"].to_numpy(dtype=np.int64))
                yield pdf[~hit]
            else:
                yield pdf

    return with_h.mapInPandas(test_partition, schema).drop("url_h")
