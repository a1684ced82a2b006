"""K5: snapshot checkpointing for resumable crawls.

Production target is Iceberg (MERGE INTO the seen set, snapshot per
generation); the sandbox has no Iceberg runtime jar, so the same contract is
implemented over parquet snapshot directories with an atomically-renamed
manifest. Commit protocol, in order:

  1. write-ahead table — a crawl generation's fetch output, written once
     (`write_ahead`) before anything else; every other table of the
     generation derives from its scan, so no later step re-runs the fetch;
  2. the generation's tables (`commit`);
  3. manifest.json, renamed into place — the commit point.

A crash anywhere before step 3 leaves an uncommitted directory that resume
ignores; rerunning the generation overwrites its stale tables. Resume =
highest committed generation. The public API is backend-agnostic so an
Iceberg backend slots in unchanged.

Per-partition lineage (batch_id, partition_id) rides on every committed
DataFrame via spark_partition_id() — the north rule's lineage requirement.

Schema memo: the store remembers each table's schema by (gen, table) when
it writes it, and `read`/`read_lineage` hand that schema to the reader, so
a read-back plans without Spark's parquet schema-inference job (one job
per read; a delta generation reads 6-7 tables back). A table this store did not
write — a resumed run's earlier generations — is inferred on its first
read and memoized from then on. The memo is per process; the files stay
the source of truth.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the write-ahead table's name inside a generation directory
WRITE_AHEAD = "fetched"


@dataclass
class Snapshot:
    generation: int
    path: str
    manifest: dict


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # committed manifests are immutable (rename is the commit point), so
        # parsed snapshots are memoized — without this, delta-mode
        # reconstruction re-opens O(total generations) manifest files per
        # generation, a quadratic driver-side small-file cost over a long
        # crawl (r3 ADVICE). commit() refreshes the entry, so the one writer
        # that CAN change a generation (crash-recommit replay) stays
        # consistent.
        self._snapshot_cache: dict[int, Snapshot] = {}
        # generations whose write-ahead table is written but not yet
        # committed; the manifest lists it with the committed tables
        self._ahead: set[int] = set()
        # (gen, table) -> schema as written (with lineage columns); see the
        # module docstring
        self._schemas: dict[tuple[int, str], StructType] = {}

    # -- commit protocol ----------------------------------------------------

    def _gen_dir(self, gen: int) -> str:
        return os.path.join(self.root, f"gen={gen:06d}")

    def _write(self, gen: int, name: str, df: DataFrame) -> None:
        out = df.withColumn("_batch_id", F.lit(gen)).withColumn(
            "_partition_id", F.spark_partition_id()
        )
        out.write.mode("overwrite").parquet(os.path.join(self._gen_dir(gen), name))
        # the reader makes a given schema nullable, as inference would
        self._schemas[(gen, name)] = out.schema

    def write_ahead(self, gen: int, df: DataFrame) -> DataFrame:
        """Write `df` (with lineage columns) as generation `gen`'s
        WRITE_AHEAD table, ahead of its other tables and manifest, and
        return the durable scan of it. Readers of the scan never re-run
        `df`'s plan, so a nondeterministic stage in it (a live fetch) runs
        once. An earlier, uncommitted attempt at the same generation is
        overwritten."""
        self._write(gen, WRITE_AHEAD, df)
        self._ahead.add(gen)
        return self.read(df.sparkSession, gen, WRITE_AHEAD)

    def commit(self, gen: int, tables: dict[str, DataFrame], metrics: dict) -> Snapshot:
        """Write each DataFrame (with lineage columns) + manifest; the
        manifest write is the commit point — a crash before it leaves an
        uncommitted (ignored) directory, after it a complete snapshot."""
        gen_dir = self._gen_dir(gen)
        os.makedirs(gen_dir, exist_ok=True)  # table writes create it too,
        for name, df in tables.items():      # but commit({}) is legal
            self._write(gen, name, df)
        names = set(tables)
        if gen in self._ahead:
            self._ahead.discard(gen)
            names.add(WRITE_AHEAD)
        manifest = {
            "generation": gen,
            "tables": sorted(names),
            "metrics": metrics,
            "committed_at_unix": int(time.time()),
        }
        tmp = os.path.join(gen_dir, "_manifest.tmp")
        final = os.path.join(gen_dir, "manifest.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.rename(tmp, final)  # atomic commit point
        snap = Snapshot(gen, gen_dir, manifest)
        self._snapshot_cache[gen] = snap
        return snap

    # -- resume ---------------------------------------------------------------

    def committed_generations(self) -> list[int]:
        gens = []
        if not os.path.isdir(self.root):
            return gens
        for d in sorted(os.listdir(self.root)):
            if d.startswith("gen=") and os.path.exists(
                os.path.join(self.root, d, "manifest.json")
            ):
                gens.append(int(d.split("=")[1]))
        return gens

    def latest(self) -> Snapshot | None:
        gens = self.committed_generations()
        if not gens:
            return None
        return self.snapshot(gens[-1])

    def snapshot(self, gen: int) -> Snapshot:
        cached = self._snapshot_cache.get(gen)
        if cached is not None:
            return cached
        with open(os.path.join(self._gen_dir(gen), "manifest.json")) as f:
            snap = Snapshot(gen, self._gen_dir(gen), json.load(f))
        self._snapshot_cache[gen] = snap
        return snap

    def read(self, spark: SparkSession, gen: int, table: str) -> DataFrame:
        return self.read_lineage(spark, gen, table).drop("_batch_id", "_partition_id")

    def read_lineage(self, spark: SparkSession, gen: int, table: str) -> DataFrame:
        schema = self._schemas.get((gen, table))
        # no schema: a table not written here, inferred once and memoized
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(os.path.join(self._gen_dir(gen), table))
        self._schemas[(gen, table)] = df.schema
        return df

    def partition_metrics(self, spark: SparkSession, gen: int) -> DataFrame:
        """Per-partition row metrics over a committed snapshot (the north
        rule's "per-partition lineage and fetch/dedup/defer metrics"): one
        narrow aggregation per committed table on the lineage columns that
        already ride on every row. results = fetch, seen/frontier = dedup
        state, frontier rows with not_before > gen = deferred work.

        Columns: table, _batch_id, _partition_id, rows — derivable offline
        from any snapshot, no live driver state needed (the manifest holds
        the generation-level totals; this exposes the skew view)."""
        snap = self._gen_dir(gen)
        with open(os.path.join(snap, "manifest.json")) as f:
            tables = json.load(f)["tables"]
        out = spark.createDataFrame(
            [], "table string, _batch_id int, _partition_id int, rows long"
        )
        for t in tables:
            part = (
                self.read_lineage(spark, gen, t)
                .groupBy("_batch_id", "_partition_id")
                .agg(F.count(F.lit(1)).alias("rows"))
                .select(F.lit(t).alias("table"), "_batch_id", "_partition_id", "rows")
            )
            out = out.unionByName(part)
        return out
