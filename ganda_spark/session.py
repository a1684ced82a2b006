"""SparkSession factory tuned for the crawl-frontier workload.

Scale posture (100 TB / 1000 executors): everything here is a config, not a
code path — the same plans run unchanged on a real cluster via
`spark-submit --py-files`. In the sandbox we run local[N]; the two-level
scaling bench (local[8] vs local[32]) stands in for N vs 4N executors.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship ganda_spark to executor python workers (the local-mode analog
    of `spark-submit --py-files ganda_spark.zip` from the north rule).
    Without this, any UDF importing the package fails off-cwd."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "ganda_spark_pkg")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir), "ganda_spark")
    spark.sparkContext.addPyFile(zip_path)


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently ship the package on a session WE didn't create (e.g.
    the verification driver's own SparkSession) so pandas UDFs can import
    ganda_spark in executor workers regardless of cwd."""
    if getattr(spark, "_ganda_pkg_shipped", False):
        return
    try:
        _ship_package(spark)
    except Exception:
        pass  # e.g. file already registered — workers can already import
    spark._ganda_pkg_shipped = True


def get_spark(
    app_name: str = "ganda-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(32, cores)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # AQE: runtime coalesce + skew-join splitting — hot hosts are data skew
        # Catalyst can't see statically (SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # ...and inside persisted plans too. Off (Spark's default), every
        # stage reading a cached frame (the prefilter tag pass, the pop, the
        # global-rank intermediate) keeps shuffle.partitions tasks even over
        # a few thousand rows. Explicit repartition(n)/repartitionByRange(n)
        # are never coalesced, so fetch placement, -W thread sizing and the
        # global rank's range boundaries keep their partition counts.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for every pandas UDF / mapInPandas boundary (no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # Per-line headers override static -H headers (last wins):
        # reference: parser/parser.go:145-165, parser/parser_test.go:213-236.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # 128 MB split targets — sane parquet scan granularity at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local mode: the driver JVM runs every task — size the heap for
        # cores×concurrent shuffle buffers or GC eats the scaling curve
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
