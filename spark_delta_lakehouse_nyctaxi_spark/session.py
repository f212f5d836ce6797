"""SparkSession factory.

Mirrors the reference's session bootstrap (``utils/spark.py:18-30``):
AQE on, partition coalescing on — but Spark-4 native (no Delta extension;
the versioned-table layer in ``sources.table`` supplies those semantics).

Session timezone is pinned to UTC so timestamp semantics are stable and
match the DuckDB oracle regardless of host TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "spark-delta-lakehouse-nyctaxi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    At 100 TB on a real cluster the same config applies — AQE picks
    shuffle partition counts at runtime; ``shuffle_partitions`` is only
    the pre-AQE ceiling.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE optimize plans UNDER persisted relations too (default
        # false keeps cached-plan partitioning frozen, which forces an
        # extra exchange on aggregates over cached frames — measured
        # ~18% on the minhash pipeline at sf0.1).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # reliable checkpoint files (operators/checkpoint.py) are
        # deleted when their frame is garbage-collected, like the
        # localCheckpoint blocks they stand in for; Spark keeps them
        # forever by default
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark(spark: SparkSession) -> None:
    spark.stop()
