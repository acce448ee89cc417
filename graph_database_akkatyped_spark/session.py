"""SparkSession factory with scale-aware defaults (SURVEY.md §4.2).

Defaults chosen for oracle parity and 100 TB readiness:

- UTC session timezone: timestamp hashing must match the DuckDB oracle.
- AQE on (coalesce partitions + skew-join): at 100 TB the static
  ``spark.sql.shuffle.partitions`` is always wrong for some stage; AQE
  re-plans at runtime. Locally it also collapses tiny shuffles.
- Arrow enabled: every pandas_udf / applyInPandas path is Arrow-batched.
- shuffle.partitions=32 locally (matches local[32]); a real cluster
  deployment overrides via ``spark-defaults.conf`` and leans on AQE's
  ``advisoryPartitionSizeInBytes`` instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "graph-database-akkatyped-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # reliable checkpoints (caching.set_reliable_checkpointing) are cleaned
        # by the ContextCleaner when the JVM-side RDD becomes
        # unreachable — without this, superseded Pregel-superstep
        # checkpoints accumulate on the checkpoint FS forever (disk
        # grows O(iterations) on multi-hour runs). Must be set at
        # context creation; set_reliable_checkpointing() warns when it
        # finds a session built without it.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # events.ts is TIMESTAMP(NANOS) in parquet, which Spark 4 rejects;
        # read as long (ns since epoch) and convert in catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
