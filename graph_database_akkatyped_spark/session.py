"""SparkSession factory with scale-aware defaults (SURVEY.md §4.2).

Defaults chosen for oracle parity and 100 TB readiness:

- UTC session timezone: timestamp hashing must match the DuckDB oracle.
- AQE on (coalesce partitions + skew-join): at 100 TB the static
  ``spark.sql.shuffle.partitions`` is always wrong for some stage; AQE
  re-plans at runtime. Locally it also collapses tiny shuffles.
- Arrow enabled: every pandas_udf / applyInPandas path is Arrow-batched.
- Sized to the machine. A local session runs ``local[n]`` with
  ``shuffle.partitions=n``, where n is :func:`local_cpus`: more
  partitions than cores only add tasks, and a stateful streaming
  query keeps one state store per partition (the GraphDB journal view
  is a driver fold and keeps none). The driver heap is
  :func:`driver_memory`. A real cluster deployment passes its
  ``master``, sets the partition count via ``spark-defaults.conf`` and
  leans on AQE's ``advisoryPartitionSizeInBytes`` instead.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_DEFAULT_HEAP = 16 * 2**30
_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def local_cpus() -> int:
    """The core count of a local session: ``SPARK_GRAFT_CPUS``, else
    the CPUs this process may run on (its affinity mask, which a
    container or ``taskset`` narrows below the host's count)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM`` (a JVM size such as
    ``3g``; no suffix means MiB, as for ``spark.driver.memory``), else
    the smaller of 16g and three quarters of physical memory. Raises
    ``ValueError`` when the explicit heap is larger than physical
    memory, since such a JVM starts and then swaps or is killed."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        return f"{min(_DEFAULT_HEAP, phys * 3 // 4) // 2**20}m"
    size = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if size is None:
        raise ValueError(f"SPARK_GRAFT_DRIVER_MEM={mem!r} is not a JVM size such as 3g")
    if int(size[1]) * _UNITS[size[2] or "m"] > phys:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={mem!r} is larger than physical memory "
            f"({phys // 2**20} MiB)"
        )
    return mem


def session_conf(
    master: str | None = None, shuffle_partitions: int | None = None
) -> tuple[str, dict[str, str]]:
    """The master URL and the configs :func:`get_spark` builds its
    session with; starts no JVM. With no ``master``, the session is
    ``local[n]`` (n = :func:`local_cpus`) and ``shuffle_partitions``
    defaults to n; with an explicit ``master``, an unset
    ``shuffle_partitions`` leaves the cluster's own setting."""
    if master is None:
        cpus = local_cpus()
        master = f"local[{cpus}]"
        if shuffle_partitions is None:
            shuffle_partitions = cpus
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # reliable checkpoints (caching.set_reliable_checkpointing) are cleaned
        # by the ContextCleaner when the JVM-side RDD becomes
        # unreachable — without this, superseded Pregel-superstep
        # checkpoints accumulate on the checkpoint FS forever (disk
        # grows O(iterations) on multi-hour runs). Must be set at
        # context creation; set_reliable_checkpointing() warns when it
        # finds a session built without it.
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        # events.ts is TIMESTAMP(NANOS) in parquet, which Spark 4 rejects;
        # read as long (ns since epoch) and convert in catalog.load_table
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": driver_memory(),
        "spark.ui.enabled": "false",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return master, conf


def get_spark(
    app_name: str = "graph-database-akkatyped-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master, conf = session_conf(master, shuffle_partitions)
    builder = SparkSession.builder.master(master).appName(app_name)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
