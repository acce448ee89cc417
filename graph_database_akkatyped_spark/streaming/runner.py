"""The one stream runner every run-to-completion stream goes through.

Three stages:

- :func:`drain` — a streaming plan into a memory sink with AvailableNow,
  read back as a table (the windowed, joined and stateful keys);
- :func:`read_splits` — a split-file directory as a file stream, one
  file per micro-batch (the replay layout of the ledgered keys);
- :func:`ledgered_run` — a split-file stream through ``foreachBatch``
  into a ledgered store (``streaming/sinks.py``), memoized, with the
  run-shape checks and every resource the run made freed in one place.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from graph_database_akkatyped_spark.caching import (
    _unpersist_ids,
    cut,
    cut_block_ids,
    memoized_checkpoint,
)


def _to_completion(writer: DataStreamWriter) -> None:
    """Start ``writer`` with AvailableNow (every file the source holds,
    then stop) and wait for it; a failed micro-batch re-raises here as
    ``StreamingQueryException``."""
    writer.trigger(availableNow=True).start().awaitTermination()


def drain(plan: DataFrame, prefix: str, mode: str) -> DataFrame:
    """Run ``plan`` to completion into a fresh memory sink in output
    ``mode`` and return the sink's table."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    _to_completion(
        plan.writeStream.format("memory").queryName(name).outputMode(mode)
    )
    return plan.sparkSession.table(name)


def read_splits(spark: SparkSession, split_dir: str) -> DataFrame:
    """The parquet files of ``split_dir`` as a file stream that takes
    one file per micro-batch, so a run sees a genuine multi-batch
    replay."""
    schema = spark.read.parquet(split_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )


class _Run:
    """One ledgered run: what it made, so :meth:`free` can release it."""

    def __init__(self, spark: SparkSession, kind: str):
        self.spark = spark
        self.kind = kind
        self.cuts: list[DataFrame] = []
        self.store = None
        self.ckpt: str | None = None
        self.last: tuple | None = None

    def cut(self, df: DataFrame) -> DataFrame:
        df = cut(df)
        self.cuts.append(df)
        return df

    def sink(self, batch_df: DataFrame, batch_id: int) -> None:
        partial = self.store.partial(batch_df)
        if isinstance(partial, DataFrame):
            partial = self.cut(partial)
        self.last = (partial, batch_id)
        self.store.apply(partial, batch_id)

    def build(self, start: Callable) -> DataFrame:
        self.store, split_dir = start(self.cut)
        self.ckpt = tempfile.mkdtemp(prefix=f"spark_graft_{self.kind}_ckpt_")
        _to_completion(
            read_splits(self.spark, split_dir)
            .writeStream.foreachBatch(self.sink)
            .option("checkpointLocation", self.ckpt)
        )
        n, need = len(self.store.applied), self.store.min_batches
        if n < need:
            raise RuntimeError(
                f"{self.kind}: feed did not split into micro-batches "
                f"({n} applied, {need} needed)"
            )
        if not self.store.replay(*self.last):
            raise RuntimeError(
                f"{self.kind}: the final-batch replay was not a no-op"
            )
        return self.store.snapshot()

    def free(self) -> None:
        ids = set().union(*map(cut_block_ids, self.cuts))
        if self.store is not None:
            ids |= self.store.blocks
        _unpersist_ids(self.spark, ids)
        if self.ckpt is not None:
            shutil.rmtree(self.ckpt, ignore_errors=True)


def ledgered_run(
    spark: SparkSession, kind: str, sf_dir: str, start: Callable
) -> DataFrame:
    """The memoized snapshot of one ledgered run for ``(kind, sf_dir)``.

    ``start(run_cut)`` opens the run and returns ``(store, split_dir)``;
    a frame the store reads for the whole run is cut with ``run_cut``,
    which records it. Each micro-batch of ``split_dir`` goes through
    ``store.partial(batch_df)`` (a lazy frame, which the run cuts and
    records, or a driver-side value) and then
    ``store.apply(partial, batch_id)``. After the stream ends the run
    checks its shape and raises ``RuntimeError`` when the store holds
    fewer than ``store.min_batches`` applied batches, or when
    ``store.replay(partial, batch_id)`` of the final batch (the
    redelivery Spark makes after a sink failure) reports that it was
    not a no-op. The snapshot is ``store.snapshot()``.

    The run owns its temp checkpoint dir, every cut it recorded and
    the store's live blocks (``store.blocks``). It frees them all in
    one ``finally``: after ``memoized_checkpoint`` has cut the
    snapshot, or before the error of a failed run propagates. A memo
    hit starts no run."""
    run = _Run(spark, kind)
    try:
        return memoized_checkpoint(spark, kind, sf_dir, lambda: run.build(start))
    finally:
        run.free()
