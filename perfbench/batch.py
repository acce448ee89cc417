"""``batch_analytics``: the two batch pipelines a user waits for, cold.

Each round clears the frame cache, then runs the graph asks of
:mod:`perfbench.analytics` (connected components, PageRank, BFS over a
replayed multi-batch journal) and the eight-key curation funnel of
:mod:`perfbench.curation`. The graph half is executor, shuffle and
superstep bound; the curation half is string, hash and shuffle work
and touches Pregel only through ``dedup_clusters``. Their per-layer
metrics are kept apart, so a graph-kernel change should move the
graph asks and leave the curation keys alone.
"""

from __future__ import annotations

import time

from perfbench.analytics import GraphAsks
from perfbench.curation import Funnel
from perfbench.spans import storage_mb


class Workload:
    name = "batch_analytics"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.parts = (GraphAsks(spark, work, seed), Funnel(spark, work, seed))

    @property
    def inputs(self) -> dict:
        return {**self.parts[0].inputs, **self.parts[1].inputs}

    def setup(self, rep: int, rec) -> None:
        for part in self.parts:
            part.setup(rep, rec)

    def prepare(self) -> list[str]:
        for part in self.parts:
            part.prepare()
        return []

    def warm(self, rec) -> dict:
        """No warm-up: every round is meant to run cold."""
        return {"failed_ops": []}

    def measure(self, seconds: float, rec) -> dict:
        from graph_database_akkatyped_spark.caching import clear_frame_cache

        out = {"failed_ops": [], "cycles": [], "storage_mb": [], "persisted": {},
               "round_ops": []}
        t_end = time.perf_counter() + seconds
        while not out["cycles"] or time.perf_counter() < t_end:
            c0 = time.perf_counter()
            first = len(rec.spans)
            clear_frame_cache()
            for part in self.parts:
                part.round(rec, out)
            out["round_ops"].append(rec.spans[first:])
            out["cycles"].append(time.perf_counter() - c0)
            out["storage_mb"].append(storage_mb(self.spark))
        clear_frame_cache()
        return out

    def finish(self) -> tuple[int, int]:
        """(checks, failed) beyond the per-op checks: none."""
        return 0, 0
