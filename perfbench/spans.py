"""Spans around calls into the program, plus Spark's own counters.

A :class:`Recorder` times every operation the benchmark issues. With
tracing on it also tags each operation with a Spark job group and,
when the call returns, reads from outside the package:

- ``statusTracker`` / ``AppStatusStore`` for the jobs and stages the
  call ran: task count, executor run/CPU/GC time, shuffle, spill and
  input bytes, and the wall time during which no job was running
  (driver gap);
- ``QueryExecution.tracker.phases`` for Catalyst analysis,
  optimization and planning time of a returned DataFrame.

These reads work with ``spark.ui.enabled=false``. Spans stay in
memory; the time spent reading the counters is summed as the tracing
overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

EXEC_FIELDS = {
    # StageData accessor -> metric suffix, with the factor to its unit
    "executorRunTime": ("run_ms", 1.0),
    "executorCpuTime": ("cpu_ms", 1e-6),
    "jvmGcTime": ("gc_ms", 1.0),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1.0),
    "shuffleReadBytes": ("shuffle_read_bytes", 1.0),
    "memoryBytesSpilled": ("spill_bytes", 1.0),
    "inputBytes": ("input_bytes", 1.0),
    "inputRecords": ("input_records", 1.0),
}
PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float = 0.0
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Recorder:
    """Times operations; with ``traced`` set, attaches Spark counters."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        """Time the body as one span; the body may add counts to the
        yielded span. Spans do not nest."""
        sp = Span(name)
        self.spans.append(sp)
        group = f"perfbench-{len(self.spans)}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.traced:
                t0 = time.perf_counter()
                self.spark.sparkContext.setJobGroup("perfbench-idle", "")
                sp.counts.update(self._job_counts(group, sp))
                self.overhead_s += time.perf_counter() - t0

    def phases(self, sp: Span, df) -> None:
        """Add Catalyst phase times of ``df``'s last execution."""
        if not self.traced:
            return
        t0 = time.perf_counter()
        try:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in PHASES:
                    sp.counts[f"catalyst.{kv._1()}_ms"] = float(kv._2().durationMs())
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _job_counts(self, group: str, sp: Span) -> dict[str, float]:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = {"spark.jobs": float(len(jobs)), "spark.stages": 0.0, "spark.tasks": 0.0}
        out.update({f"exec.{m}": 0.0 for m, _ in EXEC_FIELDS.values()})
        busy: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
            jd = store.job(jid)
            if jd.submissionTime().isDefined():
                t1 = jd.submissionTime().get().getTime() / 1e3
                t2 = (
                    jd.completionTime().get().getTime() / 1e3
                    if jd.completionTime().isDefined()
                    else time.time()
                )
                busy.append((t1, t2))
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage never ran (skipped) or evicted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numTasks()
            for acc, (metric, factor) in EXEC_FIELDS.items():
                out[f"exec.{metric}"] += getattr(sd, acc)() * factor
        out["driver.gap_ms"] = max(0.0, sp.ms - _union_s(busy) * 1e3)
        return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def storage_mb(spark) -> float:
    """Executor storage (memory + disk) still held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
