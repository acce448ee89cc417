"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload oltp_journal --seed 1 --seconds 10 --trace 0

Run from the repository root. The Spark session comes from
``session.get_spark`` exactly as production builds it, on
``local[<usable cpus>]``; the only setting changed is the driver heap
(``SPARK_GRAFT_DRIVER_MEM``). Every file the run writes lives under
``.perfbench_work/`` in the current directory.

Phases: session start; ``SETUP_REPS`` input set-ups (the last one is
used); an untimed ``prepare`` that computes expected answers by an
independent path; an untimed warm-up round where the workload has one;
the measured window of whole rounds; a final check. The end-to-end
metrics are medians over the measured rounds.
With ``--trace 0`` the last stdout line carries the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run.
The line before it records the run's provenance (cpus, inputs, driver
heap, Spark version, commit, seed); ``perfbench/compare.py`` refuses
to compare results whose cpus or inputs differ.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "graph_database_akkatyped_spark", "__init__.py")
WORKLOADS = ("oltp_journal", "batch_analytics")
SETUP_REPS = 3
DRIVER_MEM = "3g"

BACKGROUND = ("refresh", "compact")
EXEC_METRICS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "input_bytes")

END_TO_END = {"setup_s": "s", "latency_ms": "ms", "ops_per_s": "1/s", "round_s": "s"}


def per_layer_units() -> dict[str, str]:
    from perfbench.analytics import ASKS as ANALYTICS_ASKS
    from perfbench.curation import KEYS as CURATION_KEYS
    from perfbench.oltp import READS as OLTP_READS, WRITES as OLTP_WRITES

    u = {"session.start_s": "s", "setup.seed_s": "s", "setup.corpus_s": "s"}
    for op in OLTP_READS + OLTP_WRITES:
        u[f"api.{op}.p50_ms"] = "ms"
    for side in ("read", "write"):
        u[f"oltp.{side}_p50_ms"] = "ms"
        u[f"oltp.{side}_p90_ms"] = "ms"
    for op in OLTP_READS:
        u[f"api.{op}.build_ms"] = "ms"
        u[f"api.{op}.exec_ms"] = "ms"
    u.update({
        "api.append.files_written": "count", "api.journal.files": "count",
        "api.journal.bytes": "bytes",
        "api.compact.s": "s", "api.compact.bytes_rewritten": "bytes",
        "api.refresh.ms": "ms", "api.space_amp": "ratio",
        "api.replay.rows_scanned_per_row": "ratio",
        "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms", "driver.gap_ms": "ms",
    })
    for ask in ANALYTICS_ASKS:
        u[f"{ask}.s"] = "s"
        for c in ("spark.jobs", "spark.stages", "spark.tasks", "caching.persisted_rdds"):
            u[f"{ask}.{c}"] = "count"
    for m in EXEC_METRICS:
        u[f"exec.{m}"] = "ms" if m.endswith("_ms") else "bytes"
    for key in CURATION_KEYS:
        u[f"{key}.build_s"] = "s"
        u[f"{key}.exec_s"] = "s"
        u[f"{key}.rows_out"] = "count"
        u[f"{key}.exec.shuffle_write_bytes"] = "bytes"
    u.update({
        "storage_mb": "MB", "error_rate": "ratio", "env.canary_ms": "ms",
        "trace.overhead_ms": "ms", "trace.overhead_pct": "%",
    })
    return u


# ------------------------------------------------------------ statistics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> float:
    """p90 when at least ten samples lie beyond it, else the highest
    percentile that has ten beyond, else the median."""
    xs = sorted(xs)
    if len(xs) < 20:
        return median(xs)
    q = min(0.9, 1 - 10 / len(xs))
    return float(statistics.quantiles(xs, n=1000, method="inclusive")[int(q * 1000) - 1])


def mix_latency_ms(rounds) -> float:
    """Mean latency of the rounds' op mix with each op type at its
    median: one slow call (a GC pause, a stalled host) moves a median
    little and a mean a lot."""
    by: dict[str, list[float]] = {}
    for ops in rounds:
        for sp in ops:
            by.setdefault(sp.name, []).append(sp.ms)
    return sum(len(xs) * median(xs) for xs in by.values()) / sum(map(len, by.values()))


# ----------------------------------------------------------------- run


def git_commit() -> str:
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return res.stdout.strip() if res.returncode == 0 else "unknown"


def canary_ms(spark) -> float:
    t0 = time.perf_counter()
    sum(i * i for i in range(200_000))
    spark.range(1000).selectExpr("sum(id)").collect()
    return (time.perf_counter() - t0) * 1e3


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def make_workload(name: str, spark, work: str, seed: int):
    if name == "oltp_journal":
        from perfbench.oltp import Workload
    else:
        from perfbench.batch import Workload
    return Workload(spark, work, seed)


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench.spans import Recorder
    from graph_database_akkatyped_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = make_workload(args.workload, spark, work, args.seed)
        setup_rec = Recorder(spark, traced=False)
        setup_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep, setup_rec)
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        problems = wl.prepare()
        prepare_s = time.perf_counter() - t0
        warm_rec = Recorder(spark, traced=False)
        warm = wl.warm(warm_rec)
        canaries = [canary_ms(spark)]
        rec = Recorder(spark, traced=bool(args.trace))
        t0 = time.perf_counter()
        out = wl.measure(args.seconds, rec)
        measured_s = time.perf_counter() - t0
        canaries.append(canary_ms(spark))
        t0 = time.perf_counter()
        checks, bad_final = wl.finish()
        finish_s = time.perf_counter() - t0
        meta = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "driver_mem": DRIVER_MEM,
            "spark_version": spark.version, "python": sys.version.split()[0],
            "commit": git_commit(), "inputs": wl.inputs, "problems": problems,
            "phase_s": {"start": start_s, "setup": setup_times, "prepare": prepare_s,
                        "warm": warm.get("cycles", []), "finish": finish_s},
        }
    finally:
        stop_spark(spark)
    fg = [sp for sp in rec.spans if sp.name not in BACKGROUND]
    failed = len(warm["failed_ops"]) + len(out["failed_ops"]) + bad_final + bool(problems)
    attempted = len(warm_rec.spans) + len(rec.spans) + checks
    # every round runs the same op mix, so per-round figures are comparable
    # and their median ignores a round the shared host stalled
    e2e = {
        "setup_s": start_s + median(setup_times),
        "latency_ms": mix_latency_ms(out["round_ops"]),
        "ops_per_s": median(len(ops) / s for ops, s in zip(out["round_ops"], out["cycles"])),
        "round_s": median(out["cycles"]),
    }
    layers = per_layer(rec, setup_rec, start_s, out, canaries, measured_s)
    layers["error_rate"] = failed / attempted
    meta.update(attempted=attempted, failed=failed, failed_ops=out["failed_ops"],
                rounds=len(out["cycles"]), round_s=out["cycles"],
                op_p50_ms={name: median(sp.ms for sp in rec.spans if sp.name == name)
                           for name in sorted({sp.name for sp in rec.spans})},
                measured_s=measured_s, ops=len(fg))
    return meta, {"e2e": e2e, "layers": layers}


def per_layer(rec, setup_rec, start_s, out, canaries, measured_s) -> dict:
    from perfbench.analytics import ASKS as ANALYTICS_ASKS
    from perfbench.curation import KEYS as CURATION_KEYS
    from perfbench.oltp import READS as OLTP_READS, WRITES as OLTP_WRITES

    ops = rec.spans
    by = {}
    for sp in ops:
        by.setdefault(sp.name, []).append(sp)
    m = {name: 0.0 for name in per_layer_units()}

    def ms(name):
        return [sp.ms for sp in by.get(name, [])]

    def count(name, key):
        return median(sp.counts.get(key, 0.0) for sp in by.get(name, []))

    m["session.start_s"] = start_s
    for name in ("seed", "corpus"):
        m[f"setup.{name}_s"] = median(sp.ms / 1e3 for sp in setup_rec.spans
                                      if sp.name == f"setup.{name}")
    for op in OLTP_READS + OLTP_WRITES:
        m[f"api.{op}.p50_ms"] = median(ms(op))
    reads = [x for op in OLTP_READS for x in ms(op)]
    writes = [x for op in OLTP_WRITES for x in ms(op)]
    m["oltp.read_p50_ms"], m["oltp.read_p90_ms"] = median(reads), tail(reads)
    m["oltp.write_p50_ms"], m["oltp.write_p90_ms"] = median(writes), tail(writes)
    for op in OLTP_READS:
        m[f"api.{op}.build_ms"] = count(op, "build_ms")
        m[f"api.{op}.exec_ms"] = count(op, "exec_ms")
    if by.get("compact"):
        m["api.append.files_written"] = median(out["files_written"])
        m["api.journal.files"], m["api.journal.bytes"], m["api.space_amp"] = out["journal"]
        m["api.compact.s"] = median(ms("compact")) / 1e3
        m["api.compact.bytes_rewritten"] = median(out["compact_bytes"])
        m["api.refresh.ms"] = median(ms("refresh"))
    asks = [sp for op in OLTP_READS for sp in by.get(op, [])]
    rows = sum(sp.counts.get("rows", 0) for sp in asks)
    if rows:
        m["api.replay.rows_scanned_per_row"] = sum(
            sp.counts.get("exec.input_records", 0) for sp in asks) / rows
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = median(
            sp.counts[f"catalyst.{phase}_ms"] for sp in ops if f"catalyst.{phase}_ms" in sp.counts)
    fg = [sp for sp in ops if sp.name not in BACKGROUND]
    m["driver.gap_ms"] = median(sp.counts.get("driver.gap_ms", 0.0) for sp in fg)
    for ask in ANALYTICS_ASKS:
        m[f"{ask}.s"] = median(ms(ask)) / 1e3
        for c in ("spark.jobs", "spark.stages", "spark.tasks"):
            m[f"{ask}.{c}"] = count(ask, c)
        m[f"{ask}.caching.persisted_rdds"] = max(out.get("persisted", {}).get(ask, [0]))
    for e in EXEC_METRICS:
        m[f"exec.{e}"] = sum(sp.counts.get(f"exec.{e}", 0.0) for sp in fg) / max(len(fg), 1)
    for key in CURATION_KEYS:
        m[f"{key}.build_s"] = count(key, "build_ms") / 1e3
        m[f"{key}.exec_s"] = count(key, "exec_ms") / 1e3
        m[f"{key}.rows_out"] = count(key, "rows")
        m[f"{key}.exec.shuffle_write_bytes"] = count(key, "exec.shuffle_write_bytes")
    m["storage_mb"] = max(out.get("storage_mb", [0.0]))
    m["env.canary_ms"] = median(canaries)
    m["trace.overhead_ms"] = rec.overhead_s * 1e3
    m["trace.overhead_pct"] = 100 * rec.overhead_s / measured_s
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(PACKAGE):
        print(f"perfbench: no graph_database_akkatyped_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    scratch = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temp file of Python, Spark and the JVM inside the run's directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    cwd = os.getcwd()
    os.chdir(work)
    try:
        meta, metrics = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    units = per_layer_units() if args.trace else END_TO_END
    chosen = metrics["layers"] if args.trace else metrics["e2e"]
    result = {
        "correct": meta["failed"] == 0,
        "attempted": meta["attempted"],
        "failed": meta["failed"],
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }
    os.makedirs(os.path.join(scratch, "results"), exist_ok=True)
    path = os.path.join(scratch, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"meta": meta, **metrics, "result": result}, f, indent=1)
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
