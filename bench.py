"""Benchmark harness (driver contract + BASELINE.md protocol).

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric", "value", "unit", "queries": {...}, "sf"}``.

Execution is a ``noop``-format write: the full plan runs on executors
(no column pruning shortcut like ``count()``, no driver collect skew).
Per query: 1 warm-up, then median of ``$SPARK_GRAFT_BENCH_RUNS`` (default
1) timed runs. (Default dropped from 2 once the registry passed ~145
keys: iterative operators also pay eager materialization during plan
construction, so every extra run costs far more wall-clock than its
timed write — and the driver's bench window is finite.) Round-6 noise
discipline: keys whose timed run exceeds ``$SPARK_GRAFT_BENCH_SLOW_SEC``
(default 1.0 s) are re-sampled to median-of-3 — the handful of slow
keys dominate the total and the cross-round per-key comparisons, while
sub-second JIT/AQE jitter nets out across 200+ cheap keys.

``SPARK_GRAFT_BENCH_COLD=1`` (round-7 protocol): clear the memoized
frame cache before every timed run, so keys that normally bench as a
memo fetch (scc/hits/ktruss/mst/coloring/capped adjacency/...) pay
their FULL build in the recorded number. BASELINE.md records BOTH
numbers per round — the memoized total models the production shape
(shared indexes materialized once, consumed by many queries), the cold
total is the honest what-if-nothing-were-reused bound, so the per-key
headline cannot silently mix the two regimes.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from graph_database_akkatyped_spark.registry import collect
from graph_database_akkatyped_spark.session import get_spark


def _run_once(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


# Canary keys: unchanged plans since round 1, no memoized frames, all
# sub-second — pure environment probes. Drift is computed from the
# sweep's OWN timings of these keys (NOT a separate pre-sweep block: a
# session-cold canary pays JVM/JIT start-up the mid-sweep reference
# never paid — measured 2.58x apparent drift while the same keys timed
# 1.07x inside the sweep). Round-11 (ADVICE): the reference is READ
# FROM the committed round-close artifact of the same regime
# (BENCH_FULL.json warm / BENCH_FULL_COLD.json cold, "canary" field) —
# drift is therefore always vs the PREVIOUS round close and its
# provenance is the committed file itself, with no hardcoded constant
# to re-anchor. A run is compared only with an artifact taken at the
# same sf, cache regime and core count (``cpus``): a 4-core run against
# 32-core anchors would read as drift and regressions that are neither.
# NOISE FLOOR: the canary keys are median-of-3 sampled (see the
# timing loop), but each remains a sub-second measurement — treat
# |drift - 1| < 0.15 as no-signal, not as environment drift.
_CANARY_KEYS = ("filter_project", "join_inner_hash", "window_rank")


def _round_close_artifact(cold: bool) -> str:
    return os.path.join(
        _REPO, "BENCH_FULL_COLD.json" if cold else "BENCH_FULL.json"
    )


def _comparable_round_close(
    cold: bool, sf: float, cpus: int
) -> tuple[dict | None, str | None]:
    """The committed round-close artifact of this regime, read once:
    ``(artifact, None)`` when its ``sf``, ``cold_cache`` and ``cpus``
    all match this run, else ``(None, reason)``. An artifact without a
    ``cpus`` field is never comparable."""
    path = _round_close_artifact(cold)
    name = os.path.basename(path)
    try:
        with open(path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError) as exc:
        return None, f"{name} unreadable ({type(exc).__name__})"
    for field, want in (("sf", sf), ("cold_cache", cold), ("cpus", cpus)):
        if prev.get(field) != want:
            return None, f"{name} has {field}={prev.get(field)!r}, run has {want!r}"
    return prev, None


def _canary_ref(prev: dict) -> float | None:
    """Sum of the canary keys' timings in a comparable artifact, or
    None when it lacks one of them."""
    vals = [prev.get("canary", {}).get(k) for k in _CANARY_KEYS]
    if all(isinstance(v, (int, float)) and v > 0 for v in vals):
        return float(sum(vals))
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1"))
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD", "") == "1"
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = collect()

    def _timed_once(fn) -> float:
        if not cold:
            return _run_once(fn(spark, sf_dir))
        # cold mode must time the CONSTRUCTION too: memoized kernels
        # materialize eagerly inside fn() (during plan construction),
        # so timing only the write — the warm-mode protocol — would
        # record a memo-miss rebuild as a ~10 ms fetch
        from graph_database_akkatyped_spark.caching import (
            clear_frame_cache,
        )

        clear_frame_cache(sf_dir)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    cpus = spark.sparkContext.defaultParallelism

    slow_cutoff = float(os.environ.get("SPARK_GRAFT_BENCH_SLOW_SEC", "1.0"))
    timings: dict[str, float] = {}
    for key in sorted(queries):
        fn = queries[key]
        try:
            _run_once(fn(spark, sf_dir))  # warm-up (JIT, broadcast, FS cache)
            samples = [_timed_once(fn) for _ in range(runs)]
            # noise discipline (BASELINE.md protocol): a key whose first
            # timed run exceeds the cutoff gets median-of-3 — slow keys
            # dominate the total and cross-round comparisons, so they
            # get the extra samples; sub-second keys keep the cheap
            # single run (their jitter nets out across 200+ keys).
            # Gate on the FIRST sample only and always top up to 3:
            # gating on min(samples) could stop at 2 samples, and a
            # 2-element median is a mean of the two — a timing that was
            # never measured. Canary keys ALWAYS get median-of-3
            # (round-11 ADVICE): the drift discriminator divides their
            # sum by a fixed reference, so single-sample jitter on
            # three sub-second keys would masquerade as drift.
            if samples[0] > slow_cutoff or key in _CANARY_KEYS:
                while len(samples) < 3:
                    samples.append(_timed_once(fn))
            timings[key] = round(statistics.median(samples), 4)
        except Exception as exc:  # noqa: BLE001 - record, keep benching
            print(f"bench: {key} failed: {exc}", file=sys.stderr)
            timings[key] = -1.0

    total = round(sum(v for v in timings.values() if v >= 0), 4)
    # Canary drift discriminator (round-9 VERDICT #7): the sweep's own
    # timings of three cheap, plan-stable, memo-free keys vs their
    # recording in the comparable round-close artifact. A key that moved
    # 1.3x in a run whose canary_drift is 1.3 is environment noise;
    # the same move at drift ~1.0 is a plan change. Without a
    # comparable artifact the run records its raw canary times, drift
    # null, and says why in ``not_comparable``.
    canary = {
        k: timings[k]
        for k in _CANARY_KEYS
        if timings.get(k, -1.0) >= 0
    }
    prev, not_comparable = _comparable_round_close(cold, sf, cpus)
    ref = _canary_ref(prev) if prev else None
    canary_drift = (
        round(sum(canary.values()) / ref, 3)
        if ref and len(canary) == len(_CANARY_KEYS)
        else None
    )
    # Per-key regression gate (round-10 VERDICT #4): compare each
    # key's canary-NORMALIZED time against the committed round-close
    # artifact of the same regime. Per-total eyeballing cannot
    # localize a regression (the r10 driver-vs-builder 1.067-vs-0.909
    # split); this names the keys. Sub-second keys are exempt (their
    # jitter dwarfs any plan signal) and so are keys absent from the
    # previous artifact (new this round). No comparable artifact -> null.
    regressions = None
    if prev:
        regressions = []
        # canary_drift is measured against THIS artifact's canaries
        # (see _canary_ref), so cur/cur_drift is already expressed in
        # the previous round-close's environment units — compare to
        # `was` directly (no second normalization; prev's own drift
        # field is relative to an older anchor and must not mix in).
        cur_drift = canary_drift or 1.0
        for key, cur in timings.items():
            was = prev.get("queries", {}).get(key, -1.0)
            if cur < 1.0 or was < 1.0:
                continue  # sub-second / failed / new key
            ratio = (cur / cur_drift) / was
            if ratio > 1.5:
                regressions.append(
                    {
                        "key": key,
                        "prev_sec": was,
                        "cur_sec": cur,
                        "ratio_normalized": round(ratio, 2),
                    }
                )
        regressions.sort(key=lambda r: -r["ratio_normalized"])
    # Full per-key detail goes to a FILE; stdout gets ONE compact JSON
    # line. The driver keeps only the last ~2000 chars of stdout and
    # json-parses that, so the complete 116-key dict (>3 KB) made round
    # 1's BENCH record unparseable ("parsed": null). The compact line
    # carries the totals plus as many of the slowest per-query timings
    # as fit the capture window; BENCH_FULL.json has them all.
    # Default to a `.latest` sidecar so driver/ad-hoc runs never
    # clobber the committed round-close artifacts (round-8 VERDICT #3);
    # the deliberate round-close sweep sets SPARK_GRAFT_BENCH_OUT to
    # the canonical BENCH_FULL(.COLD).json names before committing.
    out_name = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        "BENCH_FULL_COLD.latest.json" if cold else "BENCH_FULL.latest.json",
    )
    with open(os.path.join(_REPO, out_name), "w") as fh:
        json.dump(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cold_cache": cold,
                "cpus": cpus,
                "canary": canary,
                "canary_drift": canary_drift,
                "regressions": regressions,
                "not_comparable": not_comparable,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    compact = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "n_failed": sum(1 for v in timings.values() if v < 0),
        "detail": out_name,
        "canary_drift": canary_drift,
        "n_regressions": None if regressions is None else len(regressions),
        "not_comparable": not_comparable,
        "queries": {},
    }
    budget = 1800
    for key in sorted(timings, key=lambda k: -timings[k]):
        compact["queries"][key] = timings[key]
        if len(json.dumps(compact)) > budget:
            del compact["queries"][key]
            break
    # ORDERING CONTRACT: the compact metric line must be the LAST thing
    # on stdout (nothing may print after it). The driver json-parses
    # only the final ~2000-char tail of stdout; r01's record came back
    # "parsed": null because output after the metric line pushed it out
    # of that window. Keep this print as the final statement of main().
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
