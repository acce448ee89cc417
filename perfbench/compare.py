"""Compare two sets of benchmark results, seed by seed.

    python3 perfbench/compare.py BASE_DIR HEAD_DIR

Each directory holds result files as ``perfbench/run.py`` writes them
(``.perfbench_work/results/*.json``). Runs are paired by workload and
seed. A pair whose cpus, driver heap, Spark version or inputs differ
is refused, not compared: a 4-core run against a 32-core anchor, or
two different inputs, tell nothing about the code. For every
end-to-end metric the table shows both medians, their ratio, the base
side's quartile spread and how many pairs the head side won. Pointing
BASE_DIR at untraced runs and HEAD_DIR at traced runs of the same
seeds gives the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

MUST_MATCH = ("cpus", "driver_mem", "spark_version", "inputs")


def load(directory: str) -> dict[tuple[str, int], dict]:
    """(workload, seed) -> the newest result for it."""
    out: dict[tuple[str, int], dict] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json")), key=os.path.getmtime):
        with open(path) as f:
            res = json.load(f)
        out[(res["meta"]["workload"], res["meta"]["seed"])] = res
    return out


def spread(xs: list[float]) -> float:
    if len(xs) < 4:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, head = load(argv[0]), load(argv[1])
    pairs = sorted(set(base) & set(head))
    if not pairs:
        print("no (workload, seed) pair is present on both sides", file=sys.stderr)
        return 2
    for key in pairs:
        for field in MUST_MATCH:
            if base[key]["meta"].get(field) != head[key]["meta"].get(field):
                print(f"refused: {key} differs in {field}: "
                      f"{base[key]['meta'].get(field)!r} vs {head[key]['meta'].get(field)!r}",
                      file=sys.stderr)
                return 2
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    print(f"{'workload':<16} {'metric':<11} {'pairs':>5} {'base':>10} {'head':>10} "
          f"{'head/base':>9} {'spread':>7} {'wins':>5}")
    for wl in sorted({w for w, _ in pairs}):
        keys = [k for k in pairs if k[0] == wl]
        for metric, how in better.items():
            b = [base[k]["e2e"][metric] for k in keys]
            h = [head[k]["e2e"][metric] for k in keys]
            wins = sum((y < x) if how == "lower" else (y > x) for x, y in zip(b, h))
            mb, mh = statistics.median(b), statistics.median(h)
            print(f"{wl:<16} {metric:<11} {len(keys):>5} {mb:>10.4g} {mh:>10.4g} "
                  f"{mh / mb:>9.3f} {spread(b):>7.3f} {wins:>5}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
