"""Paired A/B timing of registered keys.

Usage: python tools/ab.py [--cold] [-n RUNS] key [key ...]

Times each key at sf0.1 with the bench's noop-sink action, in either
regime:

- warm (default): clear the frame cache once per key, one warm-up run
  (memoized frames materialize there), then ``-n`` timed runs, median —
  the bench.py warm protocol.
- ``--cold``: clear the frame cache before EVERY timed run and time
  plan construction + the noop write together — the bench.py cold
  protocol (memoized kernels pay their real build).

Check a changed key's results with ``tools/parity.py`` first.

Run it alternately from a checkout of the parent commit and from the
change (the package resolves relative to this file, so each tree times
its own code), and include the three canary keys (filter_project,
join_inner_hash, window_rank) in every pass so drift between the
paired runs shows in the output itself.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from graph_database_akkatyped_spark.caching import clear_frame_cache
from graph_database_akkatyped_spark.registry import collect
from graph_database_akkatyped_spark.session import get_spark

_TESTDATA = "/root/testdata"
_SF = os.path.join(_TESTDATA, "sf0.1")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _times(spark, fn, sf: str, runs: int, cold: bool) -> list[float]:
    samples = []
    if not cold:
        clear_frame_cache(sf)
        _noop(fn(spark, sf))
    for _ in range(runs):
        if cold:
            clear_frame_cache(sf)
        t0 = time.perf_counter()
        _noop(fn(spark, sf))
        samples.append(time.perf_counter() - t0)
    return samples


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("-n", dest="runs", type=int, default=3)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = collect()
    regime = "cold" if args.cold else "warm"
    print(f"# tree={_REPO} regime={regime} runs={args.runs}", flush=True)
    for key in args.keys:
        samples = _times(spark, queries[key], _SF, args.runs, args.cold)
        print(
            f"TIME {key}: median {statistics.median(samples):.3f}s "
            f"runs {[round(s, 3) for s in samples]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
