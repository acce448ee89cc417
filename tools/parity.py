"""Oracle parity of registered keys at any scale factor.

Usage: python tools/parity.py [--sf DIR] [KEY ...]

Runs each KEY (every registered key if none is given) against its
DuckDB oracle at ``--sf`` (default: the sf0.01 fixture of the tests)
with the exact compare of ``tests/test_oracle_parity.py``. Keys
without an oracle get the weaker rows-only check (runs clean, >= 1
column). The frame cache is cleared before each key, so memoized keys
are checked on a real build.
Prints one line per key and a final tally; exits 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from graph_database_akkatyped_spark.caching import clear_frame_cache
from graph_database_akkatyped_spark.registry import collect
from graph_database_akkatyped_spark.session import get_spark
from tests.conftest import SF_ORACLE, make_duck
from tests.oracle_utils import compare


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default=SF_ORACLE)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    spark = get_spark(app_name="parity")
    spark.sparkContext.setLogLevel("ERROR")
    duck = make_duck(args.sf)
    queries, oracles = collect()
    t_all = time.perf_counter()
    n_hash = n_rows_only = n_bad = 0
    for key in args.keys or sorted(queries):
        t0 = time.perf_counter()
        clear_frame_cache(args.sf)
        try:
            got = queries[key](spark, args.sf).toPandas()
            if key in oracles:
                problems = compare(got, duck.execute(oracles[key]).fetchdf())
            else:
                problems = [] if len(got.columns) > 0 else ["no columns"]
        except Exception as exc:  # noqa: BLE001 - tally and continue
            problems = [f"EXCEPTION: {exc}"]
        if problems:
            n_bad += 1
            print(f"{key}: MISMATCH {problems[0][:500]}", flush=True)
            continue
        kind = "hash" if key in oracles else "rows-only"
        n_hash += key in oracles
        n_rows_only += key not in oracles
        print(f"{key}: {kind} ok ({len(got)} rows, {time.perf_counter() - t0:.2f}s)", flush=True)
    print(
        f"parity@{args.sf}: {n_hash} SQL-hash ok, {n_rows_only} rows-only ok, "
        f"{n_bad} mismatched, {time.perf_counter() - t_all:.0f}s"
    )
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
