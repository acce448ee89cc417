"""Per-key physical-plan node counts, as JSON.

Usage: python tools/explain.py [--plan-out PATH] key [key ...]

Prints one JSON object ``{key: {node: count}}`` on stdout, counted by
``plans.explain.node_counts`` (the physical plan tree, AQE's initial
plan). Each key's object also holds ``spark.jobs`` and ``spark.stages``:
the Spark jobs its build ran and their stages that ran (skipped stages
excluded), read from ``statusTracker`` under one job group per key.
Keys whose plan is one cut scan (fixpoint and memoized kernels) run
their whole work at build time, so these two numbers are the ones that
show what such a build did. Each object also records the session's
``cpus`` (its default parallelism, the n of ``local[n]``) and
``spark.sql.shuffle.partitions``: job and stage counts taken at
different core or partition counts are not comparable.

A key is a registered query key, or ``module:function`` for an
unregistered builder with the ``(spark, sf_dir)`` signature (e.g.
``graph_database_akkatyped_spark.operators.llm:_knn_graph_build``, whose
registered key memoizes and would show only a checkpoint scan).
Memoized frames are cleared before each key so the counted plan is the
build plan. ``--plan-out`` also writes every key's formatted plan to
that one file; nothing is written otherwise. The sf dir is
``$SPARK_GRAFT_SF_DIR``, default /root/testdata/sf0.01.

The package resolves relative to this file, so a copy of the tool in
another checkout counts that checkout's plans: diff the two outputs to
check that a change kept its plans.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

from py4j.protocol import Py4JJavaError

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from graph_database_akkatyped_spark.caching import clear_frame_cache
from graph_database_akkatyped_spark.plans.explain import (
    formatted_plan,
    node_counts,
)
from graph_database_akkatyped_spark.registry import collect
from graph_database_akkatyped_spark.session import get_spark


def _builder(queries: dict, key: str):
    if ":" in key:
        module, name = key.split(":", 1)
        return getattr(importlib.import_module(module), name)
    return queries[key]


def _work(spark, group: str) -> dict[str, int]:
    """Jobs run under ``group`` and their stages that ran."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store caught up
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    ran = 0
    for sid in stage_ids:
        try:
            ran += store.lastStageAttempt(sid).status().toString() != "SKIPPED"
        except Py4JJavaError:  # never submitted
            continue
    return {"spark.jobs": len(jobs), "spark.stages": ran}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--plan-out", default=None)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()
    spark = get_spark(app_name="explain")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = collect()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    counts, plans = {}, []
    sc = spark.sparkContext
    session = {
        "cpus": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    for i, key in enumerate(args.keys):
        clear_frame_cache(sf_dir)
        group = f"explain-{i}"
        sc.setJobGroup(group, key)
        try:
            df = _builder(queries, key)(spark, sf_dir)
        finally:
            sc.setJobGroup("explain-idle", "")
        counts[key] = dict(sorted(node_counts(df).items()))
        counts[key].update(_work(spark, group), **session)
        if args.plan_out:
            plans.append(f"== {key} ==\n{formatted_plan(df)}")
    if args.plan_out:
        with open(args.plan_out, "w") as fh:
            fh.write("\n".join(plans))
    print(json.dumps(counts, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
