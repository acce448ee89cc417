"""Per-key physical-plan node counts, as JSON; with no key, the plan
ledger ``PLANS.json``.

Usage: python tools/explain.py [--plan-out PATH] [key ...]

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

With no key it counts every registered key plus the ``UNREGISTERED``
frames below (chiefly the pre-cut frames of keys whose result is a cut)
the same way and writes them to ``PLANS.json`` at the repo root, one
entry per key.
``tests/test_oracle_parity.py`` and ``tests/test_plans.py`` check every
frame they build against it, so a plan change is a diff of that file:
re-run this writer and commit the diff with the change that caused it.
Entries whose plan is one cut scan also carry ``spark.jobs``,
``spark.stages``, ``cpus`` and ``spark.sql.shuffle.partitions``, kept
only while successive writes at the same cores and partitions agree: a
count that moved between two writes is stored as ``null`` from then on
(build job counts of a few fixpoint keys vary with AQE stage
submission). These counts are for review diffs only; no test asserts
them, since they need cold builds, and a test session builds warm.
Every node-count change against the previous ledger is listed on
stderr.

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

LEDGER = os.path.join(_REPO, "PLANS.json")
_OPS = "graph_database_akkatyped_spark.operators."
# Unregistered frames the ledger also pins: the pre-cut frames of keys
# whose registered result is a cut of them, and one unregistered twin.
UNREGISTERED = (
    _OPS + "llm:_mmr_pool",  # simsearch_mmr
    _OPS + "llm:_knn_graph_build",  # knn_graph_build
    _OPS + "llm:_ngram_pairs",  # dedup_ngram_jaccard
    _OPS + "graph_extras:_link_predict_jaccard_build",
    _OPS + "graph_extras:_link_predict_ra_build",
    _OPS + "llm:dedup_embedding_cosine_salted",  # unregistered salted twin
)
_WORK = ("spark.jobs", "spark.stages")
_SESSION = ("cpus", "spark.sql.shuffle.partitions")
_CUT_SCAN = {"Scan ExistingRDD", "WholeStageCodegen", "Project"}


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


def nodes(entry: dict) -> dict[str, int]:
    """The node counts of a ledger or per-key entry."""
    return {k: v for k, v in entry.items() if k not in _WORK + _SESSION}


def moves(before: dict, after: dict) -> dict[str, tuple[int, int]]:
    """Nodes whose count differs between two entries, as
    ``{node: (before, after)}``."""
    b, a = nodes(before), nodes(after)
    return {
        n: (b.get(n, 0), a.get(n, 0))
        for n in sorted(set(b) | set(a))
        if b.get(n, 0) != a.get(n, 0)
    }


def _ledger_entry(new: dict, old: dict | None) -> dict:
    """``new`` as the ledger keeps it: node counts, plus the build work
    of a one-cut-scan plan while it repeats across writes."""
    entry = nodes(new)
    if entry.get("Scan ExistingRDD") != 1 or not set(entry) <= _CUT_SCAN:
        return entry  # not one (projected) cut scan
    same_session = old is not None and all(
        old.get(k) == new[k] for k in _SESSION
    )
    for k in _WORK:
        if same_session and k in old and old[k] != new[k]:
            entry[k] = None  # moved between writes: no longer a figure
        else:
            entry[k] = new[k]
    entry.update((k, new[k]) for k in _SESSION)
    return entry


def _write_ledger(counts: dict) -> None:
    old = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            old = json.load(fh)
    ledger = {key: _ledger_entry(c, old.get(key)) for key, c in counts.items()}
    for key in sorted(set(ledger) & set(old)):
        moved = moves(old[key], ledger[key])
        if moved:
            print(f"plan moved: {key} {moved}", file=sys.stderr)
    with open(LEDGER, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--plan-out", default=None)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    spark = get_spark(app_name="explain")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = collect()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    keys = args.keys or [*sorted(queries), *UNREGISTERED]
    counts, plans = {}, []
    sc = spark.sparkContext
    session = {
        "cpus": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    for i, key in enumerate(keys):
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
    if args.keys:
        print(json.dumps(counts, indent=1, sort_keys=True))
    else:
        _write_ledger(counts)


if __name__ == "__main__":
    main()
