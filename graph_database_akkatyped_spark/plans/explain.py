"""Physical-plan inspection helpers (SURVEY.md §4).

The optimizer work in this engine is mostly "let Catalyst do it, then
PROVE it did": these helpers extract the formatted physical plan so
tests (tests/test_plans.py) can assert the properties that matter at
100 TB — filter/projection pushdown into parquet, broadcast joins for
small dims, TakeOrderedAndProject for top-k, partial+final aggregation,
and whole-stage codegen coverage.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections import Counter

from pyspark.sql import DataFrame

_STAGE_ID = re.compile(r"\s*\(\d+\)$")


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    plan = formatted_plan(df)
    return any(
        fragment in line
        for line in plan.splitlines()
        if "PushedFilters" in line
    )


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (first scan node)."""
    for line in formatted_plan(df).splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            return [f.split(":")[0] for f in inner.split(",") if f]
    return []


def uses(df: DataFrame, operator: str) -> bool:
    return operator in formatted_plan(df)


def node_counts(df: DataFrame, logical: bool = False) -> Counter:
    """Operator nodes in ``df``'s plan, counted node by node.

    The physical form walks the executed plan and, under AQE, the
    ``AdaptiveSparkPlan``'s ``initialPlan()`` (the plan before any
    stage has run); names are Spark's node names without the codegen
    stage id, e.g. ``Exchange`` (a shuffle), ``BroadcastExchange``,
    ``BroadcastHashJoin``, ``Window``, ``Scan parquet``. With
    ``logical=True`` it walks the optimized logical plan (``Join``,
    ``Aggregate``, ...). A substring count over ``explain()`` text
    cannot stand in for this: the formatted mode prints every operator
    twice, and ``Exchange`` is also a substring of ``BroadcastExchange``
    and ``ReusedExchange``."""
    qe = df._jdf.queryExecution()
    root = qe.optimizedPlan() if logical else qe.executedPlan()
    counts: Counter = Counter()
    stack = [root]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        counts[_STAGE_ID.sub("", node.nodeName()).strip()] += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return counts
