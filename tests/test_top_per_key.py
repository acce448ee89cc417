"""The per-key pick stage ``graph_build._top_per_key`` and the lock that
keeps every per-key row_number rank filter on it."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

import graph_database_akkatyped_spark
from graph_database_akkatyped_spark.operators.graph_build import _top_per_key
from graph_database_akkatyped_spark.plans.explain import node_counts

_PKG = pathlib.Path(graph_database_akkatyped_spark.__file__).parent

# (key, score, id): key "a" ties on score 5 between ids 2 and 3
_ROWS = [
    ("a", 5, 3), ("a", 5, 2), ("a", 9, 7), ("a", 1, 1),
    ("b", 4, 4), ("b", 6, 5),
    ("c", 2, 6),
]


def _picks(df):
    return sorted(tuple(r) for r in df.collect())


def test_top_one_and_top_k_with_ties_broken_by_order(spark):
    df = spark.createDataFrame(_ROWS, "key string, score int, id int")
    order = [F.col("score").desc(), "id"]
    assert _picks(_top_per_key(df, "key", order)) == [
        ("a", 9, 7), ("b", 6, 5), ("c", 2, 6),
    ]
    assert _picks(_top_per_key(df, ["key"], order, k=3)) == [
        ("a", 5, 2), ("a", 5, 3), ("a", 9, 7),
        ("b", 4, 4), ("b", 6, 5),
        ("c", 2, 6),
    ]
    # the tie on score 5 goes to the smaller id, then to the larger
    assert _picks(_top_per_key(df, "key", [F.col("score").desc(), "id"], k=2)) == [
        ("a", 5, 2), ("a", 9, 7), ("b", 4, 4), ("b", 6, 5), ("c", 2, 6),
    ]
    assert _picks(
        _top_per_key(df, "key", [F.col("score").desc(), F.col("id").desc()], k=2)
    ) == [("a", 5, 3), ("a", 9, 7), ("b", 4, 4), ("b", 6, 5), ("c", 2, 6)]


def test_rank_column_kept_only_when_named(spark):
    df = spark.createDataFrame(_ROWS, "key string, score int, id int")
    order = [F.col("score").desc(), "id"]
    dropped = _top_per_key(df, "key", order, k=2)
    assert dropped.columns == ["key", "score", "id"]
    kept = _top_per_key(df, "key", order, k=2, rank="rnk")
    assert kept.columns == ["key", "score", "id", "rnk"]
    assert sorted((r["key"], r["id"], r["rnk"]) for r in kept.collect()) == [
        ("a", 2, 2), ("a", 7, 1), ("b", 4, 2), ("b", 5, 1), ("c", 6, 1),
    ]


def test_pick_infers_window_group_limit(spark):
    df = spark.createDataFrame(_ROWS, "key string, score int, id int")
    for k, rank in ((1, None), (3, "rnk")):
        top = _top_per_key(df, "key", [F.col("score").desc(), "id"], k, rank)
        assert node_counts(top)["WindowGroupLimit"] >= 1


# ------------------------------------------------------------------ lock

# window_rank's filter reads its row_number through a rank/dense_rank
# window over the same rows; on the stage the filter would sit on the
# row_number window and add a WindowGroupLimit and a sort to its plan
_KEPT = ["operators/relational.py::window_rank"]


def _is_row_number_over(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "over"
        and isinstance(node.func.value, ast.Call)
        and getattr(node.func.value.func, "attr", None) == "row_number"
    )


def _own_nodes(fn):
    """The nodes of ``fn``'s body, not descending into nested defs."""
    stack = [fn]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(
            c for c in ast.iter_child_nodes(node) if not isinstance(c, ast.FunctionDef)
        )


def _rank_filters(fn) -> int:
    """Rank filters in ``fn``: a ``.where``/``.filter`` comparing, with
    ``==``, ``<=`` or ``<`` against a constant or a name, a column
    bound to ``row_number().over(...)`` by ``withColumn`` or ``alias``."""
    ranks = set()
    for n in _own_nodes(fn):
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
            if n.func.attr == "withColumn" and len(n.args) == 2 and _is_row_number_over(n.args[1]):
                ranks.add(ast.dump(n.args[0]))
            if n.func.attr == "alias" and _is_row_number_over(n.func.value) and n.args:
                ranks.add(ast.dump(n.args[0]))
    found = 0
    for n in _own_nodes(fn):
        if not (isinstance(n, ast.Call) and getattr(n.func, "attr", None) in ("where", "filter")):
            continue
        for c in ast.walk(n):
            if (
                isinstance(c, ast.Compare)
                and isinstance(c.ops[0], (ast.Eq, ast.LtE, ast.Lt))
                and isinstance(c.comparators[0], (ast.Constant, ast.Name))
                and isinstance(c.left, ast.Call)
                and getattr(c.left.func, "attr", None) == "col"
                and c.left.args
                and ast.dump(c.left.args[0]) in ranks
            ):
                found += 1
    return found


def test_per_key_rank_filters_go_through_the_stage():
    found = [
        f"{path.relative_to(_PKG)}::{fn.name}"
        for path in sorted(_PKG.rglob("*.py"))
        for fn in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(fn, ast.FunctionDef) and fn.name != "_top_per_key"
        for _ in range(_rank_filters(fn))
    ]
    assert found == _KEPT, f"{len(found)} hand-written rank filters: {found}"
