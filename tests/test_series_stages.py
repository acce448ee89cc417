"""The event-series stages at the head of ``operators.behavior`` (and the
activity slot in ``operators.graph_build``), and the locks that keep
every time-bucket of ``ts`` and every Holt step on them."""

from __future__ import annotations

import ast
import io
import pathlib
import tokenize

import duckdb
import pandas as pd

import graph_database_akkatyped_spark
from graph_database_akkatyped_spark.operators.behavior import (
    _HOLT_SQL,
    _holt_fit,
    _holt_step,
)

_PKG = pathlib.Path(graph_database_akkatyped_spark.__file__).parent

# daily counts of a falling series (trend terms go negative, so a
# truncating division would drift from the floored one) and of a
# one-day series (init trend 0)
_DAILY = {"fall": [50, 41, 33, 20, 21, 9, 5, 3, 1, 1], "once": [7]}


def test_holt_step_matches_the_recursive_cte_on_a_falling_series():
    rows = [
        (et, pd.Timestamp("2024-01-01") + pd.Timedelta(days=d, minutes=j))
        for et, counts in _DAILY.items()
        for d, n in enumerate(counts)
        for j in range(n)
    ]
    events = pd.DataFrame(rows, columns=["event_type", "ts"])
    con = duckdb.connect()
    con.register("events", events)
    got = sorted(
        (et, n, lq, tq) for et, _day, n, lq, tq in con.execute(_HOLT_SQL).fetchall()
    )
    want = sorted(
        (et, n, l, b)
        for et, counts in _DAILY.items()
        for n, (l, b) in zip(counts, _holt_fit([n * 1000 for n in counts]))
    )
    assert got == want
    assert min(b for *_, b in want) < 0
    # one step by hand: (x + 3(l + b)) // 4 floors a negative numerator
    assert _holt_step(0, -3, 0) == (-3, 0)
    assert _holt_step(1000, 2000, -1500) == (625, -1438)


# ------------------------------------------------------------------ locks

_STAGES = {"_slots", "_type_counts", "_hour_grid"}

# time buckets of ts that are not one of the stages' frames: each names
# its function once per date_trunc call
_KEPT = sorted([
    # the day column keys two row_number windows (open/close), not a count
    "operators/behavior.py::timeseries_ohlc",
    # one all-type hourly series with a distinct-user count
    "operators/graph_extras.py::graph_activity_timeline",
    # dropDuplicates twin: its slot column is named hour_slot
    "streaming/windows.py::stream_dedup",
    # three resolutions side by side for one grouping-sets pass
    "streaming/windows.py::timeseries_multires_rollup",
    "streaming/windows.py::timeseries_multires_rollup",
    "streaming/windows.py::timeseries_multires_rollup",
    # a mean, not a count, keyed (hr, event_type) for the grid join
    "streaming/windows.py::timeseries_interpolate",
])


def _functions(tree):
    return [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def _own_nodes(fn):
    """The nodes of ``fn``'s body, not descending into nested defs."""
    stack = [fn]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(
            c for c in ast.iter_child_nodes(node) if not isinstance(c, ast.FunctionDef)
        )


def _is_ts(arg) -> bool:
    if isinstance(arg, ast.Constant):
        return arg.value == "ts"
    return (
        isinstance(arg, ast.Call)
        and getattr(arg.func, "attr", getattr(arg.func, "id", None)) == "col"
        and len(arg.args) == 1
        and _is_ts(arg.args[0])
    )


def _ts_buckets(fn) -> int:
    """Spark ``date_trunc(<unit>, ts)`` calls in ``fn``'s own body."""
    return sum(
        1
        for n in _own_nodes(fn)
        if isinstance(n, ast.Call)
        and getattr(n.func, "attr", getattr(n.func, "id", None)) == "date_trunc"
        and len(n.args) == 2
        and _is_ts(n.args[1])
    )


def test_ts_buckets_go_through_the_series_stages():
    found = sorted(
        f"{path.relative_to(_PKG)}::{fn.name}"
        for path in sorted(_PKG.rglob("*.py"))
        for fn in _functions(ast.parse(path.read_text(), str(path)))
        if fn.name not in _STAGES
        for _ in range(_ts_buckets(fn))
    )
    assert found == _KEPT, f"{len(found)} hand-written ts buckets: {found}"


def _holt_floor_steps(src: str) -> list[int]:
    """Lines of Python code (not string text) that read ``// 4 -``."""
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT)
    ]
    return [
        a.start[0]
        for a, b, c in zip(toks, toks[1:], toks[2:])
        if (a.string, b.string, c.string) == ("//", "4", "-")
        and b.type == tokenize.NUMBER
    ]


def test_holt_floor_step_is_written_once():
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        src = path.read_text()
        fns = _functions(ast.parse(src, str(path)))
        for line in _holt_floor_steps(src):
            owner = min(
                (f for f in fns if f.lineno <= line <= f.end_lineno),
                key=lambda f: f.end_lineno - f.lineno,
                default=None,
            )
            name = owner.name if owner else "<module>"
            if name != "_holt_step":
                found.append(f"{path.relative_to(_PKG)}::{name}:{line}")
    assert found == [], f"{len(found)} hand-written Holt steps: {found}"
