"""Production code checks with exceptions, never ``assert``:
``python -O`` strips every assert statement, so a run-shape check or a
check on bytes read from outside the program written as one vanishes
in an optimized run."""

from __future__ import annotations

import ast
import pathlib

import graph_database_akkatyped_spark

_PKG = pathlib.Path(graph_database_akkatyped_spark.__file__).parent


def test_package_has_no_assert_statement():
    found = [
        f"{path.relative_to(_PKG.parent)}:{node.lineno}"
        for path in sorted(_PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert found == []
