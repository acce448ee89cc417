"""Shared fixtures: one SparkSession per test session + DuckDB oracle."""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_database_akkatyped_spark.catalog import TABLES
from graph_database_akkatyped_spark.session import get_spark
from tools.explain import LEDGER, moves

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
SF_BENCH = "/root/testdata/sf0.1"

# The plan ledger: per-key physical-plan node counts at sf0.01, written
# by ``python tools/explain.py`` (no key).
with open(LEDGER) as _fh:
    PLANS = json.load(_fh)


def plan_moves(key: str, counts) -> dict[str, tuple[int, int]]:
    """Nodes whose count in ``counts`` (``plans.explain.node_counts``)
    differs from ``key``'s ledger entry, as ``{node: (ledger, now)}``."""
    return moves(PLANS[key], counts)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    con = make_duck(SF_ORACLE)
    yield con
    con.close()
