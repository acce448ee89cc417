"""Every registered query vs its DuckDB oracle at sf0.01 — the local
mirror of the driver's t2 correctness gate.

Each query's physical plan is also checked against its ``PLANS.json``
ledger entry."""

from __future__ import annotations

import pytest

from graph_database_akkatyped_spark.plans.explain import node_counts
from graph_database_akkatyped_spark.registry import collect
from tests.conftest import SF_ORACLE, plan_moves
from tests.oracle_utils import compare

QUERIES, ORACLES = collect()


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_vs_oracle(key, spark, duck):
    df = QUERIES[key](spark, SF_ORACLE)
    moved = plan_moves(key, node_counts(df))
    assert not moved, f"{key}: plan moved from PLANS.json (ledger, now): {moved}"
    spark_pd = df.toPandas()
    if key not in ORACLES:
        # rows-only check (driver's weaker path)
        assert len(spark_pd) >= 0
        assert len(df.columns) > 0
        return
    oracle_pd = duck.execute(ORACLES[key]).fetchdf()
    problems = compare(spark_pd, oracle_pd)
    assert not problems, f"{key}: " + "; ".join(problems)
