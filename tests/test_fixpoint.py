"""The fixpoint driver (operators.pregel.fixpoint) on a trivial step:
both cut modes give the same answer, local mode holds one generation,
the to-fixpoint cap raises naming the kernel, and fixed-round mode
returns at max_iter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_akkatyped_spark.caching import (
    persistent_rdd_ids,
    set_reliable_checkpointing,
)
from graph_database_akkatyped_spark.operators.pregel import fixpoint

ROUNDS = 50


def _count_up(spark, *, cap, delta=None, max_iter=ROUNDS, horizon=False):
    """x <- min(x + 1, cap) on 10 rows: reaches its fixpoint in round
    ``cap``."""

    def step(g, rnd):
        nxt = F.least(F.col("x") + 1, F.lit(cap))
        return g.select(
            "id", nxt.alias("x"), (nxt != F.col("x")).cast("long").alias("changed")
        )

    init = spark.range(10).select(
        "id",
        F.lit(0).cast("long").alias("x"),
        F.lit(1).cast("long").alias("changed"),
    )
    return fixpoint(
        step, init, max_iter=max_iter, name="count_up", delta=delta, horizon=horizon
    )


def _rows(df):
    return sorted((r.id, r.x) for r in df.collect())


def test_fixpoint_driver_modes(spark):
    before = persistent_rdd_ids(spark)
    local = _rows(_count_up(spark, cap=1000))
    # fixed-round mode returns at max_iter, holding one generation
    assert local == [(i, ROUNDS) for i in range(10)]
    assert len(persistent_rdd_ids(spark) - before) <= 1
    set_reliable_checkpointing(True, spark)
    try:
        reliable = _rows(_count_up(spark, cap=1000))
    finally:
        set_reliable_checkpointing(False)
    assert reliable == local

    # to-fixpoint mode stops at round 5; a cap below it raises
    converged = _count_up(spark, cap=5, delta=F.sum("changed"))
    assert _rows(converged) == [(i, 5) for i in range(10)]
    with pytest.raises(RuntimeError, match="count_up: no fixpoint within 3 rounds"):
        _count_up(spark, cap=5, delta=F.sum("changed"), max_iter=3)
    # a horizon stops there without raising
    capped = _count_up(spark, cap=5, delta=F.sum("changed"), max_iter=3, horizon=True)
    assert _rows(capped) == [(i, 3) for i in range(10)]


def test_fixpoint_frees_scratch_and_nested_results(spark):
    """Scratch cuts die with their round; a driver run inside a step is
    freed with that round once the outer generation consumed it."""

    def inner(g, rnd):
        return g.select("id", (F.col("x") + 1).alias("x"))

    def outer(g, rnd):
        doubled = rnd.cut(g.select("id", (F.col("x") * 2).alias("x")))
        bumped = fixpoint(inner, doubled, max_iter=3, name="inner")
        return bumped.select("id", (F.col("x") - 3).alias("x"))

    before = persistent_rdd_ids(spark)
    init = spark.range(5).select("id", F.lit(1).cast("long").alias("x"))
    out = fixpoint(outer, init, max_iter=4, name="outer")
    assert _rows(out) == [(i, 16) for i in range(5)]
    assert len(persistent_rdd_ids(spark) - before) == 1
