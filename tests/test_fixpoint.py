"""The fixpoint driver (operators.pregel.fixpoint) on a trivial step:
both cut modes give the same answer, local mode holds one generation,
the to-fixpoint cap raises naming the kernel, fixed-round mode returns
at max_iter, and a convergence check costs no extra action. The graph
kernels on it (pregel, bfs_frame) read their edge frame once per run
and free what they cut."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_akkatyped_spark.caching import (
    cut,
    cut_block_ids,
    cut_once,
    persistent_rdd_ids,
    release_cut,
    set_reliable_checkpointing,
)
from graph_database_akkatyped_spark.operators.algos import (
    bfs_frame,
    cc_frame,
    pagerank_frame,
)
from graph_database_akkatyped_spark.operators.graph_extras import ppr_frame
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


def _jobs(spark, run, group):
    """``run()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("reliable", [False, True])
def test_to_fixpoint_round_runs_one_action(spark, reliable):
    """The convergence delta rides the generation's own cut: a round
    that checks it starts no more jobs than a fixed round, and the stop
    round and the result do not change under either cut mode."""
    rounds: list[int] = []

    def step(g, rnd):
        rounds.append(rnd.i)
        nxt = F.least(F.col("x") + 1, F.lit(5))
        return g.select(
            "id", nxt.alias("x"), (nxt != F.col("x")).cast("long").alias("changed")
        )

    init = spark.range(10).select(
        "id",
        F.lit(0).cast("long").alias("x"),
        F.lit(1).cast("long").alias("changed"),
    )

    def run(**mode):
        return _rows(fixpoint(step, init, name="count_up", **mode))

    set_reliable_checkpointing(reliable, spark)
    try:
        conv, n_conv = _jobs(
            spark, lambda: run(max_iter=10, delta=F.sum("changed")), f"conv-{reliable}"
        )
        # round 6 is the first that changes nothing
        assert rounds == [1, 2, 3, 4, 5, 6]
        fixed, n_fixed = _jobs(spark, lambda: run(max_iter=6), f"fixed-{reliable}")
    finally:
        set_reliable_checkpointing(False)
    assert conv == fixed == [(i, 5) for i in range(10)]
    assert n_conv == n_fixed


# a 12-vertex path: CC and BFS need 11+ rounds, so a per-round replay
# of the edge frame shows up as a multiple of E
_PATH = [(i, i + 1) for i in range(11)]
_PATH_SYM = _PATH + [(b, a) for a, b in _PATH]


def _counted_edges(spark):
    """The symmetric path as a lazy (a, b) frame, and an accumulator
    counting the rows its plan evaluates. Like ``GraphDB._sym_edges``
    the frame ends in a ``distinct``, so one plan that reads it twice
    (PageRank's degree join) shares that exchange."""
    seen = spark.sparkContext.accumulator(0)

    def tick(a):
        seen.add(1)
        return a

    count = F.udf(tick, "long").asNondeterministic()
    df = spark.createDataFrame(_PATH_SYM, "a long, b long")
    return df.select(count("a").alias("a"), "b").distinct(), seen


def _kernels(spark):
    verts = spark.range(12).select("id")
    seed = spark.createDataFrame([(0,)], "id long")
    return {
        "cc_frame": lambda e: cc_frame(verts, e),
        "pagerank_frame": lambda e: pagerank_frame(verts, e, 5),
        "ppr_frame": lambda e: ppr_frame(verts, e, seed_id=0, iters=5),
        "bfs_frame": lambda e: bfs_frame(e, seed, 20),
    }


@pytest.mark.parametrize("kernel", ["cc_frame", "pagerank_frame", "bfs_frame"])
def test_kernel_reads_lazy_edge_frame_once_per_run(spark, kernel):
    edges, seen = _counted_edges(spark)
    out = _kernels(spark)[kernel](edges).collect()
    assert len(out) == 12
    assert seen.value == len(_PATH_SYM)


@pytest.mark.parametrize(
    "kernel", ["pagerank_frame", "ppr_frame", "cc_frame", "bfs_frame"]
)
def test_kernel_leaves_only_its_result_block(spark, kernel):
    """Once the result is consumed, the run's one persisted block is the
    result's final generation: the edge cut was freed."""
    edges = spark.createDataFrame(_PATH_SYM, "a long, b long")
    before = persistent_rdd_ids(spark)
    res = _kernels(spark)[kernel](edges)
    assert len(res.collect()) == 12
    assert len(persistent_rdd_ids(spark) - before) == 1


def test_cc_cap_raise_leaves_no_block(spark):
    verts = spark.range(12).select("id")
    edges = spark.createDataFrame(_PATH_SYM, "a long, b long")
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="cc_frame: no fixpoint within 1 rounds"):
        cc_frame(verts, edges, max_iter=1)
    assert persistent_rdd_ids(spark) - before == set()


def test_already_cut_edge_frame_is_neither_cut_nor_freed(spark):
    edges = cut(spark.createDataFrame(_PATH_SYM, "a long, b long"))
    ids = cut_block_ids(edges)
    with cut_once(edges) as held:
        assert held is edges
    assert ids <= persistent_rdd_ids(spark)
    before = persistent_rdd_ids(spark)
    res = bfs_frame(edges, spark.createDataFrame([(0,)], "id long"), 20)
    assert len(res.collect()) == 12
    # one new block, the result's generation; the edges stay live
    assert len(persistent_rdd_ids(spark) - before) == 1
    assert ids <= persistent_rdd_ids(spark)
    assert edges.count() == len(_PATH_SYM)
    release_cut(edges)
