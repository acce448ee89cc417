"""Cut-policy (reliable vs local checkpoint) and cache-eviction tests.

Pins the two cluster-durability contracts added in round 5:
- reliable=True (filesystem checkpoint) produces bit-identical results
  to the default localCheckpoint — only failure semantics differ;
- clear_frame_cache() actually frees executor storage, so a long-lived
  session's memo cache is a bounded cache, not a slow leak.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_database_akkatyped_spark import caching
from graph_database_akkatyped_spark.caching import (
    clear_frame_cache,
    memoized_checkpoint,
    persistent_rdd_ids,
    set_reliable_checkpointing,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_reliable_checkpoint_same_result(spark):
    """CC + PageRank through filesystem checkpoints == through
    localCheckpoint: the cut changes where blocks live, never values."""
    from graph_database_akkatyped_spark.operators.algos import (
        connected_components,
        pagerank_fixed,
    )

    clear_frame_cache()
    cc_local = _rows(connected_components(spark, SF))
    pr_local = _rows(pagerank_fixed(spark, SF))

    clear_frame_cache()
    set_reliable_checkpointing(True, spark)
    try:
        assert caching._RELIABLE is True
        cc_rel = _rows(connected_components(spark, SF))
        pr_rel = _rows(pagerank_fixed(spark, SF))
    finally:
        set_reliable_checkpointing(False)
        clear_frame_cache()

    assert cc_rel == cc_local and len(cc_rel) > 0
    assert pr_rel == pr_local and len(pr_rel) > 0


def test_pregel_reliable_kwarg(spark):
    """The session-wide cut mode reaches the kernel itself: a Pregel
    run under reliable checkpoints == the same run under local ones."""
    from graph_database_akkatyped_spark.operators.pregel import pregel

    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (1, 0, 1), (2, 1, 1)],
        "src long, dst long, weight long",
    )
    verts = spark.createDataFrame([(i,) for i in range(3)], "id long").select(
        "id", F.when(F.col("id") == 0, F.lit(0).cast("long")).alias("state")
    )

    def run(reliable):
        set_reliable_checkpointing(reliable, spark)
        try:
            res = pregel(
                verts,
                edges,
                msg=F.col("src_state") + F.col("weight"),
                agg=F.min("msg"),
                vprog=F.least(F.col("state"), F.col("agg_msg")),
                max_iter=5,
            )
            assert res.converged
            return _rows(res.vertices)
        finally:
            set_reliable_checkpointing(False)

    assert run(True) == run(False) == [(0, 0), (1, 1), (2, 2)]


def test_clear_frame_cache_unpersists_blocks(spark):
    """Eviction frees the blocks, and a build/clear cycle does not grow
    persistent storage across generations (the round-3 'slow storage
    leak' closed with code)."""
    clear_frame_cache()
    baseline = persistent_rdd_ids(spark)

    def build():
        return spark.range(1000).select(
            "id", (F.col("id") % 7).alias("bucket")
        )

    counts = []
    for _ in range(3):
        df = memoized_checkpoint(spark, "evict_probe", SF, build)
        assert df.count() == 1000
        # memo hit: second call must not add blocks
        memoized_checkpoint(spark, "evict_probe", SF, build)
        grown = persistent_rdd_ids(spark) - baseline
        assert grown, "memoized frame should hold persisted blocks"
        counts.append(len(grown))
        clear_frame_cache(SF)
        assert persistent_rdd_ids(spark) - baseline == set()
    # every generation holds the same bounded number of blocks
    assert len(set(counts)) == 1


def test_nested_memoized_build_attribution(spark):
    """A key whose build() populates ANOTHER memoized key must not
    claim the nested key's blocks (the round-5 before/after-diff bug):
    evicting the outer key leaves the nested frame's storage intact
    and readable. Attribution now comes from each cut frame's own
    LogicalRDD id (caching.cut_block_ids)."""
    clear_frame_cache()
    baseline = persistent_rdd_ids(spark)

    def build_outer():
        inner = memoized_checkpoint(
            spark, "nested_inner", "/tmp/fake_nested",
            lambda: spark.range(50).select("id"),
        )
        return inner.select((F.col("id") * 2).alias("id2"))

    outer = memoized_checkpoint(
        spark, "nested_outer", "/tmp/fake_nested", build_outer
    )
    assert outer.count() == 50
    inner_ids = caching._CACHE[("nested_inner", "/tmp/fake_nested")][2]
    outer_ids = caching._CACHE[("nested_outer", "/tmp/fake_nested")][2]
    assert inner_ids and outer_ids and inner_ids.isdisjoint(outer_ids)
    # evict ONLY the outer entry; the inner frame must stay persisted
    spark_, _df, ids = caching._CACHE.pop(("nested_outer", "/tmp/fake_nested"))
    caching._unpersist_ids(spark_, ids)
    assert inner_ids <= persistent_rdd_ids(spark)
    inner = memoized_checkpoint(
        spark, "nested_inner", "/tmp/fake_nested", lambda: spark.range(0)
    )
    assert inner.count() == 50  # memo hit, blocks alive
    clear_frame_cache()
    assert persistent_rdd_ids(spark) - baseline == set()


def test_clear_frame_cache_is_scoped_by_sf_dir(spark):
    clear_frame_cache()
    baseline = persistent_rdd_ids(spark)
    a = memoized_checkpoint(
        spark, "scope_probe", "/tmp/fake_a", lambda: spark.range(10)
    )
    b = memoized_checkpoint(
        spark, "scope_probe", "/tmp/fake_b", lambda: spark.range(20)
    )
    clear_frame_cache("/tmp/fake_a")
    # b survives the scoped eviction and is still readable
    assert b.count() == 20
    assert ("scope_probe", "/tmp/fake_b") in caching._CACHE
    assert ("scope_probe", "/tmp/fake_a") not in caching._CACHE
    clear_frame_cache()
    assert persistent_rdd_ids(spark) - baseline == set()

def test_layout_dir_memoizes_and_evicts(spark):
    import os

    from graph_database_akkatyped_spark.caching import layout_dir

    calls = []

    def build(path):
        calls.append(path)
        with open(os.path.join(path, "marker"), "w") as fh:
            fh.write("x")

    d1 = layout_dir("probe_layout", "/tmp/fake_a", build)
    d2 = layout_dir("probe_layout", "/tmp/fake_a", build)
    assert d1 == d2 and len(calls) == 1  # memo hit, no rebuild
    other = layout_dir("probe_layout", "/tmp/fake_b", build)
    assert other != d1 and len(calls) == 2
    # scoped eviction removes ONLY the matching sf_dir's layout — and
    # removes it from DISK, so a regenerated input rebuilds cleanly
    clear_frame_cache("/tmp/fake_a")
    assert not os.path.exists(d1)
    assert os.path.exists(other)
    d3 = layout_dir("probe_layout", "/tmp/fake_a", build)
    assert len(calls) == 3 and os.path.exists(d3)
    clear_frame_cache()
    assert not os.path.exists(d3) and not os.path.exists(other)


def test_layout_dir_failed_build_rolls_back(spark):
    import os

    from graph_database_akkatyped_spark import caching
    from graph_database_akkatyped_spark.caching import layout_dir

    def bad(path):
        raise RuntimeError("boom")

    try:
        layout_dir("probe_bad", "/tmp/fake_a", bad)
    except RuntimeError:
        pass
    assert ("probe_bad", "/tmp/fake_a") not in caching._LAYOUT_DIRS
    ok = layout_dir("probe_bad", "/tmp/fake_a", lambda p: None)
    assert os.path.exists(ok)
    clear_frame_cache()
