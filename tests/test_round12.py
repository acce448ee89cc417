"""Round-12 optimization locks.

1. Iterative kernels free superseded cut generations (guide §5,
   round-11 VERDICT #4): executor storage stays O(1) generations per
   kernel run instead of O(rounds) — AND the results remain fully
   readable afterwards (releasing a block a live plan still needs
   would raise "checkpoint block not found" at the collect below,
   so these tests are falsifiable in both directions).
2. The containment verify threads per-doc gram counts from candidate
   generation (round-12 restructure): min-side explode, zero sizes
   joins. (The array_intersect variant was measured slower and
   reverted — see _contain_verify's docstring.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_akkatyped_spark.caching import (
    clear_frame_cache,
    persistent_rdd_ids,
)
from graph_database_akkatyped_spark.operators.algos import (
    _canonical_edges,
    _uedges_memo,
    bfs_frame,
    cc_frame,
    kcore_frame,
    label_propagation,
    truss_frame,
)
from graph_database_akkatyped_spark.operators.centrality import (
    louvain_multi_frame,
)
from graph_database_akkatyped_spark.operators.graph_extras import (
    anf_frame,
    cc_twophase_frame,
    mis_frame,
    msbfs_frame,
    mst_boruvka_frame,
    scc_frame,
    topo_longest_path,
)
from graph_database_akkatyped_spark.plans.explain import node_counts
from tests.conftest import SF_ORACLE

SF = SF_ORACLE  # 150 users


def _chain_edges(spark, n):
    """Path graph 0-1-...-n (worst case for round counts: many rounds,
    so a per-round block leak is maximally visible)."""
    return spark.range(n).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )


def _sym(df):
    return df.unionByName(df.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _verts(spark, n, col="id"):
    return spark.range(n).select(F.col("id").alias(col))


def _case_mis(spark):
    rows = mis_frame(_verts(spark, 201, "v"), _sym(_chain_edges(spark, 200)), 40).collect()
    # independence + maximality: no two adjacent picks, no addable vertex
    picked = {r.v for r in rows}
    for v in picked:
        assert v + 1 not in picked
    for v in range(201):
        if v not in picked:
            assert (v - 1 in picked) or (v + 1 in picked)


def _case_cc_twophase(spark):
    rows = cc_twophase_frame(_verts(spark, 151), _sym(_chain_edges(spark, 150))).collect()
    assert len(rows) == 151 and {r.component for r in rows} == {0}


def _case_cc_frame(spark):
    rows = cc_frame(_verts(spark, 11), _sym(_chain_edges(spark, 10))).collect()
    assert len(rows) == 11 and {r.component for r in rows} == {0}


def _case_mst_boruvka(spark):
    # weighted path: unique max spanning forest = all edges
    edges = _chain_edges(spark, 100).select(
        "a", "b", (F.col("a") % 7 + 1).cast("long").alias("weight")
    )
    assert len(mst_boruvka_frame(edges).collect()) == 100


def _case_bfs(spark):
    seed = spark.createDataFrame([(0,)], "id long")
    rows = bfs_frame(_sym(_chain_edges(spark, 12)), seed, 200).collect()
    assert {(r.id, r.level) for r in rows} == {(i, i) for i in range(13)}


def _case_msbfs(spark):
    clear_frame_cache(SF)  # rebuild the memoized traversal
    rows = msbfs_frame(spark, SF).collect()
    assert rows and min(r.level for r in rows) == 0


def _case_label_propagation(spark):
    assert label_propagation(spark, SF).count() > 0


def _case_topo(spark):
    assert topo_longest_path(spark, SF).count() > 0


def _case_anf(spark):
    rows = anf_frame(_verts(spark, 31), _sym(_chain_edges(spark, 30))).collect()
    assert len(rows) == 31


def _case_kcore(spark):
    # 60-cycle with a 5-vertex pendant chain: peeling the chain takes
    # one round per vertex, the cycle is the 2-core
    cyc = [(i, (i + 1) % 60) for i in range(60)]
    tail = [(0, 60)] + [(i, i + 1) for i in range(60, 64)]
    edges = _sym(spark.createDataFrame(cyc + tail, "a long, b long"))
    rows = kcore_frame(edges, k=2).collect()
    assert {r.id for r in rows} == set(range(60))


def _case_truss(spark):
    # a 4-clique survives; a strip of triangles cascades away over
    # several rounds
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    strip = [(i, i + 1) for i in range(10, 40)] + [(i, i + 2) for i in range(10, 39)]
    edges = spark.createDataFrame(clique + strip, "a long, b long")
    assert {(r.a, r.b) for r in truss_frame(edges).collect()} == set(clique)


def _case_scc(spark):
    # directed 8-cycle plus a 5-vertex tail into it (the tail trims)
    cyc = [(i, (i + 1) % 8) for i in range(8)]
    tail = [(i, i - 1) for i in range(9, 13)] + [(8, 0)]
    edges = spark.createDataFrame(cyc + tail, "src long, dst long")
    rows = scc_frame(_verts(spark, 13), edges).collect()
    assert {r.id for r in rows if r.scc_size == 8} == set(range(8))
    assert sum(1 for r in rows if r.scc_size == 1) == 5


def _case_louvain(spark):
    edges = _sym(_chain_edges(spark, 40)).select("a", "b", F.lit(1).cast("long").alias("w"))
    assert len(louvain_multi_frame(_verts(spark, 41, "v"), edges).collect()) == 41


# (case, max persisted-RDD growth): the final generation(s), plus the
# cuts a result still reads that are not generations — Borůvka's
# per-round forest picks (~7 rounds on a 101-vertex chain), the msbfs
# memo entry and the edge memo it rebuilds, Louvain's four
# sweep-invariant degree/weight cuts
_DRIVER_KERNELS = {
    "mis_frame": (_case_mis, 1),
    "cc_twophase_frame": (_case_cc_twophase, 1),
    "cc_frame": (_case_cc_frame, 1),
    "mst_boruvka_frame": (_case_mst_boruvka, 10),
    "bfs_frame": (_case_bfs, 1),
    "msbfs_frame": (_case_msbfs, 3),
    "label_propagation": (_case_label_propagation, 1),
    "topo_longest_path": (_case_topo, 1),
    "anf_frame": (_case_anf, 1),
    "kcore_frame": (_case_kcore, 1),
    "truss_frame": (_case_truss, 1),
    "scc_frame": (_case_scc, 1),
    "louvain_multi_frame": (_case_louvain, 6),
}


@pytest.mark.parametrize("kernel", sorted(_DRIVER_KERNELS))
def test_driver_kernels_release_generations(spark, kernel):
    """Every kernel on the fixpoint driver leaves at most its final
    generation(s) persisted, and its result stays readable after the
    driver freed everything else (the case collects it AFTER the
    releases)."""
    case, live = _DRIVER_KERNELS[kernel]
    # session memos the fixture-backed kernels read are not theirs
    _uedges_memo(spark, SF)
    _canonical_edges(spark, SF)
    before = persistent_rdd_ids(spark)
    case(spark)
    leaked = persistent_rdd_ids(spark) - before
    assert len(leaked) <= live, f"{kernel} leaked {len(leaked)} cut generations"


def test_jaccard_pair_frames_thread_sizes(spark):
    """Round-12: `_ngram_pairs` and `dedup_incremental` thread the
    per-doc gram count through the signature aggregate and the band
    join, so their verify subtrees contain NO per-doc sizes joins —
    exactly three joins each: the (k, mh) band join plus the two gram
    probes (the old shape had five; the two sizes joins are gone).
    Row-level parity for both keys lives in test_oracle_parity."""
    from graph_database_akkatyped_spark.caching import clear_frame_cache
    from graph_database_akkatyped_spark.operators.llm import (
        _ngram_pairs,
        dedup_incremental,
    )
    from tests.conftest import SF_SMOKE

    clear_frame_cache(SF_SMOKE)
    for frame in (
        _ngram_pairs(spark, SF_SMOKE),
        dedup_incremental(spark, SF_SMOKE),
    ):
        joins = node_counts(frame, logical=True)["Join"]
        assert joins == 3, frame._jdf.queryExecution().optimizedPlan().toString()


def test_contain_verify_threads_sizes(spark):
    """The round-12 containment verify: candidates arrive with their
    per-doc gram counts (a, b, n_a, n_b), so the verify contains NO
    join against a per-doc sizes frame — the small-side ordering is a
    projection and the ratios read aggregated columns (VERDICT r11 #1:
    the +4 pre-explode SMJ are gone). Exactly two joins remain in the
    subtree: the (sdoc)/(mdoc, g) gram probes of the min-side explode.
    Semantics locked on a synthetic corpus, including the asymmetric-
    size orientation (n_a/n_b must follow a/b, not sdoc/mdoc); the
    registered keys' row-level parity lives in test_oracle_parity."""
    from graph_database_akkatyped_spark.operators.llm import _contain_verify

    grams = spark.createDataFrame(
        [(0, "x"), (0, "y"), (1, "x"), (1, "y"), (1, "z"), (2, "q"),
         (3, "x")],
        "doc_id long, g string",
    )
    cand = spark.createDataFrame(
        [(0, 1, 2, 3), (0, 2, 2, 1), (1, 3, 3, 1)],
        "a long, b long, n_a long, n_b long",
    )
    out = _contain_verify(cand, grams)
    # two gram probes, zero sizes joins (the old shape had four)
    joins = node_counts(out, logical=True)["Join"]
    assert joins == 2, out._jdf.queryExecution().optimizedPlan().toString()
    rows = {(r.a, r.b): r for r in out.collect()}
    # (0,1): |A∩B|=2, C(A in B)=2/2=1.0, C(B in A)=2/3 — survives
    # (0,2): |A∩B|=0 — empty intersection never reaches the filter
    # (1,3): |A∩B|=1, small side is b (n_b=1): C(B in A)=1/1 — survives
    #        and the orientation must report n_a=3's ratio as 1/3
    assert set(rows) == {(0, 1), (1, 3)}
    r = rows[(0, 1)]
    assert r.n_common == 2
    assert r.contain_a_in_b == pytest.approx(1.0)
    assert r.contain_b_in_a == pytest.approx(2.0 / 3.0)
    r13 = rows[(1, 3)]
    assert r13.n_common == 1
    assert r13.contain_a_in_b == pytest.approx(1.0 / 3.0)
    assert r13.contain_b_in_a == pytest.approx(1.0)


def test_lp_count_only_wedge_matches_shared_frame(spark):
    """Round-12 link-predict split (guide §2.3, VERDICT r11 #5): the
    Jaccard key scores a count-only wedge (no d_z join, (x, y)-only
    wedge rows). The candidate pair set and every cn value must be
    IDENTICAL to the shared _lp_candidates frame's (x, y, cn)
    projection — the optimization drops an unused payload column, it
    must never change what gets counted."""
    from graph_database_akkatyped_spark.operators.graph_extras import (
        _lp_candidates,
    )

    sf = "/root/testdata/sf0.001"
    full = {
        (r.x, r.y): r.cn
        for r in _lp_candidates(spark, sf, with_ra=True)
        .select("x", "y", "cn")
        .collect()
    }
    cn_only = {
        (r.x, r.y): r.cn
        for r in _lp_candidates(spark, sf, with_ra=False).collect()
    }
    assert cn_only == full
    # and the count-only plan really has no d_z lookup: one wedge
    # equi-join plus the ce anti-join, nothing else
    cn_frame = _lp_candidates(spark, sf, with_ra=False)
    joins = node_counts(cn_frame, logical=True)["Join"]
    assert joins == 2, cn_frame._jdf.queryExecution().optimizedPlan().toString()
