"""Semantic tests for graph_random_walks and scc_strongly_connected
(operators.graph_extras) beyond the oracle hash: walk validity on the
real graph, SCC correctness on a hand-built digraph."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_database_akkatyped_spark.operators.graph_extras import (
    _WALK_STEPS,
    _WALKS_PER_SEED,
    graph_random_walks,
    scc_frame,
    user_edges_sym,
    user_vertices,
)
from tests.conftest import SF_ORACLE


def test_walks_shape_and_start(spark):
    walks = graph_random_walks(spark, SF_ORACLE)
    n_verts = user_vertices(spark, SF_ORACLE).count()
    assert walks.count() == n_verts * _WALKS_PER_SEED * (_WALK_STEPS + 1)
    bad_start = walks.where(
        (F.col("step") == 0) & (F.col("node") != F.col("seed"))
    )
    assert bad_start.count() == 0


def test_walk_hops_follow_edges(spark):
    walks = graph_random_walks(spark, SF_ORACLE)
    edges = user_edges_sym(spark, SF_ORACLE)
    cur = walks.select("seed", "walk_no", "step", F.col("node").alias("a"))
    nxt = walks.select(
        "seed",
        "walk_no",
        (F.col("step") - 1).alias("step"),
        F.col("node").alias("b"),
    )
    hops = cur.join(nxt, ["seed", "walk_no", "step"]).where(
        F.col("a") != F.col("b")  # staying put is the dangling case
    )
    bad = hops.join(edges, ["a", "b"], "left_anti")
    assert bad.count() == 0


def test_scc_on_hand_built_digraph(spark):
    # cycle {1,2,3} -> bridge 3->4 -> cycle {4,5}; 6 isolated
    verts = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4)], ["src", "dst"]
    )
    got = {
        r["id"]: (r["scc_id"], r["scc_size"])
        for r in scc_frame(verts, edges).collect()
    }
    assert got == {
        1: (1, 3),
        2: (1, 3),
        3: (1, 3),
        4: (4, 2),
        5: (4, 2),
        6: (6, 1),
    }


def test_scc_partition_covers_all_users(spark):
    from graph_database_akkatyped_spark.operators.graph_extras import (
        scc_strongly_connected,
    )

    out = scc_strongly_connected(spark, SF_ORACLE)
    n_verts = user_vertices(spark, SF_ORACLE).count()
    assert out.count() == n_verts
    assert out.select("user_id").distinct().count() == n_verts
    # scc_size agrees with the actual member count per scc_id
    sizes = out.groupBy("scc_id", "scc_size").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert sizes.where(F.col("n") != F.col("scc_size")).count() == 0


def test_interval_bucketed_equals_theta_join(spark):
    """The bucket decomposition must produce EXACTLY the pairs the
    naive theta join produces — decomposition is an execution strategy,
    not a semantics change."""
    from pyspark.sql import functions as F

    from graph_database_akkatyped_spark.operators.relational_extras import (
        join_interval_bucketed,
    )
    from graph_database_akkatyped_spark.catalog import load_table

    got = join_interval_bucketed(spark, SF_ORACLE)
    base = load_table(spark, SF_ORACLE, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("okey"),
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("s"),
    )
    a = base.select("o_custkey", F.col("okey").alias("o1"), F.col("s").alias("s1"))
    b = base.select("o_custkey", F.col("okey").alias("o2"), F.col("s").alias("s2"))
    naive = (
        a.join(b, "o_custkey")
        .where(
            (F.col("o1") < F.col("o2"))
            & (F.col("s1") <= F.col("s2") + 6)
            & (F.col("s2") <= F.col("s1") + 6)
        )
        .select(
            "o_custkey", "o1", "o2",
            (F.least(F.col("s1") + 6, F.col("s2") + 6)
             - F.greatest("s1", "s2") + 1).alias("overlap_days"),
        )
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


def test_katz_floor_and_monotonicity(spark):
    """Katz >= 1 everywhere (the injected unit mass), and vertices
    with zero in-degree sit exactly at 1."""
    from pyspark.sql import functions as F

    from graph_database_akkatyped_spark.operators.graph_extras import (
        katz_centrality,
        user_directed_edges,
    )

    katz = katz_centrality(spark, SF_ORACLE)
    assert katz.where(F.col("katz_e12") < 10**12).count() == 0
    no_in = katz.join(
        user_directed_edges(spark, SF_ORACLE).select(
            F.col("dst").alias("user_id")
        ).distinct(),
        "user_id",
        "left_anti",
    )
    assert no_in.where(F.col("katz_e12") != 10**12).count() == 0


def test_scc_chain_topology_trims(spark):
    """A descending-id directed chain is the peel-based-coloring worst
    case (O(n) coloring rounds); the trim phase must absorb it in one
    round. Appended cycles must still resolve as real SCCs."""
    n = 30
    verts = spark.createDataFrame(
        [(i,) for i in range(1, n + 3)], ["id"]
    )
    chain = [(i, i - 1) for i in range(n, 1, -1)]  # n -> n-1 -> ... -> 1
    cyc = [(n + 1, n + 2), (n + 2, n + 1), (n + 1, n)]  # 2-cycle feeding in
    edges = spark.createDataFrame(chain + cyc, ["src", "dst"])
    got = {r["id"]: (r["scc_id"], r["scc_size"]) for r in scc_frame(verts, edges).collect()}
    for i in range(1, n + 1):
        assert got[i] == (i, 1), (i, got[i])
    assert got[n + 1] == (n + 1, 2) and got[n + 2] == (n + 1, 2)


def test_temporal_reachability_respects_time(spark, tmp_path_factory):
    """Planted diffusion: a contact AFTER the carrier was reached
    transmits; a contact BEFORE does not — the property that separates
    temporal reachability from static reachability (where both paths
    would count). Ids are searched so every planted (src, dst) pair
    passes the md5 sparsity gate and only the seed is % 300 == 0."""
    import hashlib
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graph_database_akkatyped_spark.operators.graph_extras import (
        _SCC_GATE_PCT,
        graph_temporal_reachability,
    )

    def gate(src, dst):
        h = hashlib.md5(f"{src}_{dst}".encode()).hexdigest()[:8]
        return int(h, 16) % 100 < _SCC_GATE_PCT

    seed = 300  # % 300 == 0
    b = next(x for x in range(1, 300) if gate(seed, x))
    c = next(
        x for x in range(1, 300)
        if x != b and gate(b, x) and not gate(seed, x)
    )
    c2 = next(
        x for x in range(1, 300)
        if x not in (b, c) and gate(b, x) and not gate(seed, x)
    )
    h0 = datetime(2024, 3, 1, 0, 0)

    def at(h):
        return h0 + timedelta(hours=h)

    # edge X->Y at t=h exists when X did et at h-1 and Y did et at h
    rows = [
        (seed, "x", at(0)), (b, "x", at(1)),      # seed->b @ h1
        (b, "y", at(2)), (c, "y", at(3)),         # b->c  @ h3 >= h1: reached
        (b, "z", at(-2)), (c2, "z", at(-1)),      # b->c2 @ h-1 < h1: NOT
    ]
    d = tmp_path_factory.mktemp("treach")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array([r[1] for r in rows]),
                "ts": pa.array([r[2] for r in rows],
                               pa.timestamp("us")),
                "value": pa.array([1.0] * len(rows)),
            }
        ),
        d / "events.parquet",
    )
    got = {
        int(r.user_id): r.earliest_ts
        for r in graph_temporal_reachability(spark, str(d)).collect()
    }
    assert got == {b: at(1), c: at(3)}, got  # c2 must be absent


def test_user_graph_keys_share_one_edge_build(spark, monkeypatch):
    """graph_random_walks, graph_rich_club and community_modularity all
    read the one memoized symmetric edge list: from a cleared frame
    cache the slot self-join (``user_edges_sym``) is built exactly once
    for the three keys, whichever module a caller took the name from."""
    import importlib

    from graph_database_akkatyped_spark.caching import clear_frame_cache
    from graph_database_akkatyped_spark.operators.centrality import (
        community_modularity,
    )
    from graph_database_akkatyped_spark.operators.graph_extras import (
        graph_rich_club,
    )

    calls = {"n": 0}

    def counted(*args, **kwargs):
        calls["n"] += 1
        return user_edges_sym(*args, **kwargs)

    pkg = "graph_database_akkatyped_spark.operators"
    for name in ("graph_build", "algos", "graph_extras", "centrality", "motif"):
        mod = importlib.import_module(f"{pkg}.{name}")
        if hasattr(mod, "user_edges_sym"):
            monkeypatch.setattr(mod, "user_edges_sym", counted)
    clear_frame_cache(SF_ORACLE)
    graph_random_walks(spark, SF_ORACLE)
    graph_rich_club(spark, SF_ORACLE)
    community_modularity(spark, SF_ORACLE)
    assert calls["n"] == 1, f"user_edges_sym built {calls['n']}x; must be once"
