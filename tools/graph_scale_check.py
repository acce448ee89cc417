"""Pregel kernel scale check: run CC, PageRank, SCC, Katz and random
walks on a deterministic pseudo-random graph far larger than the
fixtures (default 100k vertices, 1M edges) and report wall time.
Records evidence that the kernel's checkpoint/frontier discipline and
the round-4 graph additions hold beyond toy sizes.

Usage: python tools/graph_scale_check.py [n_vertices] [n_edges]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_database_akkatyped_spark.operators.algos import cc_frame, pagerank_frame
from graph_database_akkatyped_spark.session import get_spark


def main() -> None:
    n_v = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_e = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark(app_name="graph-scale-check")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic pseudo-random edges from hashed sequence ids
    base = spark.range(n_e).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_v)).alias("a"),
        F.pmod(F.xxhash64(F.col("id") + 1_000_000_007), F.lit(n_v)).alias("b"),
    ).where(F.col("a") != F.col("b"))
    sym = base.unionByName(
        base.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    verts = sym.select(F.col("a").alias("id")).distinct().localCheckpoint(eager=True)
    nv, ne = verts.count(), sym.count()
    print(f"graph: {nv} vertices, {ne} directed edges")

    t0 = time.perf_counter()
    cc = cc_frame(verts, sym)
    n_comp = cc.select("component").distinct().count()
    print(f"cc: {n_comp} components in {time.perf_counter() - t0:.1f}s")

    t0 = time.perf_counter()
    pr = pagerank_frame(verts, sym, iters=5)
    total = pr.agg(F.sum("rank_e12")).first()[0]
    print(
        f"pagerank(5 iters): sum_rank={total / 1e12:.3f} "
        f"(<= {nv}) in {time.perf_counter() - t0:.1f}s"
    )

    # round-4 additions on the same graph ------------------------------
    from graph_database_akkatyped_spark.operators.graph_extras import (
        _KATZ_ITERS,
        _UNIT,
        scc_frame,
    )
    from graph_database_akkatyped_spark.operators.pregel import pregel

    directed = base.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).localCheckpoint(eager=True)

    t0 = time.perf_counter()
    scc = scc_frame(verts, directed)
    n_scc, n_assigned = (
        scc.select("scc_id").distinct().count(),
        scc.count(),
    )
    print(
        f"scc: {n_scc} components over {n_assigned}/{nv} vertices "
        f"in {time.perf_counter() - t0:.1f}s"
    )

    t0 = time.perf_counter()
    katz = pregel(
        verts.select("id", F.lit(_UNIT).cast("long").alias("state")),
        directed,
        msg=F.col("src_state"),
        agg=F.sum("msg"),
        vprog=F.expr(f"CAST({_UNIT} + coalesce(agg_msg, 0) div 10 AS LONG)"),
        max_iter=_KATZ_ITERS,
        monotone=None,
    ).vertices
    kmax = katz.agg(F.max("state")).first()[0]
    print(
        f"katz({_KATZ_ITERS} iters): max={kmax / 1e12:.3f} "
        f"in {time.perf_counter() - t0:.1f}s"
    )

    # walks: sorted-adjacency modular indexing, 1 walk x 4 steps per seed
    t0 = time.perf_counter()
    adj = (
        sym.groupBy(F.col("a").alias("cur"))
        .agg(F.array_sort(F.collect_list("b")).alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    state = verts.select(F.col("id").alias("seed"), F.lit(0).alias("walk_no"),
                         F.col("id").alias("cur"))
    for k in range(1, 5):
        h = (
            f"CAST(conv(substring(md5(concat(CAST(seed AS STRING), '_', "
            f"CAST(walk_no AS STRING), '_', CAST({k} AS STRING))), 1, 12), "
            f"16, 10) AS BIGINT)"
        )
        state = state.join(adj, "cur", "left").select(
            "seed", "walk_no",
            F.coalesce(
                F.expr(f"element_at(nbrs, CAST({h} % size(nbrs) AS INT) + 1)"),
                F.col("cur"),
            ).alias("cur"),
        ).localCheckpoint(eager=True)
    n_final = state.count()
    print(f"walks(4 steps, {n_final} walks) in {time.perf_counter() - t0:.1f}s")

    # round-4b additions -----------------------------------------------
    from graph_database_akkatyped_spark.operators.centrality import hits_frame
    from graph_database_akkatyped_spark.operators.graph_extras import (
        bidirectional_dist_frame,
    )

    t0 = time.perf_counter()
    hits = hits_frame(verts, directed)
    hmax, amax = hits.agg(F.max("hub"), F.max("auth")).first()
    print(
        f"hits(3 iters): max_hub={hmax} max_auth={amax} "
        f"in {time.perf_counter() - t0:.1f}s"
    )

    t0 = time.perf_counter()
    seed = lambda v: verts.where(F.col("id") == v).select("id")  # noqa: E731
    r = bidirectional_dist_frame(sym, seed(0), seed(n_v - 1), half=4).first()
    print(
        f"bidirectional d(0,{n_v - 1}): dist={r['dist']} "
        f"n_meet={r['n_meet']} in {time.perf_counter() - t0:.1f}s"
    )

    # round-5: k-truss at scale — the wedge join is the cost driver
    # (sum of deg^2 intermediates), peeling converges in 2-3 rounds on
    # a near-random graph
    from graph_database_akkatyped_spark.operators.algos import truss_frame

    t0 = time.perf_counter()
    canon = (
        base.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    kept = truss_frame(canon).count()
    print(
        f"k-truss(4): {kept}/{canon.count()} edges kept "
        f"in {time.perf_counter() - t0:.1f}s"
    )

    # round-5: sampled betweenness — forward sigma + backward delta are
    # 2*depth frontier joins; on a near-random graph depth ~ log(n)
    from graph_database_akkatyped_spark.operators.centrality import (
        betweenness_frame,
    )

    t0 = time.perf_counter()
    seeds_df = verts.orderBy("id").limit(3).select(F.col("id").alias("seed"))
    visited = seeds_df.select(
        "seed", F.col("seed").alias("id"), F.lit(0).alias("level")
    ).localCheckpoint(eager=True)
    frontier = visited.select("seed", "id")
    for lvl in range(1, 9):
        nxt = (
            sym.join(frontier.withColumnRenamed("id", "a"), "a")
            .select("seed", F.col("b").alias("id"))
            .distinct()
            .join(visited, ["seed", "id"], "left_anti")
            .withColumn("level", F.lit(lvl))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("seed", "id")
    bc = betweenness_frame(visited, sym)
    n_bc, bc_max = bc.count(), bc.agg(F.max("bc_e6")).first()[0]
    print(
        f"betweenness(3 seeds): {n_bc} vertices, max_delta={bc_max / 1e6:.1f} "
        f"in {time.perf_counter() - t0:.1f}s"
    )


if __name__ == "__main__":
    main()
