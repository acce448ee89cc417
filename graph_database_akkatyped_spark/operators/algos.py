"""Graph traversals & algorithms on DataFrames (SURVEY.md §2-C).

Reference analogs [R]: hop-by-hop Traverse messages with an aggregator
actor. Here: frontier self-joins (BFS/k-hop — a semi-join-pruned
frontier, never the full vertex set) and the Pregel kernel
(SSSP/CC/PageRank/LPA).

Determinism: PageRank runs in scaled INTEGER arithmetic (µ-units of
1e-12) so ranks are exactly reproducible across engines and across
partitionings — float message sums would drift with partition order.
LPA ties break to the smallest label. Both therefore hash-match their
unrolled-SQL DuckDB oracles exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_database_akkatyped_spark.caching import (
    cut_once,
    memoized_checkpoint as _memoized,
)
from graph_database_akkatyped_spark.catalog import load_table
from graph_database_akkatyped_spark.operators.graph_build import (
    NATION_EDGES_CTE,
    USER_EDGES_CTE,
    _degrees,
    _md5_int,
    _slot_pairs,
    _sym,
    _uedges_memo,
    nation_edges,
    user_vertices,
)
from graph_database_akkatyped_spark.operators.pregel import fixpoint, pregel

_SEED_SQL = "(SELECT min(user_id) FROM events)"


# ------------------------------------------------------------ BFS family


def bfs_frame(edges_sym: DataFrame, seed: DataFrame, max_level: int) -> DataFrame:
    """Frontier BFS to depth ``max_level``; ``edges_sym``: (a, b)
    symmetric, ``seed``: (id), or (key..., id) for a multi-source BFS —
    every seed column besides ``id`` is a key that runs its own BFS in
    the same traversal (:func:`msbfs_frame`). Returns
    (key..., id, level).

    Only the frontier (the vertices reached last level) is joined each
    round, never all vertices; each level is one driver generation, so
    lineage stays flat and storage holds one visited set — the pattern
    that survives deep graphs at scale. Stops early once a level
    reaches nothing new. ``edges_sym`` is cut once for the run
    (``caching.cut_once``), so a lazy edge plan is not re-run per
    level.
    """
    keys = [c for c in seed.columns if c != "id"]

    def level(visited: DataFrame, rnd, edges_sym: DataFrame) -> DataFrame:
        frontier = visited.where(F.col("fresh") == 1).select(
            *keys, F.col("id").alias("a")
        )
        nxt = (
            edges_sym.join(frontier, "a")
            .select(*keys, F.col("b").alias("id"))
            .distinct()
            .join(visited, [*keys, "id"], "left_anti")
            .select(*keys, "id", F.lit(rnd.i).alias("level"), F.lit(1).alias("fresh"))
        )
        return visited.select(
            *keys, "id", "level", F.lit(0).alias("fresh")
        ).unionByName(nxt)

    init = seed.select(*keys, "id", F.lit(0).alias("level"), F.lit(1).alias("fresh"))
    with cut_once(edges_sym) as held:
        return fixpoint(
            lambda visited, rnd: level(visited, rnd, held),
            init,
            max_iter=max_level,
            name="bfs_frame",
            delta=F.sum("fresh"),
            horizon=True,
        ).drop("fresh")


def _bfs_visited(
    spark: SparkSession, sf_dir: str, max_level: int
) -> DataFrame:
    """BFS over the user graph from the min user id."""
    events = load_table(spark, sf_dir, "events")
    edges = _uedges_memo(spark, sf_dir)
    seed = events.agg(F.min("user_id").alias("id"))
    return bfs_frame(edges, seed, max_level)


def bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bfs_visited(spark, sf_dir, 20).select(
        F.col("id").alias("user_id"), "level"
    )


def _bfs_sql(max_level: int, select: str) -> str:
    return f"""
WITH RECURSIVE {USER_EDGES_CTE},
bfs(id, lvl) AS (
  SELECT {_SEED_SQL}, 0
  UNION
  SELECT e.b, bfs.lvl + 1
  FROM bfs JOIN uedges e ON e.a = bfs.id
  WHERE bfs.lvl < {max_level}
)
{select}
"""


_BFS_LEVELS_SQL = _bfs_sql(
    20,
    "SELECT id AS user_id, CAST(min(lvl) AS INTEGER) AS level FROM bfs GROUP BY id",
)


def khop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices within ≤2 hops of the seed (reference: Traverse(depth=2))."""
    return _bfs_visited(spark, sf_dir, 2).select(
        F.col("id").alias("user_id"), F.col("level").alias("hops")
    )


_KHOP_SQL = _bfs_sql(
    2,
    "SELECT id AS user_id, CAST(min(lvl) AS INTEGER) AS hops FROM bfs GROUP BY id",
)


def path_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reachability min-user → max-user within 4 hops; single-row result."""
    events = load_table(spark, sf_dir, "events")
    visited = _bfs_visited(spark, sf_dir, 4)
    ends = events.agg(
        F.min("user_id").alias("src_id"), F.max("user_id").alias("dst_id")
    )
    hits = visited.select(F.col("id").alias("dst_id"), F.lit(True).alias("hit"))
    return ends.join(hits, "dst_id", "left").select(
        "src_id", "dst_id", F.coalesce("hit", F.lit(False)).alias("reachable")
    )


_PATH_EXISTS_SQL = _bfs_sql(
    4,
    f"""SELECT {_SEED_SQL} AS src_id, (SELECT max(user_id) FROM events) AS dst_id,
       EXISTS(SELECT 1 FROM bfs WHERE id = (SELECT max(user_id) FROM events))
         AS reachable""",
)


# ------------------------------------------------------------------ SSSP


def sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths from nation 0 on the weighted nation
    graph (Pregel min-distance relaxation to fixpoint)."""
    n = load_table(spark, sf_dir, "nation")
    verts = n.select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.when(F.col("n_nationkey") == 0, F.lit(0).cast("long")).alias("state"),
    )
    edges = nation_edges(spark, sf_dir).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "weight",
    )
    res = pregel(
        verts,
        edges,
        msg=F.col("src_state") + F.col("weight"),
        agg=F.min("msg"),
        vprog=F.least(F.col("state"), F.col("agg_msg")),
        max_iter=10,
        # the oracle's recursion cap is tuned to a CONVERGED result; the
        # driver fails loudly rather than return a truncated fixpoint
        monotone="sssp_weighted",
    )
    return (
        res.vertices.where(F.col("state").isNotNull())
        .select(F.col("id").alias("n_nationkey"), F.col("state").alias("dist"))
    )


_SSSP_SQL = f"""
WITH RECURSIVE {NATION_EDGES_CTE},
paths(v, d) AS (
  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  UNION
  SELECT e.dst, p.d + e.w
  FROM paths p JOIN nedges e ON e.src = p.v
  WHERE p.d + e.w <= 25
)
SELECT CAST(v AS BIGINT) AS n_nationkey, min(d) AS dist FROM paths GROUP BY v
"""


def sssp_user_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP from the min user over the strong user graph.

    Edge cost = 1 + (a+b) mod 7 (deterministic integers -> exact oracle
    parity); Pregel min-distance relaxation to fixpoint. Unreached
    vertices are omitted, mirroring the reference's traversal replies.
    """
    ce = _canonical_edges(spark, sf_dir)
    cost = (1 + (F.col("a") + F.col("b")) % 7).cast("long")
    weighted = ce.select("a", "b", cost.alias("weight"))
    edges = _sym(weighted, "a", "b", "weight").select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "weight"
    )
    events = load_table(spark, sf_dir, "events")
    seed = events.agg(F.min("user_id")).first()[0]
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .union(spark.createDataFrame([(seed,)], "id long"))  # seed always present
        .distinct()
        .select(
            "id",
            F.when(F.col("id") == seed, F.lit(0).cast("long")).alias("state"),
        )
    )
    res = pregel(
        verts,
        edges,
        msg=F.col("src_state") + F.col("weight"),
        agg=F.min("msg"),
        vprog=F.least(F.col("state"), F.col("agg_msg")),
        max_iter=30,
        monotone="sssp_user_weighted",  # see sssp_weighted
    )
    return res.vertices.where(F.col("state").isNotNull()).select(
        F.col("id").alias("user_id"), F.col("state").alias("dist")
    )


# (oracle _SSSP_USER_SQL is defined after _TRI_BASE, near the triangle SQL)


# ---------------------------------------------------- connected components


def cc_frame(verts: DataFrame, edges_sym: DataFrame, max_iter: int = 50) -> DataFrame:
    """Min-id propagation CC on any graph; verts: (id), edges: (a, b).

    Converges in O(diameter) supersteps; in pregel's monotone mode the
    fixpoint is detected (empty frontier) and the loop stops early, so
    a generous ``max_iter`` costs nothing once converged. NON-
    convergence is a loud error, not a silent wrong answer: the
    round-11 1M-V sparse rehearsal (avg degree ~1, near-critical —
    largest component diameter ~n^(1/3) > 50) showed labels past the
    cap are still mid-propagation, and every consumer here (dedup
    clusters, semantic clusters, the incremental-CC contraction, the
    recursive-CTE oracle) is specified at the FIXPOINT. Same contract
    as :func:`sssp_weighted`: raise, and let the caller raise
    ``max_iter`` to cover the graph's diameter."""
    v = verts.select("id", F.col("id").alias("state"))
    e = edges_sym.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.lit(1).alias("weight")
    )
    res = pregel(
        v,
        e,
        msg=F.col("src_state"),
        agg=F.min("msg"),
        vprog=F.least(F.col("state"), F.col("agg_msg")),
        max_iter=max_iter,
        monotone="cc_frame",
    )
    return res.vertices.select("id", F.col("state").alias("component"))


def connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-id label propagation to fixpoint (undirected CC)."""
    return cc_frame(
        user_vertices(spark, sf_dir), _uedges_memo(spark, sf_dir)
    ).select(F.col("id").alias("user_id"), "component")


_CC_SQL = f"""
WITH RECURSIVE {USER_EDGES_CTE},
reach(s, d) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.s, e.b FROM reach r JOIN uedges e ON e.a = r.d
)
SELECT s AS user_id, min(d) AS component FROM reach GROUP BY s
"""


# ----------------------------------------- incremental CC maintenance

_CC_DELTA_MOD = 20  # event_id % 20 == 0 -> the arriving journal batch


def cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-components maintenance: merge a journal
    delta into an existing CC labeling WITHOUT re-running CC on the
    full graph. The journal splits deterministically (event_id % {mod}
    == 0 is the arriving batch, the rest is the already-labeled base).

    The merge is exact, not approximate: contracting each base
    component to a super-vertex preserves connectivity (every base
    edge is internal to a base component by definition), so full-graph
    CC equals CC of (contracted base + delta edges) projected back.
    With min-id labels the contracted run returns the min user id of
    each merged component — bit-identical to the batch answer, which
    is why the ORACLE for this key is simply the full-graph CC SQL.

    100 TB shape: the delta pass touches only the (event_type, hour)
    slots the batch hit — a semi-join prunes the events scan to those
    slots before any pair join — and the second CC runs on a graph
    with #components + #new-vertices nodes, orders of magnitude
    smaller than the base. The base labeling is the expensive part
    and is memoized (it stands in for "yesterday's result" a real
    deployment reads from the catalog; see api.py time travel)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
    )
    is_delta = (F.col("event_id") % _CC_DELTA_MOD) == 0
    base_ev = e.where(~is_delta)
    base_cc = _memoized(
        spark,
        "cc_incr_base",
        sf_dir,
        lambda: cc_frame(
            base_ev.select(F.col("user_id").alias("id")).distinct(),
            _slot_pairs(base_ev),
        ),
    )
    # delta edges: only slots the batch touched can create new pairs
    touched = (
        e.where(is_delta).select("event_type", "hour").distinct()
    )
    slot_ev = e.join(touched, ["event_type", "hour"], "left_semi")
    base_slot_ev = base_ev.join(
        touched, ["event_type", "hour"], "left_semi"
    )
    delta_edges = _slot_pairs(slot_ev).subtract(_slot_pairs(base_slot_ev))
    # contract: endpoint -> base component label, or itself if unseen
    lab_a = base_cc.select(
        F.col("id").alias("a"), F.col("component").alias("ca")
    )
    lab_b = base_cc.select(
        F.col("id").alias("b"), F.col("component").alias("cb")
    )
    super_edges = (
        delta_edges.join(lab_a, "a", "left")
        .join(lab_b, "b", "left")
        .select(
            F.coalesce("ca", F.col("a")).alias("a"),
            F.coalesce("cb", F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    verts_all = e.select(F.col("user_id").alias("id")).distinct()
    c1 = (
        verts_all.join(base_cc, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("c1")
        )
    )
    super_verts = c1.select(F.col("c1").alias("id")).distinct()
    merged = cc_frame(super_verts, super_edges)  # tiny contracted graph
    return c1.join(
        merged.select(
            F.col("id").alias("c1"), F.col("component").alias("comp2")
        ),
        "c1",
    ).select(F.col("id").alias("user_id"), F.col("comp2").alias("component"))


cc_incremental.__doc__ = cc_incremental.__doc__.format(mod=_CC_DELTA_MOD)

# oracle = the batch answer: the merge is exact by the contraction
# argument above, so full-graph CC is the specification
_CC_INCREMENTAL_SQL = _CC_SQL


# ---------------------------------------------------------------- PageRank

_UNIT = 10**12
_BASE = 15 * _UNIT // 100  # 0.15 in µ-units


def _degree_weighted(edges_sym: DataFrame) -> DataFrame:
    """(src, dst, weight = out-degree of src): the PageRank family's
    message edges, cut once per run by ``pregel``."""
    deg = _degrees(edges_sym, "a", "src", "weight")
    return edges_sym.select(F.col("a").alias("src"), F.col("b").alias("dst")).join(
        deg, "src"
    )


def pagerank_frame(
    verts: DataFrame, edges_sym: DataFrame, iters: int = 10
) -> DataFrame:
    """PageRank, damping 0.85, fixed supersteps, INTEGER µ-units.

    Exact integer arithmetic (floor-div contributions, scaled damping)
    makes every rank bit-reproducible: the same result on 1 partition or
    1000, and hash-identical to the SQL oracle. Overflow headroom:
    85 * N * 1e12 must stay < 2^63 → fine below ~10^5 vertices; at
    larger scale drop UNIT accordingly.
    """
    v = verts.select("id", F.lit(_UNIT).cast("long").alias("state"))
    res = pregel(
        v,
        _degree_weighted(edges_sym),
        msg=F.expr("src_state div weight"),
        agg=F.sum("msg"),
        vprog=F.expr(f"CAST({_BASE} + (85 * coalesce(agg_msg, 0)) div 100 AS LONG)"),
        max_iter=iters,
        monotone=None,
    )
    return res.vertices.select(
        "id",
        F.col("state").alias("rank_e12"),
        (F.col("state").cast("double") / F.lit(1e12)).alias("rank"),
    )


def pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank_frame(
        user_vertices(spark, sf_dir), _uedges_memo(spark, sf_dir), 10
    ).select(F.col("id").alias("user_id"), "rank_e12", "rank")


def _pagerank_sql(iters: int = 10) -> str:
    ctes = [
        USER_EDGES_CTE.strip(),
        "deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM uedges GROUP BY a)",
        f"r0 AS (SELECT v, CAST({_UNIT} AS BIGINT) AS r FROM verts)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"m{i} AS (SELECT u.b AS v, CAST(SUM(r{i-1}.r // deg.d) AS BIGINT) AS s "
            f"FROM uedges u JOIN deg ON deg.a = u.a "
            f"JOIN r{i-1} ON r{i-1}.v = u.a GROUP BY u.b)"
        )
        ctes.append(
            f"r{i} AS (SELECT verts.v, CAST({_BASE} + (85 * COALESCE(m{i}.s, 0)) // 100 "
            f"AS BIGINT) AS r FROM verts LEFT JOIN m{i} ON m{i}.v = verts.v)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v AS user_id, r AS rank_e12, CAST(r AS DOUBLE) / 1e12 AS rank "
        f"FROM r{iters}"
    )


# ------------------------------------------------------- label propagation


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA, 4 fixed iterations, most-frequent neighbor label,
    ties broken to the smallest label (deterministic -> oracle-able)."""
    verts = user_vertices(spark, sf_dir)
    edges = _uedges_memo(spark, sf_dir)

    def sweep(labels: DataFrame, rnd) -> DataFrame:
        nbr = edges.join(
            labels.select(F.col("id").alias("a"), "lbl"), "a"
        )
        counts = nbr.groupBy(F.col("b").alias("id"), "lbl").agg(
            F.count(F.lit(1)).alias("c")
        )
        pick = counts.groupBy("id").agg(
            F.expr("max_by(lbl, struct(c, -lbl))").alias("new_lbl")
        )
        return labels.join(pick, "id", "left").select(
            "id", F.coalesce("new_lbl", "lbl").alias("lbl")
        )

    labels = fixpoint(
        sweep,
        verts.select("id", F.col("id").alias("lbl")),
        max_iter=4,
        name="label_propagation",
    )
    return labels.select(F.col("id").alias("user_id"), F.col("lbl").alias("label"))


def _lpa_sql(iters: int = 4) -> str:
    ctes = [
        USER_EDGES_CTE.strip(),
        "l0 AS (SELECT v, v AS l FROM verts)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT u.b AS v, l{i-1}.l AS l, count(*) AS c "
            f"FROM uedges u JOIN l{i-1} ON l{i-1}.v = u.a GROUP BY u.b, l{i-1}.l)"
        )
        ctes.append(
            f"p{i} AS (SELECT v, l FROM c{i} "
            f"QUALIFY row_number() OVER (PARTITION BY v ORDER BY c DESC, l ASC) = 1)"
        )
        ctes.append(
            f"l{i} AS (SELECT verts.v, COALESCE(p{i}.l, l{i-1}.l) AS l FROM verts "
            f"LEFT JOIN p{i} ON p{i}.v = verts.v "
            f"LEFT JOIN l{i-1} ON l{i-1}.v = verts.v)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v AS user_id, l AS label FROM l{iters}"
    )


# ----------------------------------------------------------------- k-core

_KCORE_K = 10
_KCORE_ROUNDS = 15


def kcore_frame(edges_sym: DataFrame, k: int, max_rounds: int = 15) -> DataFrame:
    """k-core: iteratively peel vertices with degree < k until fixpoint.

    The generation is the degree table of the surviving vertices; each
    round keeps the vertices of degree >= k and recomputes degrees over
    edges whose BOTH endpoints survive (semi-joins — never
    materializing the dead set). The fixpoint is the round whose table
    has no degree below k. Converges in O(peeling depth) rounds; extra
    rounds are no-ops, which is what lets the unrolled SQL oracle use a
    fixed round count. Loud exhaustion at ``max_rounds``: a silent
    return at the cap is a SUPERSET of the true k-core that looks like
    an answer (the round-8b 1M rehearsal hit exactly this: peel depth
    64+ left 22 under-degree survivors).
    """

    def peel(deg: DataFrame, rnd) -> DataFrame:
        alive = deg.where(F.col("degree") >= k).select("id")
        return _degrees(
            edges_sym.join(alive.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("id", "b"), "b", "left_semi"),
            "a", "id", "degree",
        )

    return fixpoint(
        peel,
        _degrees(edges_sym, "a", "id", "degree"),
        max_iter=max_rounds,
        name="kcore_frame",
        delta=F.sum((F.col("degree") < k).cast("long")),
    )


def kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Members of the 10-core of the strong user graph with their
    in-core degree (graph-quality filtering: drop weakly-embedded
    vertices before community analysis)."""
    sym = _sym(_canonical_edges(spark, sf_dir), "a", "b")
    return kcore_frame(sym, _KCORE_K, _KCORE_ROUNDS).select(
        F.col("id").alias("user_id"), "degree"
    )


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    # every CTE is referenced 2x by the next round — they MUST be
    # MATERIALIZED or DuckDB inlines the chain exponentially
    ctes = [
        "ssym AS MATERIALIZED (SELECT a, b FROM ce UNION ALL SELECT b, a FROM ce)",
        "a0 AS MATERIALIZED (SELECT DISTINCT a AS id FROM ssym)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT e.a AS id, count(*) AS degree "
            f"FROM ssym e "
            f"JOIN a{i-1} x ON x.id = e.a JOIN a{i-1} y ON y.id = e.b "
            f"GROUP BY e.a)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT id FROM d{i} WHERE degree >= {k})"
        )
    return (
        _TRI_BASE.replace("WITH ce AS", "WITH ce AS MATERIALIZED")
        + ", "
        + ",\n".join(ctes)
        + f"\nSELECT id AS user_id, degree FROM d{rounds} WHERE degree >= {k}"
    )


# ------------------------------------------------------ triangles / motifs


_STRONG_MIN_WEIGHT = 3


def _canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical a<b edges of the STRONG user graph (co-occurrence
    weight ≥ 3), MATERIALIZED (localCheckpoint) because callers
    self-join it 2-3x, and memoized per (session, sf_dir) because six
    registered keys all start from it.

    The unfiltered co-occurrence graph is ~70% dense at sf0.1 (789k
    edges over 1500 users -> 197M triangles): counting those measures
    output volume, not the operator. The weight filter is the
    reference's edge-attribute traversal filter [R] and keeps the motif
    joins meaningful (137k edges, 1.4M triangles at sf0.1).
    """
    from graph_database_akkatyped_spark.operators.graph_build import (
        build_user_graph,
    )

    return _memoized(
        spark,
        "ce",
        sf_dir,
        lambda: build_user_graph(spark, sf_dir)
        .where(F.col("weight") >= _STRONG_MIN_WEIGHT)
        .select("a", "b"),
    )


def _triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical x<y<z triangle enumeration of the strong graph — THE
    shared frame behind triangle_count / clustering_coefficient /
    mutual_neighbors / edge_jaccard (motif_triangle_sql lists the same
    join as literal SQL text, its point being the SQL entry surface).

    One place owns the canonical-ordering invariant (src<dst edges ⇒
    each triangle appears exactly once as x<y<z), and the memoized
    localCheckpoint means a suite run enumerates the 1.4M-triangle
    frame once instead of once per key (~6 s/round at sf0.1).
    Intermediates are bounded by the true triangle volume — the correct
    100 TB shape; the cost is output size, not plan waste."""
    ce = _canonical_edges(spark, sf_dir)

    def build() -> DataFrame:
        e1 = ce.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = ce.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = ce.select(F.col("a").alias("x"), F.col("b").alias("z"))
        return e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")

    return _memoized(spark, "tri", sf_dir, build)


def _edge_common_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor count per canonical pair (p<q) that closes at
    least one triangle: each x<y<z triangle hands one common neighbor
    to each of its three edges, and all three emitted pairs are already
    canonical. Shared by mutual_neighbors and edge_jaccard."""
    tri = _triangles(spark, sf_dir)
    pairs = (
        tri.select(F.col("x").alias("p"), F.col("y").alias("q"))
        .unionAll(tri.select(F.col("x").alias("p"), F.col("z").alias("q")))
        .unionAll(tri.select(F.col("y").alias("p"), F.col("z").alias("q")))
    )
    return pairs.groupBy("p", "q").agg(F.count(F.lit(1)).alias("n_common"))


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count via canonical (a<b<c) three-way self-join —
    the ordering kills the 6x duplication AND the join explosion."""
    return _triangles(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


_TRI_SAMPLE_PCT = 25  # deterministic edge-sampling rate (%)


def triangle_count_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled triangle count — the 100 TB scale path for the triangle
    family: exact enumeration costs Σdeg² wedge checks (8·10⁸ at the
    1M-vertex rehearsal, BASELINE.md), so at real scale you count on a
    DETERMINISTIC edge sample and scale up. Each edge survives an md5
    gate with probability q = {_TRI_SAMPLE_PCT}/100 (:func:`_md5_int`
    over ``a_b``, as the SCC graph's gate — reproducible across engines
    and runs, unlike rand(); a and b are never NULL on the canonical
    edges, so concat_ws hashes the DuckDB twin's text); a triangle
    survives iff all 3 edges do (q³), so ``n_est = n_sampled / q³`` is
    the standard unbiased edge-sampling estimator (Tsourakakis et
    al.'s DOULION) — computed in exact integers (q = 1/4 → ×64).
    Wedge-work drops by q², and
    because the gate is deterministic the whole estimate value-hashes
    against the DuckDB twin."""
    ce = _canonical_edges(spark, sf_dir)
    s = ce.where(_md5_int("_", 8, "a", "b") % 100 < _TRI_SAMPLE_PCT)
    e1 = s.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = s.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = s.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    scale = (100 // _TRI_SAMPLE_PCT) ** 3
    return s.agg(F.count(F.lit(1)).alias("n_sampled_edges")).crossJoin(
        F.broadcast(
            tri.agg(F.count(F.lit(1)).alias("n_triangles_sampled"))
        )
    ).select(
        "n_sampled_edges",
        "n_triangles_sampled",
        (F.col("n_triangles_sampled") * scale).alias("n_triangles_est"),
    )


_TRI_BASE = f"""
WITH ce AS (
  SELECT a, b FROM (
    SELECT a, b, count(*) AS weight
    FROM (
      SELECT DISTINCT e1.user_id AS a, e2.user_id AS b,
             e1.event_type AS et, date_trunc('hour', e1.ts) AS hr
      FROM events e1
      JOIN events e2
        ON e1.event_type = e2.event_type
       AND date_trunc('hour', e1.ts) = date_trunc('hour', e2.ts)
       AND e1.user_id < e2.user_id
    )
    GROUP BY a, b
  ) WHERE weight >= {_STRONG_MIN_WEIGHT}
)
"""

_SSSP_USER_SQL = (
    _TRI_BASE.replace("WITH ce AS", "WITH RECURSIVE ce AS")
    + f"""
, wedges AS (
  SELECT a AS src, b AS dst, CAST(1 + (a + b) % 7 AS BIGINT) AS w FROM ce
  UNION ALL
  SELECT b, a, CAST(1 + (a + b) % 7 AS BIGINT) FROM ce
),
paths(v, d) AS (
  SELECT {_SEED_SQL}, CAST(0 AS BIGINT)
  UNION
  SELECT e.dst, p.d + e.w
  FROM paths p JOIN wedges e ON e.src = p.v
  WHERE p.d + e.w <= 60
)
SELECT v AS user_id, min(d) AS dist FROM paths GROUP BY v
"""
)

_TRIANGLE_COUNT_SQL = (
    _TRI_BASE
    + """
SELECT count(*) AS n_triangles
FROM ce e1 JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b
"""
)


_TRI_APPROX_SQL = (
    _TRI_BASE
    + f""",
se AS MATERIALIZED (
  SELECT a, b FROM ce
  WHERE CAST('0x' || substr(md5(CAST(a AS VARCHAR) || '_'
          || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) % 100 < {_TRI_SAMPLE_PCT}
),
tri AS (
  SELECT count(*) AS n
  FROM se e1 JOIN se e2 ON e2.a = e1.b
  JOIN se e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT count(*) FROM se) AS n_sampled_edges,
       n AS n_triangles_sampled,
       n * {(100 // _TRI_SAMPLE_PCT) ** 3} AS n_triangles_est
FROM tri
"""
)


_TRUSS_K = 4  # every surviving edge sits in >= k-2 = 2 triangles
_TRUSS_ROUNDS = 14  # fixpoint margin: sf0.01 needs 11, sf0.1 needs 1


def _tri_enumerate(e: DataFrame) -> DataFrame:
    """Canonical triangle list (x < y < z) of an a<b edge frame — the
    one O(wedges) pass of the incremental peel."""
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")


def _tri_support_ok(tri: DataFrame) -> DataFrame:
    """Edges whose support (triangle membership count) clears K-2.
    Canonical x<y<z ordering means each triangle contributes exactly
    one support unit to each of its three (already-canonical) edges."""
    pairs = (
        tri.select(F.col("x").alias("p"), F.col("y").alias("q"))
        .unionAll(tri.select(F.col("x").alias("p"), F.col("z").alias("q")))
        .unionAll(tri.select(F.col("y").alias("p"), F.col("z").alias("q")))
    )
    return (
        pairs.groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") >= _TRUSS_K - 2)
        .select(F.col("p").alias("a"), F.col("q").alias("b"))
    )


def truss_frame(edges: DataFrame, max_rounds: int = _TRUSS_ROUNDS) -> DataFrame:
    """Truss peeling to FIXPOINT (early exit when a round removes no
    edge), loudly bounded at ``max_rounds`` — silent truncation would
    return a superset of the true truss and break oracle parity. Each
    round is a grouped support count + a left join over the surviving
    edges — O(triangles) per round, the same scale family as
    triangle_count, over a monotonically SHRINKING edge set. The SQL
    oracle unrolls ``max_rounds`` rounds; its post-fixpoint rounds are
    no-ops, so both engines land on the exact k-truss.

    The driver runs ``max_rounds + 1`` rounds: detecting the fixpoint
    costs one no-change round, so a topology that shrinks for exactly
    ``max_rounds`` rounds (which the unrolled oracle handles — its
    e{max_rounds} IS the fixpoint) must get one extra confirm round
    rather than erroring. The error fires only when round
    ``max_rounds + 1`` still removes edges — the case where the
    unrolled oracle would itself be a superset, so parity is
    genuinely broken.

    The generation is (edges flagged ``keep``, triangle list): round
    r drops the edges round r-1 flagged, removes their triangles, and
    flags the survivors by their support in what is left.

    INCREMENTAL peel (round-9 VERDICT #2): triangles are enumerated
    ONCE — the O(Σ deg²) wedge join runs a single time — and the
    materialized triangle list shrinks with the edge set: because
    peeling only REMOVES edges, the surviving subgraph's triangles are
    exactly the previous triangles minus those touching a dropped edge
    (three anti-joins on the dropped set, O(|tri|) per round, no
    re-enumeration). Per-round semantics are bit-identical to the
    recompute-from-scratch peel — support is counted over the same
    triangle set — so the fixpoint, every intermediate round, and the
    unrolled-SQL parity are unchanged. Round-8's analysis still holds
    for the one enumeration that remains: on near-uniform dense blocks
    the wedge term is triangle-output-bound and orientation can't cut
    it; what the incremental form removes is paying that term once per
    ROUND (the round-8 1M-V rehearsal peeled 9 rounds = 9 full
    enumerations = the 240 s wall; see BASELINE.md round 10 for the
    measured cut). Memory shape at 100 TB: O(|triangles|) rows
    checkpointed — the same order the per-round support count already
    SHUFFLED under the old form, now stored instead of recomputed;
    on a graph whose triangle set cannot be materialized, cap degree
    first (the capped user graph bounds it at n·cap²)."""

    def peel(state, rnd):
        if rnd.i == 1:  # state is the raw edge list
            e = rnd.cut(state.select("a", "b"))
            tri = rnd.cut(_tri_enumerate(e))
        else:
            flagged, tri = state
            e = flagged.where(F.col("keep")).select("a", "b")
            dropped = flagged.where(~F.col("keep"))
            tri = rnd.cut(
                tri.join(
                    dropped.select(F.col("a").alias("x"), F.col("b").alias("y")),
                    ["x", "y"],
                    "left_anti",
                )
                .join(
                    dropped.select(F.col("a").alias("x"), F.col("b").alias("z")),
                    ["x", "z"],
                    "left_anti",
                )
                .join(
                    dropped.select(F.col("a").alias("y"), F.col("b").alias("z")),
                    ["y", "z"],
                    "left_anti",
                )
            )
        ok = _tri_support_ok(tri).withColumn("ok", F.lit(True))
        flagged = e.join(ok, ["a", "b"], "left").select(
            "a", "b", F.coalesce("ok", F.lit(False)).alias("keep")
        )
        return flagged, tri

    return fixpoint(
        peel,
        edges,
        max_iter=max_rounds + 1,
        name="truss_frame",
        delta=F.sum((~F.col("keep")).cast("long")),
    ).select("a", "b")


def k_truss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the strong user graph: the maximal subgraph whose
    every edge closes ≥ 2 triangles — the cohesion mining query a
    graph DB serves next to k-core (truss bounds are tighter: every
    4-truss edge is in the 3-core, not vice versa). Peeling runs to
    fixpoint (loudly bounded); the DuckDB twin unrolls the bound's
    worth of rounds, whose post-fixpoint tail is a no-op — so even
    this iterative subgraph query is value-hash-oracled. Memoized like
    SCC — repeated invocations reuse one checkpointed result."""
    edges = _canonical_edges(spark, sf_dir)
    return _memoized(
        spark, "ktruss", sf_dir, lambda: truss_frame(edges)
    )


def _truss_sql(rounds: int = _TRUSS_ROUNDS) -> str:
    # every e{r} is referenced 4x by the next round (3 triangle roles +
    # the semi-join); MATERIALIZED stops DuckDB from inlining the whole
    # chain exponentially (un-materialized, the 4-round tree re-opened
    # events.parquet 3^4-ish times and hit the fd limit)
    ctes = [
        _TRI_BASE.strip().removeprefix("WITH ").rstrip(),
        "e0 AS MATERIALIZED (SELECT a, b FROM ce)",
    ]
    for r in range(1, rounds + 1):
        p = f"e{r - 1}"
        ctes.append(
            f"tri{r} AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
            f"FROM {p} e1 JOIN {p} e2 ON e2.a = e1.b "
            f"JOIN {p} e3 ON e3.a = e1.a AND e3.b = e2.b)"
        )
        ctes.append(
            f"sup{r} AS (SELECT p, q, count(*) AS c FROM ("
            f"SELECT x AS p, y AS q FROM tri{r} "
            f"UNION ALL SELECT x, z FROM tri{r} "
            f"UNION ALL SELECT y, z FROM tri{r}) GROUP BY p, q)"
        )
        ctes.append(
            f"e{r} AS MATERIALIZED (SELECT e.a, e.b FROM {p} e "
            f"JOIN sup{r} s ON s.p = e.a AND s.q = e.b "
            f"WHERE s.c >= {_TRUSS_K - 2})"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT a, b FROM e{rounds}"


def motif_triangle_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-cycle motif listing via the SQL entry point (a<b<c)."""
    _canonical_edges(spark, sf_dir).createOrReplaceTempView("ce_motif")
    return spark.sql(
        """
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM ce_motif e1
        JOIN ce_motif e2 ON e2.a = e1.b
        JOIN ce_motif e3 ON e3.a = e1.a AND e3.b = e2.b
        """
    )


_MOTIF_SQL = (
    _TRI_BASE
    + """
SELECT e1.a AS a, e1.b AS b, e2.b AS c
FROM ce e1 JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b
"""
)


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the strong graph:
    2·triangles(v) / (deg(v)·(deg(v)−1)) — integer counts, so the only
    float is one deterministic division."""
    ce = _canonical_edges(spark, sf_dir)
    tri = _triangles(spark, sf_dir)
    corners = (
        tri.select(F.col("x").alias("id"))
        .unionAll(tri.select(F.col("y").alias("id")))
        .unionAll(tri.select(F.col("z").alias("id")))
    )
    tri_cnt = _degrees(corners, "id", "id", "n_tri")
    deg = _degrees(_sym(ce, "a", "b"), "a", "id", "degree")
    return (
        deg.join(tri_cnt, "id", "left")
        .select(
            F.col("id").alias("user_id"),
            "degree",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce("n_tri", F.lit(0)).cast("double")
                / (F.col("degree").cast("double") * (F.col("degree") - 1)),
            )
            .otherwise(0.0)
            .alias("coef"),
        )
    )


_CLUSTERING_SQL = (
    _TRI_BASE
    + """
, tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ce e1 JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
),
tri_cnt AS (SELECT id, count(*) AS n_tri FROM corners GROUP BY id),
ssym AS (SELECT a, b FROM ce UNION ALL SELECT b, a FROM ce),
deg AS (SELECT a AS id, count(*) AS degree FROM ssym GROUP BY a)
SELECT deg.id AS user_id, degree, COALESCE(n_tri, 0) AS n_tri,
       CASE WHEN degree >= 2
            THEN 2.0 * CAST(COALESCE(n_tri, 0) AS DOUBLE)
                 / (CAST(degree AS DOUBLE) * (degree - 1))
            ELSE 0.0 END AS coef
FROM deg LEFT JOIN tri_cnt ON tri_cnt.id = deg.id
"""
)


def mutual_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor count per strong EDGE (x<y), zero included
    (reference: mutual friends of connected pairs).

    Edge-scoped by design: the all-pairs variant enumerates every wedge
    (~50M rows at sf0.1, near-quadratic output that only grows at 100 TB).
    Restricting to pairs that are themselves edges makes the answer the
    per-edge triangle support, computable from the canonical a<b<c
    triangle join — intermediates bounded by the actual triangle count,
    the same plan family as ``triangle_count``.
    """
    ce = _canonical_edges(spark, sf_dir)
    cnt = _edge_common_counts(spark, sf_dir)
    return ce.join(
        cnt, (ce["a"] == cnt["p"]) & (ce["b"] == cnt["q"]), "left"
    ).select(
        F.col("a").alias("x"),
        F.col("b").alias("y"),
        F.coalesce("n_common", F.lit(0).cast("long")).alias("n_common"),
    )


_MUTUAL_SQL = (
    _TRI_BASE.replace("WITH ce AS", "WITH ce AS MATERIALIZED")
    + """
, tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ce e1 JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b
),
pc AS (
  SELECT p, q, count(*) AS n_common FROM (
    SELECT x AS p, y AS q FROM tri
    UNION ALL SELECT x AS p, z AS q FROM tri
    UNION ALL SELECT y AS p, z AS q FROM tri
  ) GROUP BY p, q
)
SELECT ce.a AS x, ce.b AS y, CAST(COALESCE(pc.n_common, 0) AS BIGINT) AS n_common
FROM ce LEFT JOIN pc ON pc.p = ce.a AND pc.q = ce.b
"""
)


_RECURSIVE_REACH_SQL = f"""
WITH RECURSIVE {NATION_EDGES_CTE},
reach(id, lvl) AS (
  SELECT CAST(0 AS BIGINT) AS id, 0 AS lvl
  UNION ALL
  SELECT CAST(e.dst AS BIGINT), r.lvl + 1
  FROM reach r JOIN nedges e ON e.src = r.id
  WHERE r.lvl < 4
)
SELECT id AS n_nationkey, CAST(min(lvl) AS INTEGER) AS hops
FROM reach GROUP BY id
"""


def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph reachability as a RECURSIVE CTE — the IDENTICAL SQL text
    runs on Spark 4 (recursive CTE support) and on the DuckDB oracle:
    the declarative traversal surface next to the Pregel/frontier
    implementations of the same semantics. Level-capped UNION ALL keeps
    both engines' recursion finite on the cyclic nation graph."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_RECURSIVE_REACH_SQL)


def graph_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row profile of the strong user graph: vertex/edge counts,
    max/avg degree, density — the pre-flight sanity numbers before any
    expensive algorithm runs. All counts are exact integers; the two
    floats are single divisions of identical integers (bit-identical
    across engines)."""
    sym = _sym(_canonical_edges(spark, sf_dir), "a", "b")
    deg = _degrees(sym, "a", "id", "degree")
    return deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.expr("sum(degree) div 2").alias("n_edges"),
        F.max("degree").alias("max_degree"),
    ).select(
        "n_vertices",
        "n_edges",
        "max_degree",
        (
            F.col("n_edges").cast("double") * 2.0
            / F.col("n_vertices").cast("double")
        ).alias("avg_degree"),
        (
            F.col("n_edges").cast("double") * 2.0
            / (
                F.col("n_vertices").cast("double")
                * (F.col("n_vertices") - 1).cast("double")
            )
        ).alias("density"),
    )


_GRAPH_SUMMARY_SQL = (
    _TRI_BASE
    + """
, ssym AS (SELECT a, b FROM ce UNION ALL SELECT b, a FROM ce),
deg AS (SELECT a AS id, count(*) AS degree FROM ssym GROUP BY a),
s AS (
  SELECT count(*) AS n_vertices,
         CAST(sum(degree) // 2 AS BIGINT) AS n_edges,
         max(degree) AS max_degree
  FROM deg
)
SELECT n_vertices, n_edges, max_degree,
       CAST(n_edges AS DOUBLE) * 2.0 / CAST(n_vertices AS DOUBLE) AS avg_degree,
       CAST(n_edges AS DOUBLE) * 2.0
         / (CAST(n_vertices AS DOUBLE) * CAST(n_vertices - 1 AS DOUBLE))
         AS density
FROM s
"""
)


QUERIES = {
    "bfs_levels": bfs_levels,
    "khop_neighbors": khop_neighbors,
    "path_exists": path_exists,
    "sssp_weighted": sssp_weighted,
    "sssp_user_weighted": sssp_user_weighted,
    "connected_components": connected_components,
    "cc_incremental": cc_incremental,
    "pagerank_fixed": pagerank_fixed,
    "label_propagation": label_propagation,
    "kcore_decompose": kcore_decompose,
    "triangle_count": triangle_count,
    "triangle_count_approx": triangle_count_approx,
    "k_truss_edges": k_truss_edges,
    "motif_triangle_sql": motif_triangle_sql,
    "mutual_neighbors": mutual_neighbors,
    "clustering_coefficient": clustering_coefficient,
    "graph_summary_stats": graph_summary_stats,
    "sql_recursive_reachability": sql_recursive_reachability,
}

ORACLES = {
    "bfs_levels": _BFS_LEVELS_SQL,
    "khop_neighbors": _KHOP_SQL,
    "path_exists": _PATH_EXISTS_SQL,
    "sssp_weighted": _SSSP_SQL,
    "sssp_user_weighted": _SSSP_USER_SQL,
    "connected_components": _CC_SQL,
    "cc_incremental": _CC_INCREMENTAL_SQL,
    "pagerank_fixed": _pagerank_sql(10),
    "label_propagation": _lpa_sql(4),
    "kcore_decompose": _kcore_sql(),
    "k_truss_edges": _truss_sql(),
    "triangle_count": _TRIANGLE_COUNT_SQL,
    "triangle_count_approx": _TRI_APPROX_SQL,
    "motif_triangle_sql": _MOTIF_SQL,
    "mutual_neighbors": _MUTUAL_SQL,
    "clustering_coefficient": _CLUSTERING_SQL,
    "graph_summary_stats": _GRAPH_SUMMARY_SQL,
    "sql_recursive_reachability": _RECURSIVE_REACH_SQL,
}
