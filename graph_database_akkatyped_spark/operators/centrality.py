"""Centrality extensions: HITS hubs/authorities and sampled
harmonic/closeness centrality.

HITS runs on the directed succession graph (``_dedges_memo``, the
frame SCC and Katz share); harmonic/closeness aggregates the
memoized multi-source-BFS distance frame that also backs
``graph_eccentricity`` — the traversal is paid once per (session,
sf_dir) however many centrality keys run.

Determinism discipline matches operators.algos: every iterate is exact
integer µ-unit arithmetic (products widened through DECIMAL(38,0) /
HUGEINT before the integral divide), so results are bit-reproducible
across partitionings and hash-identical to the unrolled-SQL DuckDB
oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_database_akkatyped_spark.caching import cut
from graph_database_akkatyped_spark.caching import memoized_checkpoint as _memoized
from graph_database_akkatyped_spark.operators.graph_extras import (
    DIRECTED_EDGES_CTE,
    _ECC_MAX_LEVEL,
    _ECC_SEEDS,
    _dedges_memo,
    msbfs_frame,
)
from graph_database_akkatyped_spark.operators.graph_build import (
    USER_EDGES_CTE,
    _degrees,
    _mirror,
    _uedges_memo,
    user_vertices,
)
from graph_database_akkatyped_spark.operators.pregel import fixpoint

# ------------------------------------------------- HITS hubs/authorities

_HITS_ITERS = 3
_HITS_UNIT = 1_000_000


def _hits_normalize(raw: DataFrame, out: str) -> DataFrame:
    """Exact max-normalization: x <- x * UNIT div max(x). The max is a
    1-row aggregate broadcast against the vertex frame (never a
    window-over-() single-partition sort); the product is widened to
    DECIMAL(38,0) before the integral divide so the step is exact and
    overflow-proof up to raw ~ 1e31 (indeg 1e25 at UNIT=1e6 — far past
    any real graph)."""
    mx = raw.agg(F.greatest(F.max("raw"), F.lit(1)).alias("mx"))
    return raw.crossJoin(F.broadcast(mx)).select(
        "id",
        F.expr(
            f"CAST(CAST(raw AS DECIMAL(38,0)) * {_HITS_UNIT} div mx AS BIGINT)"
        ).alias(out),
    )


def hits_frame(
    verts: DataFrame, edges: DataFrame, iters: int = _HITS_ITERS
) -> DataFrame:
    """HITS (Kleinberg) by alternating power iteration:
    ``auth <- Σ_in hub; hub <- Σ_out auth``, each step followed by exact
    integer max-normalization (the conventional L2 norm is irrational;
    max-normalization keeps the same fixpoint direction and stays
    bit-deterministic).

    Per iteration: two message joins on the edge list + two tiny
    broadcast normalizations — O(E) per superstep, the only HITS shape
    that survives 100 TB. Vertices with no in/out edges keep score 0
    via the left-join coalesce.

    Round-10 NEGATIVE result (the lazy-invariant-frame sweep): cutting
    ``verts`` up front — it is consumed 2x per iteration — measured
    FLAT in a same-session cold A/B at sf0.1 (cut 9.5-12.1 s vs uncut
    11.5-12.3 s, within noise). Unlike the Pregel kernels the round-9
    fix targeted, hits_frame unrolls all iterations into ONE plan
    materialized once at the memo boundary, so Catalyst's
    ReusedExchange already dedupes the verts distinct-shuffle across
    all six consumptions; an explicit cut just adds a materialization.
    The Louvain sweeps (per-sweep cut() job boundaries, where reuse
    CANNOT apply) do re-aggregate their invariants per job — cut there
    on the it-scales-not-it-shows-at-fixture rationale documented at
    community_louvain_l1."""
    hub = verts.select("id", F.lit(_HITS_UNIT).cast("long").alias("hub"))
    auth = None
    for _ in range(iters):
        a_raw = (
            edges.join(
                hub.select(F.col("id").alias("src"), "hub"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("raw"))
        )
        a_raw = verts.join(a_raw, "id", "left").select(
            "id", F.coalesce("raw", F.lit(0)).alias("raw")
        )
        auth = _hits_normalize(a_raw, "auth")
        h_raw = (
            edges.join(
                auth.select(F.col("id").alias("dst"), "auth"), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("raw"))
        )
        h_raw = verts.join(h_raw, "id", "left").select(
            "id", F.coalesce("raw", F.lit(0)).alias("raw")
        )
        hub = _hits_normalize(h_raw, "hub")
    return hub.join(auth, "id")


def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the directed user-succession graph — the graph-DB query
    behind "who initiates cascades (hubs) vs who is repeated (
    authorities)", the classic companion ranking to PageRank/Katz.
    Reuses the memoized ``_dedges_memo`` edge frame and memoizes its own
    result like SCC (bounded checkpoint accumulation across bench/sweep
    invocations)."""
    edges = _dedges_memo(spark, sf_dir)
    return _memoized(
        spark,
        "hits",
        sf_dir,
        lambda: hits_frame(user_vertices(spark, sf_dir), edges).select(
            F.col("id").alias("user_id"),
            F.col("hub").alias("hub_e6"),
            F.col("auth").alias("auth_e6"),
            (F.col("hub").cast("double") / F.lit(1e6)).alias("hub"),
            (F.col("auth").cast("double") / F.lit(1e6)).alias("auth"),
        ),
    )


def _hits_sql(iters: int = _HITS_ITERS) -> str:
    u = _HITS_UNIT
    ctes = [
        DIRECTED_EDGES_CTE.strip().rstrip(","),
        f"h0 AS (SELECT v AS id, CAST({u} AS BIGINT) AS hub FROM verts)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"ar{i} AS (SELECT verts.v AS id, COALESCE(s.raw, 0) AS raw "
            f"FROM verts LEFT JOIN (SELECT e.dst AS id, SUM(h.hub) AS raw "
            f"FROM dedges e JOIN h{i - 1} h ON h.id = e.src GROUP BY e.dst"
            f") s ON s.id = verts.v)"
        )
        ctes.append(
            f"a{i} AS (SELECT id, CAST(CAST(raw AS HUGEINT) * {u} // "
            f"(SELECT greatest(max(raw), 1) FROM ar{i}) AS BIGINT) AS auth "
            f"FROM ar{i})"
        )
        ctes.append(
            f"hr{i} AS (SELECT verts.v AS id, COALESCE(s.raw, 0) AS raw "
            f"FROM verts LEFT JOIN (SELECT e.src AS id, SUM(a.auth) AS raw "
            f"FROM dedges e JOIN a{i} a ON a.id = e.dst GROUP BY e.src"
            f") s ON s.id = verts.v)"
        )
        ctes.append(
            f"h{i} AS (SELECT id, CAST(CAST(raw AS HUGEINT) * {u} // "
            f"(SELECT greatest(max(raw), 1) FROM hr{i}) AS BIGINT) AS hub "
            f"FROM hr{i})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT h.id AS user_id, h.hub AS hub_e6, a.auth AS auth_e6, "
        f"CAST(h.hub AS DOUBLE) / 1e6 AS hub, "
        f"CAST(a.auth AS DOUBLE) / 1e6 AS auth "
        f"FROM h{iters} h JOIN a{iters} a ON a.id = h.id"
    )


# ---------------------------------------- harmonic / closeness centrality

_HARM_UNIT = 1_000_000


def harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic + closeness centrality of the ``_ECC_SEEDS`` sampled
    seed vertices: ``harmonic = Σ_{v≠s} 1/d(s,v)`` (µ-unit exact:
    ``Σ UNIT div level``) and Lin-style closeness
    ``(n_reached - 1) / Σ d`` — the standard sampled formulation (exact
    centrality of every vertex is all-pairs BFS and off the table at
    scale; centrality of K probe seeds is one shared multi-source
    traversal). Aggregates the same memoized :func:`msbfs_frame` as
    ``graph_eccentricity`` — zero extra traversal when both run."""
    visited = msbfs_frame(spark, sf_dir)
    return (
        visited.groupBy("seed")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("level") > 0,
                        F.expr(f"CAST({_HARM_UNIT} div level AS BIGINT)"),
                    )
                ),
                F.lit(0),
            ).alias("harmonic_e6"),
            F.sum("level").cast("long").alias("total_dist"),
            F.count(F.lit(1)).alias("n_reached"),
        )
        .select(
            F.col("seed").alias("seed_id"),
            "harmonic_e6",
            "total_dist",
            "n_reached",
            F.when(
                F.col("total_dist") > 0,
                (F.col("n_reached") - F.lit(1)).cast("double")
                / F.col("total_dist").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
        )
    )


_HARMONIC_SQL = f"""
WITH RECURSIVE {USER_EDGES_CTE.strip().rstrip(",")},
seeds AS (SELECT v AS seed FROM verts ORDER BY v LIMIT {_ECC_SEEDS}),
bfs(seed, id, lvl) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT bfs.seed, e.b, bfs.lvl + 1
  FROM bfs JOIN uedges e ON e.a = bfs.id
  WHERE bfs.lvl < {_ECC_MAX_LEVEL}
),
lv AS (SELECT seed, id, min(lvl) AS lvl FROM bfs GROUP BY seed, id)
SELECT seed AS seed_id,
       CAST(COALESCE(SUM(CASE WHEN lvl > 0 THEN {_HARM_UNIT} // lvl END), 0)
            AS BIGINT) AS harmonic_e6,
       CAST(SUM(lvl) AS BIGINT) AS total_dist,
       count(*) AS n_reached,
       CASE WHEN SUM(lvl) > 0
            THEN CAST(count(*) - 1 AS DOUBLE) / CAST(SUM(lvl) AS DOUBLE)
            ELSE 0.0 END AS closeness
FROM lv GROUP BY seed
"""


# --------------------------------------- sampled betweenness (Brandes)

_BC_UNIT = 1_000_000


def betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001, seed-sampled): the
    standard estimator that runs Brandes' dependency accumulation from
    K probe seeds instead of every vertex — exact betweenness is
    all-pairs and off the table at 100 TB; K-seed Brandes is K BFS
    traversals plus K backward sweeps, all frontier-shaped joins.

    Completes the centrality suite (degree / PageRank / Katz / HITS /
    harmonic-closeness / eccentricity) with the one classic member the
    others can't substitute: "who sits ON the shortest paths" rather
    than "who is close" or "who is linked from hubs".

    Determinism: the textbook δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) is a float
    sum whose accumulation order Spark doesn't fix, so this is the
    µ-unit FIXED-POINT Brandes — every edge contribution is the exact
    integer ``σ(v)·(UNIT+δ(w)) div σ(w)`` (widened through
    DECIMAL(38,0)/HUGEINT before the integral divide), and integer sums
    are order-independent, giving bit parity with the unrolled DuckDB
    oracle. Each per-edge floor loses < 1 µ-unit (< 1e-6 of a path).

    Forward pass: σ per BFS level over the memoized
    :func:`msbfs_frame` levels (the traversal eccentricity and
    harmonic-closeness already paid for). Backward pass: one join per
    level from deepest to 1, each O(frontier ⋈ edges) — never
    all-pairs. σ is carried as BIGINT: path counts are bounded by the
    per-level product of frontier degrees; document-scale graphs stay
    far below 2^63 within the level ≤ 20 BFS horizon, and both engines
    use the same width so any overflow would at least split loudly.

    Output: per reached vertex (seeds excluded), the SUM of δ over the
    K seeds in µ-units + as double — the unnormalized sampled estimate;
    at K = n it equals directed-pair Brandes betweenness."""
    def _build() -> DataFrame:
        visited = msbfs_frame(spark, sf_dir)  # (seed, id, level)
        return betweenness_frame(visited, _uedges_memo(spark, sf_dir)).select(
            F.col("id").alias("user_id"),
            "bc_e6",
            (F.col("bc_e6").cast("double") / F.lit(1e6)).alias("bc"),
        )

    # memoized full result like HITS/SCC: the 2·depth pass chain is paid
    # once per (session, sf_dir); true cost shows in graph_scale_check
    return _memoized(spark, "betweenness", sf_dir, _build)


def betweenness_frame(visited: DataFrame, edges: DataFrame) -> DataFrame:
    """Raw fixed-point Brandes passes over a precomputed multi-source
    BFS frame ``visited(seed, id, level)`` and a symmetric edge list
    ``edges(a, b)`` → ``(id, bc_e6)``. Separated from the registered
    key so ``tools/rehearse.py hashed`` can rehearse it on synthetic
    million-vertex graphs; see :func:`betweenness_sampled` for the
    algorithm notes."""
    lmax = visited.agg(F.max("level")).collect()[0][0] or 0
    empty = visited.sparkSession.createDataFrame(
        [], "id bigint, bc_e6 bigint"
    )
    if lmax == 0:
        return empty
    # forward: shortest-path counts sigma, level by level
    cur = visited.where(F.col("level") == 0).select(
        "seed", "id", F.lit(1).cast("long").alias("sigma")
    )
    sig = {0: cur}
    for lvl in range(1, lmax + 1):
        tgt = visited.where(F.col("level") == lvl).select("seed", "id")
        cur = (
            cur.join(edges.select(F.col("a").alias("id"), "b"), "id")
            .select("seed", F.col("b").alias("id"), "sigma")
            .join(tgt, ["seed", "id"])
            .groupBy("seed", "id")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .transform(cut)
        )
        sig[lvl] = cur
    # backward: fixed-point dependency accumulation, deepest level first
    prev = sig[lmax].withColumn("delta", F.lit(0).cast("long"))
    deltas = [prev.select("seed", "id", "delta")]
    for lvl in range(lmax - 1, 0, -1):
        contrib = (
            sig[lvl]
            .join(edges.select(F.col("a").alias("id"), "b"), "id")
            .join(
                prev.select(
                    "seed",
                    F.col("id").alias("b"),
                    F.col("sigma").alias("wsigma"),
                    F.col("delta").alias("wdelta"),
                ),
                ["seed", "b"],
            )
            .groupBy("seed", "id")
            .agg(
                F.sum(
                    F.expr(
                        f"CAST(CAST(sigma AS DECIMAL(38,0)) * "
                        f"({_BC_UNIT} + wdelta) div wsigma AS BIGINT)"
                    )
                ).alias("dsum")
            )
        )
        prev = (
            sig[lvl]
            .join(contrib, ["seed", "id"], "left")
            .select(
                "seed",
                "id",
                "sigma",
                F.coalesce("dsum", F.lit(0)).cast("long").alias("delta"),
            )
            .transform(cut)
        )
        deltas.append(prev.select("seed", "id", "delta"))
    allx = deltas[0]
    for d in deltas[1:]:
        allx = allx.unionByName(d)
    return allx.groupBy("id").agg(
        F.sum("delta").cast("long").alias("bc_e6")
    )


def _betweenness_sql(levels: int = _ECC_MAX_LEVEL) -> str:
    """Unrolled DuckDB twin of :func:`betweenness_sampled`: recursive
    BFS for levels (shared with _HARMONIC_SQL/_ECC_SQL), then one
    MATERIALIZED CTE per level for the σ forward pass and the δ
    backward pass (MATERIALIZED is load-bearing: DuckDB inlines
    referenced CTEs — see the k-truss too-many-open-files note). CTEs
    beyond the graph's true depth are empty and cost nothing."""
    u = _BC_UNIT
    parts = [
        f"seeds AS (SELECT v AS seed FROM verts ORDER BY v LIMIT {_ECC_SEEDS})",
        (
            "bfs(seed, id, lvl) AS (\n"
            "  SELECT seed, seed, 0 FROM seeds\n"
            "  UNION\n"
            "  SELECT bfs.seed, e.b, bfs.lvl + 1\n"
            "  FROM bfs JOIN uedges e ON e.a = bfs.id\n"
            f"  WHERE bfs.lvl < {levels})"
        ),
        (
            "lv AS MATERIALIZED (SELECT seed, id, min(lvl) AS lvl "
            "FROM bfs GROUP BY seed, id)"
        ),
        (
            "sig0 AS MATERIALIZED (SELECT seed, id, CAST(1 AS BIGINT) "
            "AS sigma FROM lv WHERE lvl = 0)"
        ),
    ]
    for lvl in range(1, levels + 1):
        parts.append(
            f"sig{lvl} AS MATERIALIZED (SELECT s.seed, e.b AS id, "
            f"CAST(SUM(s.sigma) AS BIGINT) AS sigma "
            f"FROM sig{lvl - 1} s JOIN uedges e ON e.a = s.id "
            f"JOIN lv t ON t.seed = s.seed AND t.id = e.b "
            f"AND t.lvl = {lvl} GROUP BY s.seed, e.b)"
        )
    parts.append(
        f"d{levels} AS (SELECT seed, id, sigma, CAST(0 AS BIGINT) "
        f"AS delta FROM sig{levels})"
    )
    for lvl in range(levels - 1, 0, -1):
        parts.append(
            f"d{lvl} AS MATERIALIZED (SELECT v.seed, v.id, v.sigma, "
            f"CAST(COALESCE(SUM(CAST(v.sigma AS HUGEINT) * "
            f"({u} + w.delta) // w.sigma), 0) AS BIGINT) AS delta "
            f"FROM sig{lvl} v "
            f"LEFT JOIN uedges e ON e.a = v.id "
            f"LEFT JOIN d{lvl + 1} w ON w.seed = v.seed AND w.id = e.b "
            f"GROUP BY v.seed, v.id, v.sigma)"
        )
    union = " UNION ALL ".join(
        f"SELECT seed, id, delta FROM d{lvl}" for lvl in range(1, levels + 1)
    )
    return (
        "WITH RECURSIVE "
        + USER_EDGES_CTE.strip().rstrip(",")
        + ",\n"
        + ",\n".join(parts)
        + "\nSELECT id AS user_id, CAST(SUM(delta) AS BIGINT) AS bc_e6, "
        "CAST(SUM(delta) AS DOUBLE) / 1e6 AS bc "
        f"FROM ({union}) GROUP BY id"
    )


# ------------------------------------------------ degree assortativity


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the symmetric user graph:
    Pearson correlation of endpoint degrees over the directed edge
    list. Social graphs are assortative (hubs befriend hubs), web/
    dependency graphs disassortative — the one-number mixing summary a
    graph DB reports next to the degree distribution.

    Exact path: degrees from one groupBy, two equi-joins to annotate
    each edge with (deg_a, deg_b), then INTEGER moment sums widened to
    DECIMAL(38,0) — by symmetry Sx = Sy and Sxx = Syy, so
    ``r = (M·Sxy − Sx²) / (M·Sxx − Sx²)`` with one double divide at the
    end (both engines cast the same exact decimals). Linear, two
    shuffles, no iteration — safe at any scale. The divide is guarded
    (den = 0 on regular/empty graphs -> 0.0 on both engines; Spark
    would otherwise yield NaN while DuckDB yields NULL, breaking hash
    parity on degenerate inputs — same guard as harmonic_closeness)."""
    edges = _uedges_memo(spark, sf_dir)
    deg = _degrees(edges, "a", "a", "d")
    annotated = (
        edges.join(deg.select(F.col("a"), F.col("d").alias("da")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("d").alias("db")), "b"
        )
        .select(
            F.col("da").cast("decimal(38,0)").alias("da"),
            F.col("db").cast("decimal(38,0)").alias("db"),
        )
    )
    sums = annotated.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("da").alias("sx"),
        F.sum((F.col("da") * F.col("da")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("da") * F.col("db")).cast("decimal(38,0)")).alias("sxy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    den = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    return sums.select(
        F.col("m").cast("long").alias("m_edges"),
        F.col("sx").cast("long").alias("s_deg"),
        F.col("sxx").cast("long").alias("s_deg_sq"),
        F.col("sxy").cast("long").alias("s_deg_prod"),
        F.when(
            den != F.lit(0),
            num.cast("string").cast("double")
            / den.cast("string").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
    )


_ASSORT_SQL = f"""
WITH {USER_EDGES_CTE.strip().rstrip(",")},
deg AS (SELECT a, CAST(count(*) AS HUGEINT) AS d FROM uedges GROUP BY a),
ann AS (
  SELECT da.d AS da, db.d AS db
  FROM uedges e JOIN deg da ON da.a = e.a JOIN deg db ON db.a = e.b
),
sums AS (
  SELECT CAST(count(*) AS HUGEINT) AS m, SUM(da) AS sx,
         SUM(da * da) AS sxx, SUM(da * db) AS sxy
  FROM ann
)
SELECT CAST(m AS BIGINT) AS m_edges, CAST(sx AS BIGINT) AS s_deg,
       CAST(sxx AS BIGINT) AS s_deg_sq, CAST(sxy AS BIGINT) AS s_deg_prod,
       CASE WHEN m * sxx - sx * sx <> 0
            THEN CAST(m * sxy - sx * sx AS DOUBLE)
                   / CAST(m * sxx - sx * sx AS DOUBLE)
            ELSE 0.0 END AS assortativity
FROM sums
"""


# ------------------------------------------------ community modularity


def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities on the symmetric user
    graph — the quality score a graph DB reports next to the community
    assignment (Q = Σ_c [e_c/m − (D_c/m)²] over directed edge count
    m): per community the intra-edge count, degree mass, member count,
    and exact integer contribution ``e_c·m − D_c²``; the global Q is
    one double divide of exact HUGEINT/DECIMAL sums, repeated per row
    (same pattern as eccentricity's diameter_lb).

    Shape: LPA labels (already linear Pregel-style rounds) + two
    equi-joins to label both edge endpoints + two grouped aggregates —
    linear, no new shuffle pattern; exact arithmetic keeps the
    iterative pipeline value-hash-oracled end to end."""
    from graph_database_akkatyped_spark.operators.algos import (
        label_propagation,
    )

    labels = label_propagation(spark, sf_dir).select(
        F.col("user_id").alias("v"), F.col("label").alias("l")
    )
    edges = _uedges_memo(spark, sf_dir)
    deg = _degrees(edges, "a", "v", "d")
    e_in = (
        edges.join(
            labels.select(F.col("v").alias("a"), F.col("l").alias("la")), "a"
        )
        .join(
            labels.select(F.col("v").alias("b"), F.col("l").alias("lb")), "b"
        )
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    dsum = (
        labels.join(deg, "v", "left")
        .groupBy(F.col("l").alias("label"))
        .agg(
            F.coalesce(F.sum("d"), F.lit(0)).alias("d_sum"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    m2 = edges.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m"))
    per_c = (
        dsum.join(e_in, "label", "left")
        .select(
            "label",
            "n_members",
            F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"),
            "d_sum",
        )
        .crossJoin(F.broadcast(m2))
        .select(
            "label",
            "n_members",
            "e_in",
            "d_sum",
            (
                F.col("e_in").cast("decimal(38,0)") * F.col("m")
                - F.col("d_sum").cast("decimal(38,0)")
                * F.col("d_sum").cast("decimal(38,0)")
            ).cast("decimal(38,0)").alias("contrib"),
            F.col("m"),
        )
    )
    tot = per_c.agg(
        F.sum("contrib").cast("decimal(38,0)").alias("num"),
        F.max("m").alias("m"),
    ).select(
        (
            F.col("num").cast("string").cast("double")
            / (F.col("m") * F.col("m")).cast("string").cast("double")
        ).alias("modularity")
    )
    return per_c.select(
        "label",
        "n_members",
        "e_in",
        "d_sum",
    ).crossJoin(F.broadcast(tot))


def _modularity_sql() -> str:
    from graph_database_akkatyped_spark.operators.algos import _lpa_sql

    # reuse the LPA oracle's CTE chain verbatim; its final layer is l4
    lpa_ctes = _lpa_sql(4).rsplit("\nSELECT", 1)[0]
    return f"""{lpa_ctes},
lab AS (SELECT v, l FROM l4),
deg AS (SELECT a AS v, CAST(count(*) AS HUGEINT) AS d FROM uedges GROUP BY a),
m2 AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM uedges),
ein AS (
  SELECT la.l AS label, CAST(count(*) AS HUGEINT) AS e_in
  FROM uedges e JOIN lab la ON la.v = e.a JOIN lab lb ON lb.v = e.b
  WHERE la.l = lb.l GROUP BY la.l
),
per_c AS (
  SELECT la.l AS label, count(*) AS n_members,
         COALESCE(SUM(d.d), 0) AS d_sum
  FROM lab la LEFT JOIN deg d ON d.v = la.v GROUP BY la.l
),
rows_ AS (
  SELECT p.label, p.n_members,
         CAST(COALESCE(e.e_in, 0) AS BIGINT) AS e_in,
         CAST(p.d_sum AS BIGINT) AS d_sum,
         CAST(COALESCE(e.e_in, 0) AS HUGEINT) * (SELECT m FROM m2)
           - p.d_sum * p.d_sum AS contrib
  FROM per_c p LEFT JOIN ein e ON e.label = p.label
)
SELECT label, n_members, e_in, d_sum,
       (SELECT CAST(SUM(contrib) AS DOUBLE) FROM rows_)
         / CAST((SELECT m * m FROM m2) AS DOUBLE) AS modularity
FROM rows_
"""


# ------------------------------------------ one-level Louvain (2 sweeps)

_LOUVAIN_SWEEPS = 2


def _louvain_sweep(
    labels: DataFrame, edges: DataFrame, deg: DataFrame, m2: DataFrame
) -> DataFrame:
    """One synchronous modularity-gain sweep: every vertex evaluates
    moving to each neighbor community, scored by the exact integer
    gain surrogate H(c) = e_vc·m − d_v·D'_c where D'_c excludes v's
    own degree from its current community — the terms of ΔQ·m² that
    vary with the candidate c (the e_va/D_a terms constant in c cancel
    in the argmax). All vertices move simultaneously (deterministic —
    no sequential vertex order to pin); a move needs a STRICTLY
    positive improvement over staying AND a target community id
    SMALLER than the current one. The monotone-id guard is what makes
    the synchronous sweep sound: unrestricted simultaneous moves cycle
    (in a clique every vertex's best target is the min-id singleton
    while the min vertex itself hops away — measured Q < 0 on the
    fixtures), whereas with it labels are non-increasing per vertex,
    the min-id anchor of every dense group is immovable, and groups
    accrete onto anchors exactly like the parallel-Louvain "min label"
    heuristic (Grappolo's tie rule generalized to the move rule).

    WEIGHTED form (round 6, for the multi-level pass): ``edges``
    carries an integer weight column ``w`` (level 1 passes w = 1 —
    bit-identical to the unweighted round-5 semantics); e_vc sums w,
    and self-loops (a = b, present only on the contracted graph) are
    excluded from e_vc — a super-vertex's self-loop moves WITH it, so
    its term is constant across candidates and must not distort the
    stay-vs-move comparison — while still counting toward the weighted
    degree d (a super-vertex's degree is the sum of its members').
    BIGINT bound: |H| ≤ d_max·m — at the fixture graphs ≤ 1e9; a
    100 TB run widens the two products to DECIMAL(38,0) (same recipe
    as PageRank/HITS, ~1e19 headroom)."""
    lab_b = labels.select(F.col("v").alias("b"), F.col("l").alias("c"))
    evc = (
        edges.where(F.col("a") != F.col("b"))
        .join(lab_b, "b")
        .groupBy(F.col("a").alias("v"), "c")
        .agg(F.sum("w").alias("e_vc"))
    )
    own = labels.select("v", F.col("l").alias("c")).withColumn(
        "e_vc", F.lit(0).cast("long")
    )
    cand = (
        evc.unionByName(own)
        .groupBy("v", "c")
        .agg(F.sum("e_vc").alias("e_vc"))
    )
    dc = (
        labels.join(deg, "v", "left")
        .groupBy(F.col("l").alias("c"))
        .agg(F.coalesce(F.sum("d"), F.lit(0)).alias("dc"))
    )
    scored = (
        cand.join(labels, "v")
        .join(deg, "v", "left")
        .withColumn("d", F.coalesce("d", F.lit(0)))
        .join(dc, "c")
        .crossJoin(F.broadcast(m2))
        .select(
            "v",
            "c",
            "l",
            (
                F.col("e_vc") * F.col("m")
                - F.col("d")
                * (
                    F.col("dc")
                    - F.when(F.col("c") == F.col("l"), F.col("d")).otherwise(
                        F.lit(0)
                    )
                )
            ).alias("h"),
        )
    )
    best = (
        scored.where(F.col("c") < F.col("l"))
        .groupBy("v")
        .agg(
            F.expr("max_by(c, struct(h, -c))").alias("best_c"),
            F.max(F.struct("h", (-F.col("c")).alias("nc")))
            .getField("h")
            .alias("best_h"),
        )
    )
    stay = scored.where(F.col("c") == F.col("l")).select(
        "v", F.col("l").alias("cur"), F.col("h").alias("h_stay")
    )
    return stay.join(best, "v", "left").select(
        "v",
        F.when(
            F.col("best_h").isNotNull()
            & (F.col("best_h") > F.col("h_stay")),
            F.col("best_c"),
        )
        .otherwise(F.col("cur"))
        .alias("l"),
    )


def community_louvain_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-level Louvain community detection on the symmetric user
    graph: ``_LOUVAIN_SWEEPS`` synchronous modularity-gain sweeps from
    the singleton partition — the standard stronger-than-LPA community
    method (LPA optimizes nothing; this climbs Newman modularity
    directly). Each sweep is two equi-joins + two grouped aggregates,
    the same linear shuffle shape as LPA; the full multi-level Louvain
    adds graph contraction between levels — level 1 is where the bulk
    of the modularity is won (tests pin Q(louvain) ≥ Q(LPA) on the
    fixtures). Deterministic by construction (synchronous moves,
    integer scores, min-id ties), so the whole pipeline value-hash
    matches the unrolled SQL oracle."""
    verts = user_vertices(spark, sf_dir).select(F.col("id").alias("v"))
    edges = _uedges_memo(spark, sf_dir).select(
        "a", "b", F.lit(1).cast("long").alias("w")
    )
    # deg/m2 are sweep-invariant and each sweep's job re-aggregates
    # them from the edge checkpoint (per-sweep cut() boundaries defeat
    # ReusedExchange) — cut once. Measured FLAT at sf0.1 (6.0-7.1 s vs
    # 6.5 s same-session cold: re-aggregating a checkpointed fixture
    # edge list is cheap); kept because at corpus scale each avoided
    # re-aggregation is a full edge-list shuffle, paid (2*sweeps-1)x
    deg = cut(edges.groupBy(F.col("a").alias("v")).agg(F.sum("w").alias("d")))
    m2 = cut(edges.agg(F.sum("w").alias("m")))
    labels = fixpoint(
        lambda labels, rnd: _louvain_sweep(labels, edges, deg, m2),
        verts.select("v", F.col("v").alias("l")),
        max_iter=_LOUVAIN_SWEEPS,
        name="community_louvain_l1",
    )
    return labels.select(
        F.col("v").alias("user_id"), F.col("l").alias("community")
    )


def community_louvain_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-level Louvain: the level-1 sweeps of
    ``community_louvain_l1``, then graph CONTRACTION — communities
    become super-vertices, inter-community edge multiplicities become
    integer weights, intra-community edges become self-loops — and a
    second round of weighted sweeps on the contracted graph, with the
    final labels projected back to the original vertices. This is the
    step that wins the modularity level 1 leaves on the table when two
    adjacent communities should merge but no single vertex move is
    positive (the whole-community move is).

    Scale shape: the contraction is one double equi-join + grouped sum
    over the level-1 edge list (linear, same shuffle key the sweeps
    already use), and level 2 runs on a graph with #communities
    vertices — typically orders of magnitude smaller, so its sweeps
    are nearly free; the classic Louvain cost profile (level 1
    dominates) is preserved. Total m is invariant under contraction
    (sum of weights = original directed edge count), so the integer
    gain surrogate needs no rescaling and the whole two-level pipeline
    stays bit-deterministic → full SQL-hash oracle parity."""
    verts = user_vertices(spark, sf_dir).select(F.col("id").alias("v"))
    edges = _uedges_memo(spark, sf_dir).select(
        "a", "b", F.lit(1).cast("long").alias("w")
    )
    return louvain_multi_frame(verts, edges).select(
        F.col("v").alias("user_id"), F.col("l").alias("community")
    )


def louvain_multi_frame(
    verts: DataFrame, edges: DataFrame, sweeps: int = _LOUVAIN_SWEEPS
) -> DataFrame:
    """Frame-level two-level Louvain kernel (the body of
    ``community_louvain_multi``, extracted for the large-graph
    rehearsal in ``tools/rehearse.py planted`` the same way
    ``mis_frame`` was in round 6). ``verts``: (v); ``edges``: directed
    symmetric (a, b, w) with integer weights. Returns (v, l)."""
    # deg/m2 are sweep-invariant and each sweep's job re-aggregates
    # them from the edge checkpoint (per-sweep cut() boundaries defeat
    # ReusedExchange) — cut once. Measured FLAT at sf0.1 (6.0-7.1 s vs
    # 6.5 s same-session cold: re-aggregating a checkpointed fixture
    # edge list is cheap); kept because at corpus scale each avoided
    # re-aggregation is a full edge-list shuffle, paid (2*sweeps-1)x
    deg = cut(edges.groupBy(F.col("a").alias("v")).agg(F.sum("w").alias("d")))
    m2 = cut(edges.agg(F.sum("w").alias("m")))
    labels = fixpoint(
        lambda labels, rnd: _louvain_sweep(labels, edges, deg, m2),
        verts.select("v", F.col("v").alias("l")),
        max_iter=sweeps,
        name="louvain_multi_frame: level 1",
    )
    # contract: super-vertex = level-1 community, w = edge multiplicity
    la = labels.select(F.col("v").alias("a"), F.col("l").alias("ca"))
    lb = labels.select(F.col("v").alias("b"), F.col("l").alias("cb"))
    cedges = cut(
        edges.join(la, "a")
        .join(lb, "b")
        .groupBy(F.col("ca").alias("a"), F.col("cb").alias("b"))
        .agg(F.sum("w").alias("w"))
    )
    cdeg = cut(
        cedges.groupBy(F.col("a").alias("v")).agg(F.sum("w").alias("d"))
    )
    clabels = fixpoint(
        lambda clabels, rnd: _louvain_sweep(clabels, cedges, cdeg, m2),
        labels.select(F.col("l").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("l")),
        max_iter=sweeps,
        name="louvain_multi_frame: level 2",
    )
    proj = clabels.select(F.col("v").alias("l"), F.col("l").alias("l2"))
    return labels.join(proj, "l").select(
        "v", F.col("l2").alias("l")
    )


def _louvain_sql(sweeps: int = _LOUVAIN_SWEEPS) -> str:
    ctes = [
        USER_EDGES_CTE.strip(),
        "deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d "
        "FROM uedges GROUP BY a)",
        "m2 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM uedges)",
        "l0 AS (SELECT v, v AS l FROM verts)",
    ]
    for i in range(1, sweeps + 1):
        p = f"l{i - 1}"
        ctes.append(
            f"evc{i} AS (SELECT e.a AS v, lb.l AS c, "
            f"CAST(count(*) AS BIGINT) AS e_vc "
            f"FROM uedges e JOIN {p} lb ON lb.v = e.b GROUP BY e.a, lb.l)"
        )
        ctes.append(
            f"cand{i} AS (SELECT v, c, CAST(SUM(e_vc) AS BIGINT) AS e_vc "
            f"FROM (SELECT v, c, e_vc FROM evc{i} "
            f"UNION ALL SELECT v, l AS c, 0 FROM {p}) GROUP BY v, c)"
        )
        ctes.append(
            f"dc{i} AS (SELECT {p}.l AS c, "
            f"CAST(COALESCE(SUM(deg.d), 0) AS BIGINT) AS dc "
            f"FROM {p} LEFT JOIN deg ON deg.v = {p}.v GROUP BY {p}.l)"
        )
        ctes.append(
            f"sc{i} AS (SELECT cd.v, cd.c, lb.l, "
            f"cd.e_vc * (SELECT m FROM m2) - COALESCE(dg.d, 0) * "
            f"(dcx.dc - CASE WHEN cd.c = lb.l "
            f"THEN COALESCE(dg.d, 0) ELSE 0 END) AS h "
            f"FROM cand{i} cd JOIN {p} lb ON lb.v = cd.v "
            f"LEFT JOIN deg dg ON dg.v = cd.v "
            f"JOIN dc{i} dcx ON dcx.c = cd.c)"
        )
        ctes.append(
            f"best{i} AS (SELECT v, c AS best_c, h AS best_h FROM sc{i} "
            f"WHERE c < l "
            f"QUALIFY row_number() OVER "
            f"(PARTITION BY v ORDER BY h DESC, c ASC) = 1)"
        )
        ctes.append(
            f"l{i} AS (SELECT s.v, CASE WHEN b.best_h IS NOT NULL "
            f"AND b.best_h > s.h THEN b.best_c ELSE s.l END AS l "
            f"FROM sc{i} s LEFT JOIN best{i} b ON b.v = s.v "
            f"WHERE s.c = s.l)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v AS user_id, l AS community FROM l{sweeps}"
    )


def _louvain_w_sweep_ctes(
    pref: str, i: int, edges: str, deg: str, prev: str
) -> list[str]:
    """CTEs for one WEIGHTED synchronous sweep producing ``{pref}l{i}``
    from labels ``prev`` over edge CTE ``edges`` (a, b, w) with weighted
    degree CTE ``deg`` (v, d). Mirrors the weighted _louvain_sweep:
    e_vc sums w and excludes self-loops; d and m include them.
    sc/l are MATERIALIZED (load-bearing — each is referenced more than
    once, and DuckDB inlines referenced CTEs, so an unmaterialized
    two-level chain re-derives the events self-join exponentially)."""
    return [
        f"{pref}evc{i} AS (SELECT e.a AS v, lb.l AS c, "
        f"CAST(SUM(e.w) AS BIGINT) AS e_vc "
        f"FROM {edges} e JOIN {prev} lb ON lb.v = e.b "
        f"WHERE e.a <> e.b GROUP BY e.a, lb.l)",
        f"{pref}cand{i} AS (SELECT v, c, CAST(SUM(e_vc) AS BIGINT) AS e_vc "
        f"FROM (SELECT v, c, e_vc FROM {pref}evc{i} "
        f"UNION ALL SELECT v, l AS c, 0 FROM {prev}) GROUP BY v, c)",
        f"{pref}dc{i} AS (SELECT {prev}.l AS c, "
        f"CAST(COALESCE(SUM({deg}.d), 0) AS BIGINT) AS dc "
        f"FROM {prev} LEFT JOIN {deg} ON {deg}.v = {prev}.v "
        f"GROUP BY {prev}.l)",
        f"{pref}sc{i} AS MATERIALIZED (SELECT cd.v, cd.c, lb.l, "
        f"cd.e_vc * (SELECT m FROM m2) - COALESCE(dg.d, 0) * "
        f"({pref}dc{i}.dc - CASE WHEN cd.c = lb.l "
        f"THEN COALESCE(dg.d, 0) ELSE 0 END) AS h "
        f"FROM {pref}cand{i} cd JOIN {prev} lb ON lb.v = cd.v "
        f"LEFT JOIN {deg} dg ON dg.v = cd.v "
        f"JOIN {pref}dc{i} ON {pref}dc{i}.c = cd.c)",
        f"{pref}best{i} AS (SELECT v, c AS best_c, h AS best_h "
        f"FROM {pref}sc{i} WHERE c < l "
        f"QUALIFY row_number() OVER "
        f"(PARTITION BY v ORDER BY h DESC, c ASC) = 1)",
        f"{pref}l{i} AS MATERIALIZED (SELECT s.v, "
        f"CASE WHEN b.best_h IS NOT NULL "
        f"AND b.best_h > s.h THEN b.best_c ELSE s.l END AS l "
        f"FROM {pref}sc{i} s LEFT JOIN {pref}best{i} b ON b.v = s.v "
        f"WHERE s.c = s.l)",
    ]


def _louvain_multi_sql(sweeps: int = _LOUVAIN_SWEEPS) -> str:
    ctes = [
        USER_EDGES_CTE.strip(),
        "ew AS MATERIALIZED (SELECT a, b, CAST(1 AS BIGINT) AS w "
        "FROM uedges)",
        "degA AS (SELECT a AS v, CAST(SUM(w) AS BIGINT) AS d "
        "FROM ew GROUP BY a)",
        "m2 AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM ew)",
        "A_l0 AS (SELECT v, v AS l FROM verts)",
    ]
    for i in range(1, sweeps + 1):
        ctes += _louvain_w_sweep_ctes("A_", i, "ew", "degA", f"A_l{i - 1}")
    top = f"A_l{sweeps}"
    ctes += [
        f"cedges AS MATERIALIZED (SELECT la.l AS a, lb.l AS b, "
        f"CAST(SUM(e.w) AS BIGINT) AS w "
        f"FROM ew e JOIN {top} la ON la.v = e.a "
        f"JOIN {top} lb ON lb.v = e.b GROUP BY la.l, lb.l)",
        "degB AS (SELECT a AS v, CAST(SUM(w) AS BIGINT) AS d "
        "FROM cedges GROUP BY a)",
        f"B_l0 AS (SELECT DISTINCT l AS v, l AS l FROM {top})",
    ]
    for i in range(1, sweeps + 1):
        ctes += _louvain_w_sweep_ctes(
            "B_", i, "cedges", "degB", f"B_l{i - 1}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT a.v AS user_id, b.l AS community "
        f"FROM {top} a JOIN B_l{sweeps} b ON b.v = a.l"
    )


# ---------------------------------------------------------- reciprocity


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed succession graph: the fraction of
    edges (a→b) whose reverse (b→a) also exists — the one-number
    "follow-back rate" a social graph DB reports, and the aggregate
    twin of the per-vertex ``motif_find_nonmutual``. One self-semi-join
    on the (reversed) edge key + two counts — linear, and the semi-join
    shuffles once on the same key the edge frame already hashes by."""
    edges = _dedges_memo(spark, sf_dir)
    recip = edges.join(_mirror(edges, "src", "dst"), ["src", "dst"], "left_semi")
    tot = edges.agg(F.count(F.lit(1)).alias("m_edges"))
    rec = recip.agg(F.count(F.lit(1)).alias("m_reciprocal"))
    return tot.crossJoin(F.broadcast(rec)).select(
        "m_edges",
        "m_reciprocal",
        F.when(
            F.col("m_edges") != F.lit(0),
            F.col("m_reciprocal").cast("double")
            / F.col("m_edges").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("reciprocity"),
    )


_RECIPROCITY_SQL = f"""
WITH {DIRECTED_EDGES_CTE.strip().rstrip(",")},
rec AS (
  SELECT count(*) AS m_reciprocal
  FROM dedges e
  WHERE EXISTS (SELECT 1 FROM dedges r
                WHERE r.src = e.dst AND r.dst = e.src)
)
SELECT (SELECT count(*) FROM dedges) AS m_edges,
       m_reciprocal,
       CASE WHEN (SELECT count(*) FROM dedges) <> 0
            THEN CAST(m_reciprocal AS DOUBLE)
                   / CAST((SELECT count(*) FROM dedges) AS DOUBLE)
            ELSE 0.0 END AS reciprocity
FROM rec
"""


QUERIES = {
    "hits_hubs_authorities": hits_hubs_authorities,
    "harmonic_closeness": harmonic_closeness,
    "betweenness_sampled": betweenness_sampled,
    "degree_assortativity": degree_assortativity,
    "community_modularity": community_modularity,
    "community_louvain_l1": community_louvain_l1,
    "community_louvain_multi": community_louvain_multi,
    "graph_reciprocity": graph_reciprocity,
}

ORACLES = {
    "hits_hubs_authorities": _hits_sql(),
    "harmonic_closeness": _HARMONIC_SQL,
    "betweenness_sampled": _betweenness_sql(),
    "degree_assortativity": _ASSORT_SQL,
    "community_modularity": _modularity_sql(),
    "community_louvain_l1": _louvain_sql(),
    "community_louvain_multi": _louvain_multi_sql(),
    "graph_reciprocity": _RECIPROCITY_SQL,
}
