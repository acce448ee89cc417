"""Motif pattern matching — the graph-DB ``find()`` query surface.

A GraphFrames-style structural pattern language compiled to DataFrame
joins, so Catalyst plans (reorders, broadcasts, pushes filters into)
the motif search like any relational query:

    find(edges, "(a)-[e:bought]->(p); (b)-[:bought]->(p)")

Grammar (subset of the GraphFrames motif grammar):

    pattern  := term (';' term)*
    term     := edge | '!' edge
    edge     := '(' [vname] ')' '-[' [ename][':' rel] ']->' '(' [vname] ')'

- named vertices bind across terms (the join keys); anonymous ``()``
  vertices are existential and dropped from the output;
- a named edge ``[e:bought]`` exposes ``e_rel`` / ``e_weight`` columns
  (when the edge frame carries them);
- ``!`` negates a term: the bound pair must have NO such edge
  (compiled to an anti-join; both endpoints must already be bound by
  positive terms).

Scale shape: each positive term is one equi-join on vertex ids — the
same shuffle family as every relational join here, skew-handled by AQE,
broadcast when one side is small. Negation is an anti-join, never a
filter-after-crossjoin. No interpreter runs per row; the pattern
compiles ONCE to a logical plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_database_akkatyped_spark.caching import memoized_checkpoint
from graph_database_akkatyped_spark.operators.graph_build import _degrees, build_edges
from graph_database_akkatyped_spark.operators.graph_extras import _dedges_memo

_TERM_RE = re.compile(
    r"^\s*(!?)\s*\(\s*(\w*)\s*\)\s*-\s*\[\s*(\w*)\s*(?::\s*(\w+))?\s*\]\s*->"
    r"\s*\(\s*(\w*)\s*\)\s*$"
)


def _parse(pattern: str) -> list[tuple[bool, str, str, str | None, str]]:
    terms = []
    for raw in pattern.split(";"):
        m = _TERM_RE.match(raw)
        if not m:
            raise ValueError(f"unparseable motif term: {raw!r}")
        neg, src, ename, rel, dst = m.groups()
        if neg and ename:
            raise ValueError("negated terms cannot bind edge names")
        terms.append((bool(neg), src, ename, rel, dst))
    return terms


def find(edges: DataFrame, pattern: str) -> DataFrame:
    """Match ``pattern`` against an edge frame with columns
    ``src, dst`` (optionally ``rel``, ``weight``). Returns one row per
    match with a column per named vertex and ``<e>_rel``/``<e>_weight``
    per named edge."""
    has_rel = "rel" in edges.columns
    has_weight = "weight" in edges.columns
    terms = _parse(pattern)
    anon = 0
    result: DataFrame | None = None
    bound: set[str] = set()
    negations = []
    for neg, src, ename, rel, dst in terms:
        if not src:
            anon += 1
            src = f"__anon{anon}"
        if not dst:
            anon += 1
            dst = f"__anon{anon}"
        if neg:
            negations.append((src, rel, dst))
            continue
        e = edges
        if rel is not None:
            if not has_rel:
                raise ValueError("edge frame has no 'rel' column")
            e = e.where(F.col("rel") == rel)
        cols = [F.col("src").alias(src), F.col("dst").alias(dst)]
        if ename:
            if has_rel:
                cols.append(F.col("rel").alias(f"{ename}_rel"))
            if has_weight:
                cols.append(F.col("weight").alias(f"{ename}_weight"))
        term_df = e.select(*cols)
        if result is None:
            result = term_df
        else:
            shared = sorted(bound & {src, dst})
            if shared:
                result = result.join(term_df, shared)
            else:
                result = result.crossJoin(term_df)
        bound |= {src, dst}
    if result is None:
        raise ValueError("pattern needs at least one positive term")
    for src, rel, dst in negations:
        if src not in bound or dst not in bound:
            raise ValueError(
                f"negated term references unbound vertices: ({src})->({dst})"
            )
        e = edges
        if rel is not None:
            e = e.where(F.col("rel") == rel)
        result = result.join(
            e.select(F.col("src").alias(src), F.col("dst").alias(dst)),
            [src, dst],
            "left_anti",
        )
    drop = [c for c in result.columns if c.startswith("__anon")]
    return result.drop(*drop)


# ------------------------------------------------- registered motif keys


def _bedges_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized property-graph edge list (``build_edges``)."""
    return memoized_checkpoint(
        spark, "bedges", sf_dir, lambda: build_edges(spark, sf_dir)
    )


def motif_cosupplied_enumerated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair-ENUMERATING plan for supplier co-usage — the raw motif
    match (customers a < b both sourcing from s) aggregated per
    supplier. Quadratic per supplier by construction: kept ONLY as the
    compiler exercise / equality witness for the registered
    combinatorial plan (tests/test_motif.py pins plan equality on the
    small fixture); never register this shape — a hot supplier with
    10⁵ customers is 5·10⁹ intermediate rows."""
    pattern = "(a)-[:sourced]->(s); (b)-[:sourced]->(s)"
    matches = find(_bedges_memo(spark, sf_dir), pattern).where(F.col("a") < F.col("b"))
    return _degrees(matches, "s", "s", "n_pairs")


def motif_find_cosupplied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-usage: # customer pairs a < b both sourcing from
    supplier s. The a<b pair count per supplier depends ONLY on the
    per-supplier customer degree — C(n_s, 2) = n_s·(n_s−1)/2 — so the
    registered plan is one hash aggregate over the sourced edge list,
    never materializing a single pair: O(edges) at any scale where the
    enumerated motif join is quadratic per supplier. The oracle is
    unchanged from the enumerating version (the answer is identical);
    :func:`motif_cosupplied_enumerated` keeps the raw motif-compiler
    path exercised, with plan equality pinned in tests/test_motif.py."""
    sourced = _bedges_memo(spark, sf_dir).where(F.col("rel") == "sourced")
    deg = _degrees(sourced, "dst", "s", "n_cust")
    return deg.where(F.col("n_cust") >= 2).select(
        "s",
        (F.col("n_cust") * (F.col("n_cust") - 1) / 2)
        .cast("long")
        .alias("n_pairs"),
    )


_MOTIF_COSUPPLIED_SQL = """
WITH sourced AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
         's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT e1.dst AS s, count(*) AS n_pairs
FROM sourced e1 JOIN sourced e2 ON e1.dst = e2.dst AND e1.src < e2.src
GROUP BY e1.dst
"""


def motif_find_nonmutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation motif on the directed succession graph: ordered pairs
    (a)->(b) with NO reciprocal (b)->(a) edge — "who follows whom
    without follow-back", per source vertex. The negated term compiles
    to an anti-join (never a filter over a cross product)."""
    # _dedges_memo, the frame SCC/Katz/HITS share — the negation
    # anti-join reads the cut instead of re-running the events self-join
    matches = find(_dedges_memo(spark, sf_dir), "(a)-[]->(b); !(b)-[]->(a)")
    return _degrees(matches, "a", "user_id", "n_oneway")


_MOTIF_NONMUTUAL_SQL = """
WITH dedges AS (
  SELECT src, dst FROM (
    SELECT DISTINCT e1.user_id AS src, e2.user_id AS dst
    FROM events e1 JOIN events e2
      ON e1.event_type = e2.event_type
     AND date_trunc('hour', CAST(e2.ts AS TIMESTAMP))
         = date_trunc('hour', CAST(e1.ts AS TIMESTAMP)) + INTERVAL 1 HOUR
     AND e1.user_id <> e2.user_id
  )
  WHERE CAST('0x' || substr(md5(CAST(src AS VARCHAR) || '_'
          || CAST(dst AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 5
)
SELECT a.src AS user_id, count(*) AS n_oneway
FROM dedges a
LEFT JOIN dedges r ON r.src = a.dst AND r.dst = a.src
WHERE r.src IS NULL
GROUP BY a.src
"""


QUERIES = {
    "motif_find_cosupplied": motif_find_cosupplied,
    "motif_find_nonmutual": motif_find_nonmutual,
}

ORACLES = {
    "motif_find_cosupplied": _MOTIF_COSUPPLIED_SQL,
    "motif_find_nonmutual": _MOTIF_NONMUTUAL_SQL,
}
