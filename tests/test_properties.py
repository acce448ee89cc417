"""Property-based tests (SURVEY.md §5.3): algebraic invariants that must
hold for ANY input, not just the fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from graph_database_akkatyped_spark.operators.algos import cc_frame, pagerank_frame

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_texts = st.lists(
    st.text(alphabet="abcd ", min_size=0, max_size=12), min_size=1, max_size=12
)
_edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=20
)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_dedup_exact_partitions_input(spark, texts):
    """Every row lands in exactly one group; keeper is the min id."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    out = (
        df.select(h.alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sum(r["n"] for r in out) == len(texts)
    normalized = [t.strip().lower() for t in texts]
    for r in out:
        group = [i for i, t in enumerate(normalized) if normalized[r["keep"]] == t]
        assert r["keep"] == min(group) and r["n"] == len(group)


@given(edges=_edge_lists)
@settings(**_SETTINGS)
def test_cc_matches_union_find(spark, edges):
    """Pregel CC == classic union-find on arbitrary small graphs."""
    nodes = sorted({v for e in edges for v in e} | {0})
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expected = {v: min(u for u in nodes if find(u) == find(v)) for v in nodes}

    verts = spark.createDataFrame([(v,) for v in nodes], "id long")
    sym = [(a, b) for a, b in edges if a != b]
    sym += [(b, a) for a, b in sym]
    edges_df = spark.createDataFrame(sym or [(0, 0)], "a long, b long").where(
        F.col("a") != F.col("b")
    )
    got = {
        r["id"]: r["component"]
        for r in cc_frame(verts, edges_df, max_iter=30).collect()
    }
    assert got == expected


@given(edges=_edge_lists.filter(lambda es: any(a != b for a, b in es)))
@settings(**_SETTINGS)
def test_pagerank_mass_conserved(spark, edges):
    """Σ ranks stays within (0.99·N, N] — integer truncation only loses
    mass, never creates it; every vertex keeps ≥ the 0.15 base."""
    sym = [(a, b) for a, b in edges if a != b]
    sym += [(b, a) for a, b in sym]
    nodes = sorted({v for e in sym for v in e})
    verts = spark.createDataFrame([(v,) for v in nodes], "id long")
    edges_df = spark.createDataFrame(sym, "a long, b long").distinct()
    ranks = pagerank_frame(verts, edges_df, iters=5).collect()
    total = sum(r["rank"] for r in ranks)
    assert 0.99 * len(nodes) < total <= len(nodes) + 1e-9
    assert all(r["rank"] >= 0.1499999 for r in ranks)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_normalize_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x) for any input."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def norm(c):
        return F.trim(F.regexp_replace(F.lower(c), "[ \t\n\r]+", " "))

    rows = df.select(
        (norm(norm(F.col("text"))) == norm(F.col("text"))).alias("fixed")
    ).collect()
    assert all(r["fixed"] for r in rows)


@given(keys=st.lists(st.integers(0, 10**6), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_hash_sample_stable_under_append(spark, keys):
    """Hash-sample membership is per-row: sampling a superset never
    changes which of the original rows are selected (unlike df.sample)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    base = spark.createDataFrame([(k,) for k in keys], "k long")
    extended = base.unionAll(
        spark.createDataFrame([(k + 10**7,) for k in keys], "k long")
    )
    picked_base = {r["k"] for r in base.where(bucket == 0).collect()}
    picked_ext = {
        r["k"] for r in extended.where(bucket == 0).collect() if r["k"] < 10**7
    }
    assert picked_base == picked_ext


_line_texts = st.lists(
    # \t and \x0b probe the explicit ASCII whitespace class (llm._WS):
    # Java/RE2/Python \s disagree on exactly those, so the alphabet
    # must be able to generate them or the parity claim is untested
    st.text(alphabet="ab c\t\x0b", min_size=0, max_size=40),
    min_size=1,
    max_size=8,
)


@given(texts=_line_texts)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_dedup_lines_matches_python_replica(spark, texts, tmp_path_factory):
    """dedup_lines == an exact python replica for ANY corpus (including
    irregular whitespace, empty texts, sub-8-word tails): same line
    segmentation (the literal regex), same normalized first-occurrence
    rule, same reassembly hash."""
    import hashlib
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graph_database_akkatyped_spark.operators import llm

    d = tmp_path_factory.mktemp("lines_prop")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(list(texts), pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
            }
        ),
        d / "documents.parquet",
    )
    out = {
        int(r.doc_id): r
        for r in llm.dedup_lines(spark, str(d)).collect()
    }
    # python replica of the exact pipeline
    ws = llm._WS  # the explicit ASCII class all three engines share
    pat = re.compile(r"((?:[^%s]+ ){%d}[^%s]+) " % (ws, llm._LINE_WORDS - 1, ws))
    seen: set[str] = set()
    for doc_id, text in enumerate(texts):
        lines = pat.sub(r"\1\n", text).split("\n")
        kept = []
        for line in lines:
            norm = re.sub("[%s]+" % ws, " ", line.lower()).strip(" ")
            if norm not in seen:
                seen.add(norm)
                kept.append(line)
        r = out[doc_id]
        assert r.n_lines == len(lines)
        assert r.n_removed == len(lines) - len(kept)
        assert r.kept_hash == hashlib.md5(
            "\n".join(kept).encode()
        ).hexdigest()


@given(texts=st.lists(
    st.text(alphabet="tablexy ", min_size=0, max_size=16),
    min_size=1, max_size=8,
))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_bpe_encode_matches_python_replica(spark, texts, tmp_path_factory):
    """text_bpe_encode == a direct python replica of greedy
    left-to-right merge application for ANY corpus over the merge
    table's alphabet (runs of merge characters, empty docs, words the
    merges never touch)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graph_database_akkatyped_spark.operators import llm

    d = tmp_path_factory.mktemp("bpe_prop")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(list(texts), pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
            }
        ),
        d / "documents.parquet",
    )
    out = {
        int(r.doc_id): (int(r.n_words), int(r.n_tokens))
        for r in llm.text_bpe_encode(spark, str(d)).collect()
    }

    def merge_once(syms, ml, mr):
        res, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == ml and syms[i + 1] == mr:
                res.append(ml + mr)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        return res

    def ntok(word):
        syms = list(word)
        for ml, mr in llm._BPE_MERGES:
            syms = merge_once(syms, ml, mr)
        return len(syms)

    for doc_id, text in enumerate(texts):
        words = [w for w in text.lower().split(" ") if w]
        if not words:
            assert doc_id not in out  # inner join drops empty docs
            continue
        assert out[doc_id] == (len(words), sum(ntok(w) for w in words)), (
            doc_id, text)


@given(
    stems=st.lists(
        st.text(alphabet="abx0", min_size=3, max_size=8),
        min_size=1, max_size=12,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_entity_resolve_structural_recall(spark, stems, tmp_path_factory):
    """Masked-neighborhood blocking NEVER misses a planted tail
    substitution: for ANY master table (names >= 6 chars, made distinct
    by an index suffix), every dirty record gets exactly one match row
    at distance <= its planted edit distance — including names that
    already contain the substitute character 'x' (where the 'edit' can
    be a no-op and the distance 0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graph_database_akkatyped_spark.operators import relational_extras as rx

    names = [f"{t}{i:03d}" for i, t in enumerate(stems)]
    d = tmp_path_factory.mktemp("er_prop")
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(len(names)), pa.int64()),
                "c_name": pa.array(names, pa.string()),
            }
        ),
        d / "customer.parquet",
    )
    out = {
        int(r.r_id): (int(r.match_key), int(r.dist))
        for r in rx.entity_resolve_blocked(spark, str(d)).collect()
    }
    dirty = [k for k in range(len(names)) if k % 5 == 0]
    assert set(out) == {1000000 + k for k in dirty}
    for k in dirty:
        name = names[k]
        if k % 3 == 0:
            p = len(name) - (k % 6)  # 1-indexed edit position
            expected = 0 if name[p - 1] == "x" else 1
        else:
            expected = 0
        assert out[1000000 + k][1] <= expected, (k, name, out[1000000 + k])


_GRAPHDB_VIDS = "abcde"
_GRAPHDB_IDS = st.sampled_from(_GRAPHDB_VIDS)
_GRAPHDB_RELS = st.sampled_from("rs")
_GRAPHDB_COMMAND = st.one_of(
    st.tuples(
        st.just("add_vertices"),
        st.lists(st.tuples(_GRAPHDB_IDS, st.sampled_from("xy")), min_size=1, max_size=3),
    ),
    st.tuples(st.just("remove_vertex"), _GRAPHDB_IDS),
    st.tuples(
        st.just("add_edges"),
        st.lists(st.tuples(_GRAPHDB_IDS, _GRAPHDB_IDS, _GRAPHDB_RELS), min_size=1, max_size=3),
    ),
    st.tuples(st.just("remove_edge"), st.tuples(_GRAPHDB_IDS, _GRAPHDB_IDS, _GRAPHDB_RELS)),
    st.tuples(st.just("compact"), st.none()),
)
_GRAPHDB_COMMANDS = st.lists(_GRAPHDB_COMMAND, max_size=10)


def _check_graphdb_asks(db, ids) -> None:
    """The driver-side asks answer what the Spark replay of the same
    journal answers (rows and schema), for every id in ``ids``."""
    from graph_database_akkatyped_spark.api import _V_SCHEMA

    verts = db.vertices()
    e = db._live_edges(verts, None)
    nb = e.join(verts, e.dst == verts.id).select("src", "dst", "rel", "weight", "kind", "name")
    journal = db._read_journal(db._vdir, _V_SCHEMA).orderBy("batch")
    live = [tuple(r) for r in verts.collect()]
    nbrs = sorted(tuple(r) for r in nb.collect())
    events = [tuple(r) for r in journal.collect()]
    for vid in ids:
        asks = db.get_vertex(vid), db.neighbors(vid), db.history(vid)
        assert [df.schema for df in asks] == [verts.schema, nb.schema, journal.schema]
        got_v, got_nb, got_h = ([tuple(r) for r in df.collect()] for df in asks)
        assert got_v == [r for r in live if r[0] == vid], vid
        assert sorted(got_nb) == [r for r in nbrs if r[0] == vid], vid
        assert got_h == [r for r in events if r[0] == vid], vid


def _graphdb_state(db) -> tuple[list, list]:
    """The Spark replay's live vertices and edges."""
    return (
        sorted(tuple(r) for r in db.vertices().collect()),
        sorted(tuple(r) for r in db.edges().collect()),
    )


@given(commands=_GRAPHDB_COMMANDS, crash=st.sampled_from(["add_vertices", "add_edges"]))
@example(  # edges out of an absent source and into an absent target
    commands=[("add_vertices", [("b", "x")]), ("add_edges", [("a", "b", "r"), ("b", "c", "r")])],
    crash="add_edges",
)
@example(  # a tombstoned and re-added vertex around a compaction
    commands=[
        ("add_vertices", [("a", "x"), ("b", "y")]),
        ("add_edges", [("a", "b", "r"), ("b", "a", "s")]),
        ("remove_vertex", "a"),
        ("compact", None),
        ("add_vertices", [("a", "y")]),
        ("add_edges", [("a", "b", "s")]),
    ],
    crash="add_vertices",
)
@example(  # repeated compactions around an edge to an absent endpoint
    commands=[
        ("add_vertices", [("a", "x")]),
        ("add_edges", [("a", "b", "r"), ("a", "a", "s")]),
        ("compact", None),
        ("compact", None),
        ("add_vertices", [("b", "y")]),
        ("remove_edge", ("a", "a", "s")),
        ("compact", None),
    ],
    crash="add_edges",
)
@settings(**_SETTINGS)
def test_graphdb_driver_asks_match_spark_replay(spark, tmp_path_factory, commands, crash):
    """get_vertex / neighbors / history, read and replayed on the driver,
    equal the Spark replay over random command streams: upserts,
    re-adds, tombstones, edges to absent endpoints, compactions, and a
    crashed append's leftover temp file; and on an empty journal. Each
    compaction, a driver-side fold, leaves the Spark replay unchanged."""
    import os
    from unittest import mock

    import pytest

    from graph_database_akkatyped_spark.api import GraphDB

    db = GraphDB(spark, str(tmp_path_factory.mktemp("graphdb_prop")))
    _check_graphdb_asks(db, _GRAPHDB_VIDS)  # empty journal
    for i, (kind, arg) in enumerate(commands):
        if kind == "add_vertices":
            db.add_vertices([(v, "k", f"{name}{i}") for v, name in arg])
        elif kind == "add_edges":
            db.add_edges([(s, d, r, float(i)) for s, d, r in arg])
        elif kind == "remove_edge":
            db.remove_edge(*arg)
        elif kind == "remove_vertex":
            db.remove_vertex(arg)
        else:  # the Spark replay is the reference the driver fold must keep
            before = _graphdb_state(db)
            db.compact()
            assert _graphdb_state(db) == before
    with mock.patch.object(os, "rename", side_effect=OSError("crash before rename")):
        with pytest.raises(OSError, match="crash before rename"):
            if crash == "add_vertices":
                db.add_vertices([("a", "k", "ghost"), ("e", "k", "ghost")])
            else:
                db.add_edges([("a", "b", "ghost", 9.0), ("a", "e", "ghost", 9.0)])
    _check_graphdb_asks(db, _GRAPHDB_VIDS)


@given(
    commands=st.lists(
        st.one_of(_GRAPHDB_COMMAND, st.tuples(st.just("refresh"), st.none())), max_size=14
    )
)
@example(  # a vertex removed after a compaction dropped its dangling edge
    commands=[
        ("add_vertices", [("a", "x"), ("b", "y")]),
        ("add_edges", [("a", "b", "r"), ("a", "c", "s"), ("a", "b", "r")]),
        ("compact", None),
        ("remove_vertex", "a"),
        ("refresh", None),
        ("remove_edge", ("a", "b", "r")),
        ("compact", None),
    ],
)
@settings(**_SETTINGS)
def test_graphdb_view_counts_every_edge_event(spark, tmp_path_factory, commands):
    """The journal view equals a Counter of (rel, op) over every edge
    event the commands wrote, across random commands, refreshes and
    compactions (each compaction refreshes first, as the view asks), and
    on the empty journal. Edge events follow the command semantics: one
    upsert per distinct key of an add_edges, one delete per remove_edge,
    and one delete per incident edge of the raw edge replay for a
    remove_vertex; a compaction keeps only edges with both endpoints
    live."""
    from collections import Counter

    from graph_database_akkatyped_spark.api import GraphDB

    work = tmp_path_factory.mktemp("graphdb_view")
    db = GraphDB(spark, str(work / "db"))
    ckpt = str(work / "ckpt")

    def refresh():
        view = db.run_incremental_edge_counts(ckpt, "view_prop").collect()
        assert Counter({(r["rel"], r["op"]): r["n_events"] for r in view}) == events

    live, replay, events = set(), set(), Counter()
    refresh()  # the empty journal
    for i, (kind, arg) in enumerate(commands):
        if kind == "add_vertices":
            db.add_vertices([(v, "k", f"{name}{i}") for v, name in arg])
            live.update(v for v, _ in arg)
        elif kind == "add_edges":
            db.add_edges([(s, d, r, float(i)) for s, d, r in arg])
            replay.update(arg)
            events.update((r, "upsert") for _, _, r in set(arg))
        elif kind == "remove_edge":
            db.remove_edge(*arg)
            replay.discard(arg)
            events[(arg[2], "delete")] += 1
        elif kind == "remove_vertex":
            db.remove_vertex(arg)
            incident = {k for k in replay if arg in k[:2]}
            replay -= incident
            live.discard(arg)
            events.update((r, "delete") for _, _, r in incident)
        elif kind == "compact":
            refresh()
            db.compact()
            replay = {k for k in replay if k[0] in live and k[1] in live}
        else:
            refresh()
    refresh()
