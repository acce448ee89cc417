"""GraphDB facade: event-sourced mutations, replayed reads, analytics
(the reference's AddNode/AddEdge/GetNode/Traverse surface)."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from graph_database_akkatyped_spark.api import GraphDB


@pytest.fixture()
def db(spark, tmp_path):
    return GraphDB(spark, str(tmp_path / "graphdb"))


def _spark_jobs(spark, run):
    """``run()``'s result and the ids of the Spark jobs it started: it
    runs under a job group of its own, read back from the status
    tracker."""
    sc = spark.sparkContext
    group = f"graphdb-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_crud_roundtrip(db):
    db.add_vertices([("c:1", "customer", "Ann"), ("c:2", "customer", "Bob"),
                     ("p:1", "part", "widget")])
    db.add_edges([("c:1", "p:1", "bought", 10.0), ("c:2", "p:1", "bought", 5.0)])
    assert db.vertices().count() == 3
    assert db.get_vertex("c:1").collect()[0]["name"] == "Ann"
    nb = db.neighbors("c:1").collect()
    assert len(nb) == 1 and nb[0]["dst"] == "p:1" and nb[0]["name"] == "widget"


def test_upsert_and_tombstone(db):
    db.add_vertices([("v:1", "k", "old")])
    db.add_vertices([("v:1", "k", "new")])  # upsert wins by batch seq
    assert db.get_vertex("v:1").collect()[0]["name"] == "new"
    db.remove_vertex("v:1")
    assert db.get_vertex("v:1").count() == 0


def test_compact_preserves_state(db):
    db.add_vertices([("a", "k", "x"), ("b", "k", "y")])
    db.add_edges([("a", "b", "r", 1.0)])
    db.remove_vertex("b")
    # edge (a,b) is hidden once its endpoint dies (vertex-owned adjacency)
    assert db.edges().count() == 0
    before_v = sorted(r["id"] for r in db.vertices().collect())
    db.compact()
    after_v = sorted(r["id"] for r in db.vertices().collect())
    assert before_v == after_v == ["a"]
    assert db.edges().count() == 0


def _state(db):
    return (
        sorted(tuple(r) for r in db.vertices().collect()),
        sorted(tuple(r) for r in db.edges().collect()),
    )


def test_compact_crash_at_any_directory_rename_keeps_state(
    spark, tmp_path, monkeypatch
):
    """A compact() that dies at any directory rename of its swap leaves
    a journal that reopens to the state it had before the compaction,
    and the reopened journal compacts again."""
    for crash_at in range(10):
        path = str(tmp_path / f"graphdb{crash_at}")
        db = GraphDB(spark, path)
        db.add_vertices([("a", "k", "x"), ("b", "k", "y"), ("c", "k", "z")])
        db.add_edges([("a", "b", "r", 1.0), ("b", "c", "r", 2.0)])
        db.remove_edge("b", "c", "r")
        before = _state(db)
        renames, real_rename = [], os.rename

        def flaky(src, dst, *a, **k):
            if os.path.isdir(src):
                renames.append(dst)
                if len(renames) > crash_at:
                    raise OSError("crash during the swap")
            return real_rename(src, dst, *a, **k)

        with monkeypatch.context() as m:
            m.setattr(os, "rename", flaky)
            try:
                db.compact()
                crashed = False
            except OSError:
                crashed = True
        reopened = GraphDB(spark, path)
        assert _state(reopened) == before
        reopened.compact()
        assert _state(reopened) == before
        if not crashed:
            break
    assert not crashed and crash_at >= 2


def test_mutations_after_compact(db):
    db.add_vertices([("a", "k", "x")])
    db.compact()
    db.add_vertices([("b", "k", "y"), ("a", "k", "x2")])  # replay spans snapshot + new batches
    names = {r["id"]: r["name"] for r in db.vertices().collect()}
    assert names == {"a": "x2", "b": "y"}
    db.remove_vertex("a")
    db.compact()
    assert [r["id"] for r in db.vertices().collect()] == ["b"]


def test_readd_does_not_resurrect_edges(db):
    # remove_vertex tombstones incident edges in the JOURNAL, so replay
    # is compaction-invariant: re-adding the same id must not revive old
    # adjacency whether or not compact() ran in between
    db.add_vertices([("a", "k", "x"), ("b", "k", "y")])
    db.add_edges([("a", "b", "r", 1.0), ("b", "a", "r", 2.0)])
    db.remove_vertex("b")
    db.add_vertices([("b", "k", "y2")])  # re-add WITHOUT compaction
    assert db.edges().count() == 0
    db.compact()
    assert db.edges().count() == 0  # same state post-compaction


def test_analytics_on_mutated_graph(db):
    # two triangles bridged after a later mutation
    for v in "abcdef":
        db.add_vertices([(v, "n", v.upper())])
    db.add_edges([("a", "b", "r", 1.0), ("b", "c", "r", 1.0), ("a", "c", "r", 1.0)])
    db.add_edges([("d", "e", "r", 1.0), ("e", "f", "r", 1.0), ("d", "f", "r", 1.0)])
    cc = {r["id"]: r["component"] for r in db.connected_components().collect()}
    assert len(set(cc.values())) == 2
    db.add_edges([("c", "d", "bridge", 1.0)])
    cc2 = {r["id"]: r["component"] for r in db.connected_components().collect()}
    assert len(set(cc2.values())) == 1
    lv = {r["id"]: r["level"] for r in db.bfs("a").collect()}
    assert lv["d"] == 2 and lv["e"] == 3
    pr = db.pagerank(iters=5)
    assert pr.count() == 6


def test_single_writer_lock(db):
    """A second writer attempting a mutation while the lock is held must
    fail loudly (ConcurrentWriterError), never interleave batches; a
    released/stale lock is recoverable via force_unlock."""
    from graph_database_akkatyped_spark.api import ConcurrentWriterError

    db.add_vertices([("v:1", "k", "a")])  # lock acquired + released per call
    with db._write_lock():
        with pytest.raises(ConcurrentWriterError):
            db.add_vertices([("v:2", "k", "b")])
    # lock released on exit -> mutations work again
    db.add_vertices([("v:2", "k", "b")])
    assert db.vertices().count() == 2
    # simulate a crashed writer: stale lock file blocks, force_unlock clears
    import os

    os.close(os.open(db._lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    with pytest.raises(ConcurrentWriterError):
        db.add_vertices([("v:3", "k", "c")])
    db.force_unlock()
    db.add_vertices([("v:3", "k", "c")])
    assert db.vertices().count() == 3


def test_time_travel_reads(db):
    """as-of reads replay only the journal prefix: state at batch b
    excludes later upserts, tombstones, and edges."""
    db.add_vertices([("v:1", "k", "one")])
    db.add_vertices([("v:2", "k", "two")])
    batches = [r["batch"] for r in db.batches().collect()]
    assert len(batches) == 2
    t1 = batches[0]
    # as of t1 only v:1 exists
    assert [r["id"] for r in db.vertices(as_of_batch=t1).collect()] == ["v:1"]
    # later tombstone doesn't exist in the past
    db.remove_vertex("v:1")
    assert db.vertices().where("id = 'v:1'").count() == 0
    assert db.vertices(as_of_batch=t1).where("id = 'v:1'").count() == 1
    # edges respect the same as-of horizon
    db.add_vertices([("v:3", "k", "three")])
    db.add_edges([("v:2", "v:3", "rel", 1.0)])
    full_edges = db.edges().count()
    assert full_edges == 1
    assert db.edges(as_of_batch=t1).count() == 0


def test_history_and_compaction_horizon(db):
    db.add_vertices([("v:1", "k", "first")])
    db.add_vertices([("v:1", "k", "renamed")])
    hist = db.history("v:1").collect()
    assert [r["name"] for r in hist] == ["first", "renamed"]
    assert all(r["op"] == "upsert" for r in hist)
    # compaction folds history: one snapshot event survives, and the
    # latest state is what it preserves
    db.compact()
    hist2 = db.history("v:1").collect()
    assert len(hist2) == 1 and hist2[0]["name"] == "renamed"


def test_find_motif_on_live_state(db):
    db.add_vertices([("c:1", "c", "x"), ("c:2", "c", "y"), ("p:1", "p", "z")])
    db.add_edges([("c:1", "p:1", "bought", 1.0), ("c:2", "p:1", "bought", 2.0)])
    pairs = db.find("(a)-[:bought]->(p); (b)-[:bought]->(p)").where("a < b")
    got = pairs.collect()
    assert len(got) == 1
    assert (got[0]["a"], got[0]["b"], got[0]["p"]) == ("c:1", "c:2", "p:1")
    # tombstoning the shared part removes the motif match
    db.remove_vertex("p:1")
    assert db.find("(a)-[:bought]->(p); (b)-[:bought]->(p)").count() == 0


def test_round4b_analytics_facade(db):
    """hits/scc/shortest_path_len/reciprocity over live mutated state."""
    db.add_vertices([(v, "k", v) for v in ("a", "b", "c", "d", "e")])
    db.add_edges(
        [
            ("a", "b", "r", 1.0),
            ("b", "a", "r", 1.0),  # reciprocal pair
            ("b", "c", "r", 1.0),
            ("c", "d", "r", 1.0),
        ]
    )
    rec = db.reciprocity().collect()[0]
    assert rec["m_edges"] == 4 and rec["m_reciprocal"] == 2
    assert abs(rec["reciprocity"] - 0.5) < 1e-12

    hits = {r["id"]: r for r in db.hits().collect()}
    assert len(hits) == 5 and hits["e"]["hub"] == 0  # isolated vertex

    scc = {r["id"]: r["scc_id"] for r in db.scc().collect()}
    assert scc["a"] == scc["b"] != scc["c"]  # {a,b} cycle; c,d singletons

    d_ab = db.shortest_path_len("a", "d").collect()[0]
    assert d_ab["dist"] == 3
    d_ae = db.shortest_path_len("a", "e").collect()[0]
    assert d_ae["dist"] == -1  # disconnected

    # tombstone invalidates the reciprocal pair; analytics track state
    db.remove_edge("b", "a", "r")
    rec2 = db.reciprocity().collect()[0]
    assert rec2["m_edges"] == 3 and rec2["m_reciprocal"] == 0


def test_intra_command_last_row_wins(db):
    """Duplicate keys inside one command collapse to their last row, so
    replay never breaks a tie inside one batch arbitrarily."""
    db.add_vertices([("v", "k", f"v{i}") for i in range(50)])
    assert db.get_vertex("v").collect()[0]["name"] == "v49"
    db.add_vertices([("w", "k", "w")])
    db.add_edges([("v", "w", "r", float(i)) for i in range(30)])
    assert [tuple(r) for r in db.edges().collect()] == [("v", "w", "r", 29.0)]


def test_batch_ids_monotone_under_coarse_clock(db, monkeypatch):
    """Batch ids are strictly increasing within one writer even when the
    wall clock does not advance between two commands."""
    monkeypatch.setattr(time, "time_ns", lambda: 1_000)
    db.add_vertices([("v", "k", "old")])
    db.add_vertices([("v", "k", "new")])
    db.remove_edge("v", "v", "r")
    batches = [r["batch"] for r in db.batches().collect()]
    assert len(batches) == 3 and batches == sorted(set(batches))
    assert db.get_vertex("v").collect()[0]["name"] == "new"


def test_reopen_after_clock_step_back_writes_after_journal(
    spark, tmp_path, monkeypatch
):
    """A GraphDB opened after the wall clock stepped back still issues
    batch ids above the journal's, so its writes win on replay; the
    ids come from parquet footers, so opening runs no Spark job."""
    path = str(tmp_path / "graphdb")
    monkeypatch.setattr(time, "time_ns", lambda: 2_000_000)
    db = GraphDB(spark, path)
    db.add_vertices([("v", "k", "old"), ("w", "k", "w")])
    db.remove_vertex("v")
    monkeypatch.setattr(time, "time_ns", lambda: 1_000_000)  # clock steps back
    db, jobs = _spark_jobs(spark, lambda: GraphDB(spark, path))
    assert jobs == []
    db.add_vertices([("v", "k", "new")])
    assert [r["name"] for r in db.get_vertex("v").collect()] == ["new"]
    # a compacted journal (Spark-written snapshot files) seeds it too
    db.compact()
    db = GraphDB(spark, path)
    db.add_vertices([("w", "k", "w2")])
    assert [r["name"] for r in db.get_vertex("w").collect()] == ["w2"]


def test_remove_vertex_tombstones_edges_to_absent_endpoints(db):
    """An edge whose other endpoint did not exist yet is still incident:
    remove_vertex must tombstone it, or re-adding both endpoints would
    bring it back."""
    db.add_vertices([("a", "k", "x")])
    db.add_edges([("a", "z", "r", 1.0)])  # z does not exist yet
    db.remove_vertex("a")
    db.add_vertices([("z", "k", "z"), ("a", "k", "x2")])
    assert db.edges().collect() == []


def _parts(d: str) -> list[str]:
    return sorted(n for n in os.listdir(d) if n.endswith(".parquet") and n[0] not in "._")


def test_each_command_appends_one_file(db):
    def counts():
        return len(_parts(db._vdir)), len(_parts(db._edir))

    db.add_vertices([("a", "k", "x"), ("b", "k", "y"), ("c", "k", "z")])
    assert counts() == (1, 0)
    db.add_edges([("a", "b", "r", 1.0), ("b", "a", "r", 2.0), ("a", "c", "r", 3.0)])
    assert counts() == (1, 1)
    db.remove_edge("a", "c", "r")
    assert counts() == (1, 2)
    db.remove_vertex("b")  # two incident edges: one file per journal
    assert counts() == (2, 3)
    db.remove_vertex("c")  # no live incident edge left: vertex journal only
    assert counts() == (3, 3)


def test_empty_command_writes_no_file(db):
    db.add_vertices([])
    db.add_edges([])
    assert os.listdir(db._vdir) == [] and os.listdir(db._edir) == []
    assert db.batches().count() == 0


def _crash_before_rename(db, monkeypatch, command, *args):
    """Run one command that dies between writing its temp file and
    renaming it into place, as a crashed writer would."""

    def boom(*_a, **_k):
        raise OSError("crash before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", boom)
        with pytest.raises(OSError, match="crash before rename"):
            command(*args)


def test_leftover_temp_file_is_invisible(db, monkeypatch, tmp_path):
    # a journal holding ONLY a crashed append's temp file reads as empty
    _crash_before_rename(db, monkeypatch, db.add_vertices, [("ghost", "k", "g")])
    _crash_before_rename(db, monkeypatch, db.add_edges, [("ghost", "g2", "r", 1.0)])
    for d in (db._vdir, db._edir):
        names = os.listdir(d)
        assert len(names) == 1 and names[0].startswith(".") and not _parts(d)
    assert db.vertices().count() == 0 and db.edges().count() == 0
    assert db.history("ghost").count() == 0 and db.batches().count() == 0

    # next to committed files, the leftover's rows are not replayed or streamed
    db.add_vertices([("a", "k", "x"), ("b", "k", "y"), ("ghost", "k", "g")])
    db.add_edges([("a", "b", "r", 1.0)])
    _crash_before_rename(db, monkeypatch, db.add_edges, [("a", "b", "lost", 9.0)])
    assert sorted(r["id"] for r in db.vertices().collect()) == ["a", "b", "ghost"]
    assert [tuple(r) for r in db.edges().collect()] == [("a", "b", "r", 1.0)]
    assert db.history("ghost").count() == 1
    assert db.batches().count() == 2
    counts = db.run_incremental_edge_counts(str(tmp_path / "ckpt"), "leftover_counts")
    assert [tuple(r) for r in counts.collect()] == [("r", "upsert", 1)]


def test_tombstone_null_weight_roundtrips_ddl_schema(db, spark):
    """Driver-written journal files carry exactly the DDL schema, and a
    delete's null weight reads back as null."""
    from pyspark.sql.types import StructType

    from graph_database_akkatyped_spark.api import _E_SCHEMA, _V_SCHEMA

    db.add_vertices([("a", "k", "x"), ("b", "k", "y")])
    db.add_edges([("a", "b", "r", 1.5)])
    db.remove_edge("a", "b", "r")
    db.remove_vertex("a")

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    for d, ddl in ((db._vdir, _V_SCHEMA), (db._edir, _E_SCHEMA)):
        inferred = spark.read.parquet(d).schema  # the files' own schema
        assert fields(inferred) == fields(StructType.fromDDL(ddl))
    rows = spark.read.parquet(db._edir).orderBy("batch").collect()
    assert [(r["op"], r["weight"]) for r in rows] == [("upsert", 1.5), ("delete", None)]
    v = spark.read.parquet(db._vdir).where("op = 'delete'").collect()
    assert [(r["id"], r["kind"], r["name"]) for r in v] == [("a", None, None)]


def test_commands_start_no_spark_job(db, spark):
    """Every command, remove_vertex's incident-edge lookup included, is
    a driver-side read and write of the journal: no Spark job."""
    commands = [
        (db.add_vertices, [("a", "k", "x"), ("b", "k", "y"), ("c", "k", "z")]),
        (db.add_edges, [("a", "b", "r", 1.0), ("b", "a", "r", 2.0), ("a", "c", "r", 3.0)]),
        (db.remove_edge, "a", "c", "r"),
        (db.remove_vertex, "b"),  # incident edges (a, b) and (b, a)
        (db.remove_vertex, "c"),  # no live incident edge left
    ]
    for command, *args in commands:
        assert _spark_jobs(spark, lambda: command(*args))[1] == [], command.__name__
    assert [tuple(r) for r in db.vertices().collect()] == [("a", "k", "x")]
    tombstoned = spark.read.parquet(db._edir).where("op = 'delete'")
    assert sorted((r.src, r.dst) for r in tombstoned.collect()) == [
        ("a", "b"), ("a", "c"), ("b", "a")
    ]


def test_ask_taken_before_compact_collects_after_it(db, spark):
    """An ask's DataFrame is a snapshot of the journal at call time:
    compact() swapping the journal directories, and later commands,
    neither break nor change it. Neither the ask nor collecting its
    answer runs a Spark job."""
    db.add_vertices([("a", "k", "x"), ("b", "k", "y")])
    db.add_edges([("a", "b", "r", 1.0)])
    db.add_vertices([("a", "k", "x2")])
    asks, jobs = _spark_jobs(
        spark, lambda: [db.get_vertex("a"), db.neighbors("a"), db.history("a")]
    )
    assert jobs == []
    db.compact()
    db.add_vertices([("a", "k", "x3")])
    got, jobs = _spark_jobs(spark, lambda: [df.collect() for df in asks])
    assert jobs == []
    vertex, neighbors, history = ([tuple(r) for r in rows] for rows in got)
    assert vertex == [("a", "k", "x2")]
    assert neighbors == [("a", "b", "r", 1.0, "k", "y")]
    assert [r[:4] for r in history] == [("a", "k", "x", "upsert"), ("a", "k", "x2", "upsert")]
