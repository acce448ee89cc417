"""Journal-as-stream: incremental consumption of GraphDB mutations
(checkpointed AvailableNow runs only read newly appended batches)."""

from __future__ import annotations

import os

from graph_database_akkatyped_spark.api import GraphDB


def _counts(db, ckpt, sink):
    return {
        (r["rel"], r["op"]): r["n_events"]
        for r in db.run_incremental_edge_counts(ckpt, sink).collect()
    }


def test_incremental_edge_counts(spark, tmp_path):
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    ckpt = str(tmp_path / "ckpt")
    db.add_vertices([("a", "n", "A"), ("b", "n", "B"), ("c", "n", "C")])
    db.add_edges([("a", "b", "bought", 1.0), ("a", "c", "bought", 2.0)])

    assert _counts(db, ckpt, "inc_counts") == {("bought", "upsert"): 2}

    db.add_edges([("b", "c", "sourced", 3.0)])
    db.remove_edge("a", "b", "bought")

    assert _counts(db, ckpt, "inc_counts") == {
        ("bought", "upsert"): 2,
        ("sourced", "upsert"): 1,
        ("bought", "delete"): 1,
    }


def _view_rounds(db, ckpt, sink, compact):
    """Two refreshes around a second round of commands, with or without
    compact() between them; returns the second refresh's counts."""
    db.add_vertices([("a", "n", "A"), ("b", "n", "B"), ("c", "n", "C")])
    db.add_edges([("a", "b", "bought", 1.0), ("a", "c", "bought", 2.0)])
    _counts(db, ckpt, sink)
    if compact:
        db.compact()
    db.add_edges([("b", "c", "sourced", 3.0)])
    db.remove_edge("a", "b", "bought")
    return _counts(db, ckpt, sink)


def test_view_counts_stay_exact_across_compact(spark, tmp_path):
    """compact()'s snapshot is not a new event: a view refreshed around
    a compaction counts the same events as one over an uncompacted
    journal, and a fresh checkpoint after a compaction counts only the
    commands appended after it."""
    plain = _view_rounds(
        GraphDB(spark, str(tmp_path / "plain")), str(tmp_path / "ck0"), "view_plain", False
    )
    db = GraphDB(spark, str(tmp_path / "compacted"))
    ckpt = str(tmp_path / "ck1")
    compacted = _view_rounds(db, ckpt, "view_compacted", True)
    assert plain == compacted == {
        ("bought", "upsert"): 2,
        ("sourced", "upsert"): 1,
        ("bought", "delete"): 1,
    }
    db.compact()
    db.add_edges([("c", "a", "sourced", 4.0)])
    assert _counts(db, ckpt, "view_compacted") == {
        ("bought", "upsert"): 2,
        ("sourced", "upsert"): 2,
        ("bought", "delete"): 1,
    }
    assert _counts(db, str(tmp_path / "ck2"), "view_fresh") == {("sourced", "upsert"): 1}


def test_checkpoint_keeps_its_state_partition_count(spark, tmp_path):
    """A view checkpoint created on a 32-partition session resumes with
    exact counts on a session with fewer partitions: the state store
    keeps the partition count it was created with."""
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    ckpt = str(tmp_path / "ckpt")
    db.add_vertices([("a", "n", "A"), ("b", "n", "B")])
    db.add_edges([("a", "b", "bought", 1.0)])
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        assert _counts(db, ckpt, "view_32") == {("bought", "upsert"): 1}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf)
    assert int(conf) < 32
    db.add_edges([("b", "a", "bought", 2.0)])
    db.remove_edge("a", "b", "bought")
    assert _counts(db, ckpt, "view_32") == {
        ("bought", "upsert"): 2,
        ("bought", "delete"): 1,
    }
    stores = os.listdir(os.path.join(ckpt, "state", "0"))
    assert sum(name.isdigit() for name in stores) == 32


def test_refresh_without_new_command_keeps_counts(spark, tmp_path):
    """A refresh that finds no new command file runs no batch; it
    still answers the checkpointed counts."""
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    ckpt = str(tmp_path / "ckpt")
    db.add_vertices([("a", "n", "A"), ("b", "n", "B")])
    db.add_edges([("a", "b", "bought", 1.0)])
    assert _counts(db, ckpt, "view_idle") == {("bought", "upsert"): 1}
    assert _counts(db, ckpt, "view_idle") == {("bought", "upsert"): 1}


def test_refresh_after_compact_only_keeps_counts(spark, tmp_path):
    """A compact() between two refreshes writes only snapshot files,
    which the view does not read: the second refresh answers the
    checkpointed counts."""
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    ckpt = str(tmp_path / "ckpt")
    db.add_vertices([("a", "n", "A"), ("b", "n", "B")])
    db.add_edges([("a", "b", "bought", 1.0)])
    assert _counts(db, ckpt, "view_cmp") == {("bought", "upsert"): 1}
    db.compact()
    assert _counts(db, ckpt, "view_cmp") == {("bought", "upsert"): 1}
