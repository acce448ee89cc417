"""The journal view: incremental consumption of GraphDB mutations (each
refresh folds only the command files its checkpoint has not consumed)."""

from __future__ import annotations

import json
import os

import pytest

from graph_database_akkatyped_spark import api
from graph_database_akkatyped_spark.api import GraphDB
from tests.test_api import _spark_jobs


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


def test_view_counts_ignore_shuffle_partitions(spark, tmp_path):
    """A view refreshed first on a 32-partition session resumes with
    exact counts on a session with fewer partitions: the driver fold
    keeps no per-partition state."""
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


def test_refresh_and_collect_start_no_spark_job(spark, tmp_path):
    """The view is a driver fold over a local Arrow table: neither the
    refresh nor a collect of its frame, nor a read of its temp view,
    starts a Spark job; the frame keeps the streaming view's schema."""
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    ckpt = str(tmp_path / "ckpt")
    db.add_vertices([("a", "n", "A"), ("b", "n", "B")])
    db.add_edges([("a", "b", "bought", 1.0), ("b", "a", "sold", 2.0)])
    view, jobs = _spark_jobs(spark, lambda: db.run_incremental_edge_counts(ckpt, "view_nojob"))
    assert jobs == []
    assert view.schema.simpleString() == "struct<rel:string,op:string,n_events:bigint>"
    rows, jobs = _spark_jobs(spark, view.collect)
    assert jobs == [] and [tuple(r) for r in rows] == [("bought", "upsert", 1), ("sold", "upsert", 1)]
    rows, jobs = _spark_jobs(spark, lambda: spark.table("view_nojob").collect())
    assert jobs == [] and len(rows) == 2


def test_crash_at_state_swap_recounts_exactly_once(spark, tmp_path, monkeypatch):
    """The state file's rename is the exactly-once boundary: a refresh
    that dies at it leaves the previous counts, and the rerun counts the
    new command files once."""
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    ckpt = str(tmp_path / "ckpt")
    db.add_vertices([("a", "n", "A"), ("b", "n", "B")])
    db.add_edges([("a", "b", "bought", 1.0)])
    assert _counts(db, ckpt, "view_crash") == {("bought", "upsert"): 1}
    db.add_edges([("b", "a", "bought", 2.0)])
    db.remove_edge("a", "b", "bought")

    def crash(src, dst):
        raise OSError("crash at the state swap")

    with monkeypatch.context() as m:
        m.setattr(api.os, "replace", crash)
        with pytest.raises(OSError, match="crash at the state swap"):
            _counts(db, ckpt, "view_crash")
    want = {("bought", "upsert"): 2, ("bought", "delete"): 1}
    assert _counts(db, ckpt, "view_crash") == want
    assert _counts(db, ckpt, "view_crash") == want


def test_spark_streaming_checkpoint_is_refused(spark, tmp_path):
    """A checkpoint directory written by a Spark streaming query raises
    instead of silently recounting the journal from zero."""
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    db.add_edges([("a", "b", "bought", 1.0)])
    for marker in ("commits", "offsets"):
        ckpt = tmp_path / f"ckpt_{marker}"
        os.makedirs(ckpt / marker)
        with pytest.raises(ValueError, match="Spark streaming checkpoint"):
            db.run_incremental_edge_counts(str(ckpt), "view_old")


def test_refresh_after_compact_starts_no_job(spark, tmp_path):
    """A compact() deletes the command files the last refresh consumed:
    the next refresh starts no Spark job, raises nothing, keeps the
    counts, and forgets the deleted names."""
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    ckpt = str(tmp_path / "ckpt")
    db.add_vertices([("a", "n", "A"), ("b", "n", "B")])
    db.add_edges([("a", "b", "bought", 1.0)])
    assert _counts(db, ckpt, "view_cmp_nojob") == {("bought", "upsert"): 1}
    db.compact()
    counts, jobs = _spark_jobs(spark, lambda: _counts(db, ckpt, "view_cmp_nojob"))
    assert jobs == [] and counts == {("bought", "upsert"): 1}
    with open(os.path.join(ckpt, api._VIEW_STATE)) as fh:
        assert json.load(fh)["files"] == []
