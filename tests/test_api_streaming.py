"""Journal-as-stream: incremental consumption of GraphDB mutations
(checkpointed AvailableNow runs only read newly appended batches)."""

from __future__ import annotations

from graph_database_akkatyped_spark.api import GraphDB


def test_incremental_edge_counts(spark, tmp_path):
    db = GraphDB(spark, str(tmp_path / "graphdb"))
    ckpt = str(tmp_path / "ckpt")
    db.add_vertices([("a", "n", "A"), ("b", "n", "B"), ("c", "n", "C")])
    db.add_edges([("a", "b", "bought", 1.0), ("a", "c", "bought", 2.0)])

    first = {
        (r["rel"], r["op"]): r["n_events"]
        for r in db.run_incremental_edge_counts(ckpt, "inc_counts").collect()
    }
    assert first == {("bought", "upsert"): 2}

    db.add_edges([("b", "c", "sourced", 3.0)])
    db.remove_edge("a", "b", "bought")

    second = {
        (r["rel"], r["op"]): r["n_events"]
        for r in db.run_incremental_edge_counts(ckpt, "inc_counts").collect()
    }
    assert second == {
        ("bought", "upsert"): 2,
        ("sourced", "upsert"): 1,
        ("bought", "delete"): 1,
    }
