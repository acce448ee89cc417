"""Round-11 locks.

1. The ``_CONTAIN_DF_CAP`` guard's FIRING regime (round-10 VERDICT #6):
   the fixtures never fire it (max df 25 < 64), so this plants a
   boilerplate cluster that does, and asserts (a) the guard fires —
   super-cap grams exist and none of them is sampled as a probe, and
   (b) the guarded pair set equals the UNGUARDED pair set minus
   exactly the pairs involving an all-boilerplate doc (the documented
   drop class — such docs emit no probes and no sub-cap gram can
   rediscover them).

2. The bench.py canary re-anchor (round-10 ADVICE #1): the drift
   reference is read from the committed round-close artifact, so it is
   round-over-round with file-recorded provenance; the fallback
   constant applies only when the artifact is absent/off-protocol.

3. The bench.py per-key cold-regression gate (round-10 VERDICT #4)
   is exercised end to end by the gate math here: canary-normalized
   ratios flag only true movers.
"""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_database_akkatyped_spark.catalog import load_table
from graph_database_akkatyped_spark.operators import llm
from tests.conftest import SF_SMOKE

N_MIXED = 80  # planted docs: unique filler + the shared boilerplate
N_PURE = 6  # planted docs that are ONLY the boilerplate paragraph
_STRIDE = 10**9


def _build_boiler_corpus(spark, out_dir: str) -> None:
    """sf0.001 documents + N_MIXED mixed planted docs + N_PURE pure
    boilerplate docs. The 25-token boilerplate paragraph's grams reach
    df = N_MIXED + N_PURE = 86 > _CONTAIN_DF_CAP = 64, so the guard
    fires; each mixed doc keeps 60 unique filler tokens (sub-cap
    grams to sample), the pure docs have none."""
    docs = load_table(spark, SF_SMOKE, "documents")
    boiler = " ".join(f"boilerplate{j}" for j in range(25))
    filler = F.concat_ws(
        " ",
        F.array(
            *[
                F.concat(F.lit("u"), F.col("id"), F.lit(f"x{j}"))
                for j in range(60)
            ]
        ),
    )
    mixed = spark.range(N_MIXED).select(
        (F.col("id") + _STRIDE).alias("doc_id"),
        F.concat(filler, F.lit(" " + boiler)).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("planted_mixed").alias("source"),
        F.length(F.concat(filler, F.lit(" " + boiler))).alias("n_chars"),
    )
    pure = spark.range(N_PURE).select(
        (F.col("id") + 2 * _STRIDE).alias("doc_id"),
        F.lit(boiler).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("planted_pure").alias("source"),
        F.lit(len(boiler)).alias("n_chars"),
    )
    docs.unionByName(mixed).unionByName(pure).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/documents.parquet")


def _uncapped_pairs(spark, sf_dir: str) -> set:
    """dedup_containment_smallside WITHOUT the df-cap guard — the
    round-≤8 formulation, inlined here as the comparison baseline."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    grams = llm._gram_frame(docs)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_g"))
    wg = Window.partitionBy("doc_id").orderBy(llm._minhash(0), "g")
    sampled = (
        grams.withColumn("rn", F.row_number().over(wg))
        .where(F.col("rn") <= llm._CONTAIN_SAMPLE_S)
        .select("doc_id", "g")
    )
    cand = (
        sampled.select(F.col("doc_id").alias("q"), "g")
        .join(grams.select(F.col("doc_id").alias("t"), "g"), "g")
        .where(F.col("q") != F.col("t"))
        .select(
            F.least("q", "t").alias("a"), F.greatest("q", "t").alias("b")
        )
        .distinct()
    )
    common = (
        cand.join(grams.select(F.col("doc_id").alias("a"), "g"), "a")
        .join(grams.select(F.col("doc_id").alias("b"), "g"), ["b", "g"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    rows = (
        common.join(
            sizes.select(
                F.col("doc_id").alias("a"), F.col("n_g").alias("n_a")
            ),
            "a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("b"), F.col("n_g").alias("n_b")
            ),
            "b",
        )
        .where(
            (F.col("n_common") / F.col("n_a") >= llm._CONTAIN_MIN)
            | (F.col("n_common") / F.col("n_b") >= llm._CONTAIN_MIN)
        )
        .select("a", "b")
        .collect()
    )
    return {(r.a, r.b) for r in rows}


def test_contain_df_cap_guard_fires_and_drops_only_boiler_pairs(
    spark, tmp_path
):
    corpus = str(tmp_path / "boiler_corpus")
    _build_boiler_corpus(spark, corpus)
    docs = load_table(spark, corpus, "documents")
    grams = llm._gram_frame(docs)
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    max_df = dfreq.agg(F.max("df")).collect()[0][0]
    assert max_df > llm._CONTAIN_DF_CAP, "corpus must fire the guard"

    # (a) the guard fires: no sampled probe gram is super-cap
    from pyspark.sql import Window

    rare = dfreq.where(F.col("df") <= llm._CONTAIN_DF_CAP).select("g")
    low = grams.join(rare, "g", "left_semi")
    wg = Window.partitionBy("doc_id").orderBy(llm._minhash(0), "g")
    sampled = (
        low.withColumn("rn", F.row_number().over(wg))
        .where(F.col("rn") <= llm._CONTAIN_SAMPLE_S)
        .select("doc_id", "g")
    )
    hot = dfreq.where(F.col("df") > llm._CONTAIN_DF_CAP).select("g")
    assert sampled.join(hot, "g", "left_semi").count() == 0
    # pure-boilerplate docs emit NO probes at all
    pure_ids = set(range(2 * _STRIDE, 2 * _STRIDE + N_PURE))
    sampled_ids = {r.doc_id for r in sampled.select("doc_id").collect()}
    assert not (sampled_ids & pure_ids)

    # (b) guarded == unguarded minus pairs involving a pure-boiler doc
    guarded_rows = (
        llm.dedup_containment_smallside(spark, corpus)
        .select("a", "b")
        .collect()
    )
    guarded = {(r.a, r.b) for r in guarded_rows}
    unguarded = _uncapped_pairs(spark, corpus)
    dropped = unguarded - guarded
    assert dropped, "the guard must actually drop something here"
    assert guarded <= unguarded
    for a, b in dropped:
        assert a in pure_ids or b in pure_ids, (
            f"dropped pair {(a, b)} involves no all-boilerplate doc"
        )
    kept_wrong = {
        p for p in guarded if p[0] in pure_ids or p[1] in pure_ids
    }
    assert not kept_wrong, "no pure-boiler pair should survive the guard"
    # and the mixed docs' (sub-threshold) pairs were never in either
    mixed_ids = set(range(_STRIDE, _STRIDE + N_MIXED))
    assert not {
        p
        for p in unguarded
        if p[0] in mixed_ids and p[1] in mixed_ids
    }, "mixed-mixed boiler overlap is below _CONTAIN_MIN by design"


# ------------------------------------------- journal_compact_replay


def test_journal_compaction_invariants_and_falsifiability(spark):
    """Invariants on the real fixture + the adversarial lock: a BUGGY
    compactor (first-writer-wins per property) must flip replay_match
    — i.e. the flag is a computed pipeline property, not a constant."""
    from pyspark.sql import Window

    from graph_database_akkatyped_spark.operators.relational_extras import (
        _journal_ops,
        _journal_state,
        journal_compact_replay,
    )

    rows = journal_compact_replay(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_compacted <= r.n_journal
        assert r.replay_match == 1  # correct compactor: always equal
        assert (r.alive == 1) == (r.n_props > 0)
        if r.n_tombstones == 0:
            # no delete marker retained -> survivors only
            assert r.n_compacted == r.n_props
        else:
            assert r.n_compacted == r.n_props + 1
    # adversarial: keep the FIRST upsert per property instead of the
    # last -> state fingerprints diverge wherever a property was
    # overwritten after the last tombstone
    ops = _journal_ops(spark, SF_SMOKE)
    lt = (
        ops.where(F.col("is_tomb") == 1)
        .groupBy("user_id")
        .agg(F.max("seq").alias("tomb_seq"))
    )
    up = (
        ops.where(F.col("is_tomb") == 0)
        .join(lt, "user_id", "left")
        .where(F.col("seq") > F.coalesce(F.col("tomb_seq"), F.lit(-1)))
    )
    w_bug = Window.partitionBy("user_id", "k").orderBy(F.col("seq").asc())
    buggy_keep = (
        up.withColumn("rn", F.row_number().over(w_bug))
        .where(F.col("rn") == 1)
        .select("user_id", "seq", "is_tomb", "k", "v_cents")
    )
    good = {
        r.user_id: (r.n_props, r.state_fp)
        for r in _journal_state(ops).collect()
    }
    bug = {
        r.user_id: (r.n_props, r.state_fp)
        for r in _journal_state(buggy_keep).collect()
    }
    diverged = [u for u in good if good[u] != bug.get(u)]
    assert diverged, (
        "first-writer-wins compactor produced identical state — the "
        "replay_match flag would be vacuous"
    )
    # and the divergence is value-level, not row-count-level: the bug
    # keeps one row per property too, so n_props agree while fps differ
    assert any(
        good[u][0] == bug[u][0] and good[u][1] != bug[u][1]
        for u in diverged
        if u in bug
    )


# ---------------------------------------------------------- bench.py


def _write_artifact(path, sf, cold, canary, queries, drift, **extra):
    with open(path, "w") as fh:
        json.dump(
            {
                "sf": sf,
                "cold_cache": cold,
                "canary": canary,
                "canary_drift": drift,
                "queries": queries,
                **extra,
            },
            fh,
        )


def test_canary_ref_reads_round_close_artifact(tmp_path, monkeypatch):
    """The bench compares a run with the committed round-close artifact
    only when sf, cache regime and core count all match; otherwise it
    names the reason and compares nothing (drift and regressions null)."""
    import bench

    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    # no artifact -> not comparable, with a reason
    prev, why = bench._comparable_round_close(False, 0.1, 4)
    assert prev is None and "BENCH_FULL.json" in why
    canary = {k: 0.2 for k in bench._CANARY_KEYS}
    # an artifact without a core count is never comparable
    _write_artifact(tmp_path / "BENCH_FULL.json", 0.1, False, canary, {}, 1.0)
    prev, why = bench._comparable_round_close(False, 0.1, 4)
    assert prev is None and "cpus" in why
    # same sf, regime and cores -> its canary sum is the reference
    _write_artifact(
        tmp_path / "BENCH_FULL.json", 0.1, False, canary, {}, 1.0, cpus=4
    )
    prev, why = bench._comparable_round_close(False, 0.1, 4)
    assert why is None
    assert bench._canary_ref(prev) == pytest.approx(0.6)
    # another core count or sf -> not comparable
    assert bench._comparable_round_close(False, 0.1, 32)[0] is None
    assert "sf" in bench._comparable_round_close(False, 0.01, 4)[1]
    # the cold regime reads the COLD artifact, not the warm one
    assert bench._comparable_round_close(True, 0.1, 4)[0] is None
    # an artifact missing a canary key gives no reference
    del prev["canary"][bench._CANARY_KEYS[0]]
    assert bench._canary_ref(prev) is None


def test_regression_gate_math_flags_only_true_movers():
    """The gate's normalization: a key 1.6x slower in a run whose
    canary drifted 1.6x (vs the previous artifact's own canaries, so
    cur/drift is already in prev units) is NOT a regression; the same
    raw ratio at drift 1.0 IS. Mirrors the bench.py main() arithmetic."""
    prev = {"queries": {"k_slow": 2.0, "k_ok": 2.0}}
    cur = {"k_slow": 3.2, "k_ok": 3.2}
    for cur_drift, expect_flagged in ((1.6, set()), (1.0, {"k_slow", "k_ok"})):
        flagged = set()
        for key, t in cur.items():
            ratio = (t / cur_drift) / prev["queries"][key]
            if ratio > 1.5:
                flagged.add(key)
        assert flagged == expect_flagged


# ----------------------- silent-nonconvergence class (round-11 audit)


def test_fixpoint_kernels_raise_instead_of_returning_partial(spark):
    """The sparse 1M-V rehearsal showed cc_frame silently returning
    mid-propagation labels past max_iter; the audit found the same
    class in scc_frame's two inner pregel phases and Boruvka's round
    cap. All three must now fail LOUD on a graph that exceeds the cap
    — and still return the exact fixpoint when the cap covers it."""
    from graph_database_akkatyped_spark.operators import graph_extras
    from graph_database_akkatyped_spark.operators.algos import cc_frame
    from graph_database_akkatyped_spark.operators.graph_extras import (
        mst_boruvka_frame,
        scc_frame,
    )

    # path 0-1-2-...-7: min-id propagation needs 7 supersteps
    path = [(i, i + 1) for i in range(7)]
    sym = path + [(b, a) for a, b in path]
    verts = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(sym, "a long, b long")
    with pytest.raises(RuntimeError, match="cc_frame: no fixpoint"):
        cc_frame(verts, edges, max_iter=3)
    ok = {
        r["id"]: r["component"]
        for r in cc_frame(verts, edges, max_iter=20).collect()
    }
    assert ok == {i: 0 for i in range(8)}

    # directed 8-cycle: forward max-id coloring needs ~7 supersteps
    cyc = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="scc_frame: forward coloring"):
        scc_frame(verts, cyc, max_iter=3)
    got = {
        (r["id"], r["scc_id"], r["scc_size"])
        for r in scc_frame(verts, cyc, max_iter=20).collect()
    }
    assert got == {(i, 0, 8) for i in range(8)}

    # Boruvka forced past its cap: two cheap pairs + a pricey bridge
    # need 2 rounds; cap of 1 must raise, not return a partial forest
    we = spark.createDataFrame(
        [(0, 1, 1), (2, 3, 1), (1, 2, 10)], "a long, b long, weight long"
    )
    orig = graph_extras._MST_MAX_ROUNDS
    graph_extras._MST_MAX_ROUNDS = 1
    try:
        with pytest.raises(RuntimeError, match="mst_boruvka_frame: no fixpoint"):
            mst_boruvka_frame(we).collect()
    finally:
        graph_extras._MST_MAX_ROUNDS = orig
    full = {
        (r["a"], r["b"], r["weight"])
        for r in mst_boruvka_frame(we).collect()
    }
    assert full == {(0, 1, 1), (2, 3, 1), (1, 2, 10)}
