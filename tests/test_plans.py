"""Physical-plan assertions: the scale properties Catalyst must deliver
(pushdown, broadcast, top-k, partial agg) — regression-guarded so a
refactor can't silently turn a broadcast join into a 100 TB shuffle."""

from __future__ import annotations

import importlib

import pytest

from graph_database_akkatyped_spark.operators import relational
from graph_database_akkatyped_spark.sources import parquet as src
from graph_database_akkatyped_spark.plans.explain import (
    has_pushed_filter,
    node_counts,
    read_schema_columns,
    uses,
)
from tests.conftest import PLANS, SF_ORACLE, plan_moves


def test_scan_pruned_pushdown_and_pruning(spark):
    df = src.scan_pruned(spark, SF_ORACLE)
    assert has_pushed_filter(df, "l_shipdate"), "filter not pushed to parquet"
    cols = read_schema_columns(df)
    assert set(cols) <= {"l_orderkey", "l_partkey", "l_extendedprice", "l_shipdate"}
    assert len(cols) <= 4, f"scan reads too many columns: {cols}"


def test_broadcast_join_chosen(spark):
    df = relational.join_broadcast(spark, SF_ORACLE)
    assert uses(df, "BroadcastHashJoin"), "part dim not broadcast"


def test_flagship_broadcasts_dims(spark):
    df = relational.flagship(spark, SF_ORACLE)
    assert node_counts(df)["BroadcastHashJoin"] >= 2


def test_topk_is_take_ordered(spark):
    df = relational.sort_limit_topk(spark, SF_ORACLE)
    assert uses(df, "TakeOrderedAndProject"), "top-k fell back to global sort"


def test_agg_partial_final(spark):
    df = relational.agg_hash(spark, SF_ORACLE)
    assert node_counts(df)["HashAggregate"] >= 2, "no partial aggregation"
    # map-side combine proves the agg won't ship raw rows at scale
    assert uses(df, "partial_sum"), "no map-side partial aggregation"


def test_semi_join_planned(spark):
    df = relational.join_semi(spark, SF_ORACLE)
    assert uses(df, "LeftSemi")


def test_dedup_embedding_no_cross_join(spark):
    """Candidate generation must be the banded equi-join — a cartesian
    product here is the quadratic scale-killer round 1 flagged."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.dedup_embedding_cosine(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dedup_ngram_jaccard_stays_banded(spark):
    """Candidate generation must stay the MinHash band equi-join: every
    join in the plan is an equi-join (hash/sort-merge), never a
    cartesian or nested-loop product — the one quadratic-regression
    risk the round-3 audit left unpinned. Drives the raw ``_ngram_pairs``
    builder: the registered key memoizes its result (round 5), so its
    plan is a checkpoint scan that would make this check vacuous."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm._ngram_pairs(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the band join itself must survive as a real equi-join
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_pairs_label_no_join(spark):
    """The intra-label cosine average must stay the Σv̂-identity shape:
    explode + two hash aggregations and NO join of any kind — a join
    here means the O(n²/label) all-pairs formulation crept back."""
    from graph_database_akkatyped_spark.operators import llm

    df = llm.simsearch_pairs_label(spark, SF_ORACLE)
    assert not uses(df, "Join"), "all-pairs self-join reappeared"
    assert node_counts(df)["HashAggregate"] >= 2
    assert uses(df, "Generate"), "expected posexplode over the embedding"


def test_pairs_label_ss_accumulates_in_decimal(spark):
    """The first-stage Σui² must accumulate in DECIMAL(38,0): a LONG
    sum wraps at ~9.2e6 rows per label (ui² up to 1e12) while the
    DuckDB oracle sums into HUGEINT — a silent parity break that only
    shows up at scale, never on the fixtures."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    df = llm.simsearch_pairs_label(spark, SF_ORACLE)
    plan = formatted_plan(df)
    agg_lines = [
        ln
        for ln in plan.splitlines()
        if "partial_sum" in ln and "decimal(38,0)" in ln
    ]
    assert agg_lines, f"Σui² no longer sums in decimal(38,0):\n{plan}"


def test_pack_sequences_no_global_sort(spark):
    """The prefix sum must stay distributed: a single-partition Exchange
    before the window means the whole corpus funnels through one task."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    df = llm.pack_sequences(spark, SF_ORACLE)
    plan = formatted_plan(df)
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert window_lines, plan
    assert "SinglePartition" not in plan, plan


def test_partitioned_sink_enables_partition_pruning(spark, tmp_path):
    """Writing partitionBy(key) means a key predicate prunes whole
    directories at read time — PartitionFilters, not a data filter."""
    from graph_database_akkatyped_spark.catalog import load_table
    from graph_database_akkatyped_spark.plans.explain import formatted_plan
    from pyspark.sql import functions as F

    li = load_table(spark, SF_ORACLE, "lineitem")
    out = str(tmp_path / "li_part")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    df = spark.read.parquet(out).where(F.col("l_returnflag") == "A")
    plan = formatted_plan(df)
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines and "l_returnflag" in pf_lines[0], plan
    assert df.count() == li.where(F.col("l_returnflag") == "A").count()


def test_decontam_broadcasts_test_grams(spark):
    """The eval-set gram side must broadcast: at 100 TB the train side
    streams and only the (fixed-size) test shingle set is replicated."""
    from graph_database_akkatyped_spark.operators import curation

    df = curation.decontam_ngram_overlap(spark, SF_ORACLE)
    assert uses(df, "BroadcastHashJoin"), "test gram set not broadcast"


def test_sample_hash_is_map_only(spark):
    """Deterministic hash sampling must not shuffle: membership is a
    per-row function, so the plan is scan -> filter -> project."""
    from graph_database_akkatyped_spark.operators import relational_extras
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(relational_extras.sample_hash(spark, SF_ORACLE))
    assert "Exchange" not in plan, plan


def test_pii_redact_is_map_only(spark):
    from graph_database_akkatyped_spark.operators import curation
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(curation.pii_redact(spark, SF_ORACLE))
    assert "Exchange" not in plan, plan


def test_sample_stratified_is_map_only(spark):
    """The stratified sample must stay shuffle-free: the keep decision
    is a pure function of the row, so ANY Exchange in the plan means a
    regression that would shuffle 100 TB to sample it."""
    from graph_database_akkatyped_spark.operators import sampling
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(sampling.sample_stratified(spark, SF_ORACLE))
    assert "Exchange" not in plan, plan


def test_mixture_broadcasts_rate_table(spark):
    """The per-source threshold table is ~|sources| rows — the keep
    join must broadcast it, never shuffle the corpus."""
    from graph_database_akkatyped_spark.operators import sampling

    df = sampling.corpus_sample_mixture(spark, SF_ORACLE)
    assert uses(df, "BroadcastHashJoin")


def test_unigram_quality_broadcasts_vocab(spark):
    from graph_database_akkatyped_spark.operators import sampling

    df = sampling.quality_unigram_logprob(spark, SF_ORACLE)
    assert uses(df, "BroadcastHashJoin"), "vocabulary table not broadcast"


def test_pq_has_no_cartesian(spark):
    """PQ encode + ADC are equi-joins on (pos) / (m, code); a nested-
    loop anywhere here becomes |vectors| x |codebook| x |queries| at
    scale."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.simsearch_pq(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert uses(llm.simsearch_pq(spark, SF_ORACLE), "BroadcastHashJoin")


def test_skew_profile_partial_agg(spark):
    """Per-key counting must map-side combine — shipping raw lineitem
    rows to count keys defeats the point of a skew diagnostic."""
    from graph_database_akkatyped_spark.operators import layout

    df = layout.skew_profile(spark, SF_ORACLE)
    assert uses(df, "partial_count") or uses(df, "partial_sum"), (
        "no map-side partial aggregation"
    )


def test_hard_negatives_broadcasts_query_side(spark):
    """The candidate scorer must broadcast the tiny query side — a
    shuffled join here would re-partition the full corpus per query
    batch."""
    from graph_database_akkatyped_spark.operators import llm

    df = llm.simsearch_hard_negatives(spark, SF_ORACLE)
    assert uses(df, "BroadcastNestedLoopJoin") or uses(
        df, "BroadcastHashJoin"
    )


def test_frame_sample_is_map_only(spark):
    """Frame fan-out must stay shuffle-free (generate + project only)."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.multimodal_frame_sample(spark, SF_ORACLE))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_substring_shingle_no_cartesian(spark):
    """Carrier counting must be the shingle equi-join, never pairwise."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.dedup_substring_shingle(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_merge_cdc_is_single_outer_join(spark):
    """MERGE compiles to exactly one full-outer join on the key (plus
    the window that builds the batch) — no extra pass over the base."""
    from graph_database_akkatyped_spark.operators import relational_extras
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    df = relational_extras.merge_cdc_upsert(spark, SF_ORACLE)
    plan = formatted_plan(df)
    n_outer = sum(
        1 for line in plan.splitlines() if "Join FullOuter" in line
    )
    assert n_outer == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_multimodal_decode_roundtrip_and_map_only(spark):
    """The realized binary decode: the encoder emits an 8-byte header
    the decoder inverts exactly (magic, big-endian width/height, body
    slice + md5), and the whole pipeline is map-only — no shuffle for
    a 100 TB binary-column scan."""
    import hashlib

    from graph_database_akkatyped_spark.catalog import load_table
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.multimodal_decode(spark, SF_ORACLE))
    assert "Exchange" not in plan, plan

    enc = {
        r["doc_id"]: bytes(r["payload"])
        for r in llm.multimodal_encode_frame(
            load_table(spark, SF_ORACLE, "documents")
        ).take(20)
    }
    dec = {
        r["doc_id"]: r
        for r in llm.multimodal_decode(spark, SF_ORACLE).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_ORACLE, "documents").collect()
    }
    for doc_id, payload in enc.items():
        d = dec[doc_id]
        assert payload[:4] == llm._MM_MAGIC
        assert int.from_bytes(payload[4:6], "big") == d["width"]
        assert int.from_bytes(payload[6:8], "big") == d["height"]
        body = payload[8:]
        assert len(body) == d["n_body_bytes"]
        assert hashlib.md5(body).hexdigest() == d["checksum"]
        assert body == texts[doc_id].encode("utf-8")


def test_multimodal_decode_rejects_a_bad_magic():
    """The container bytes come from outside the program, so a payload
    that does not open with its magic raises ValueError — a check that
    ``python -O`` cannot strip."""
    from graph_database_akkatyped_spark.operators import llm

    error = "bad container magic"
    good = llm._MM_MAGIC + bytes([0, 64, 0, 64]) + b"body"
    assert llm._container(good, llm._MM_MAGIC, error) == good
    with pytest.raises(ValueError, match=error):
        llm._container(b"PNG!" + good[4:], llm._MM_MAGIC, error)


def test_ivf_partitioned_probe_prunes_cells(spark):
    """The cell-partitioned IVF probe must read ONLY the probed cells'
    directories: the candidate scan carries a PartitionFilters entry
    on the cell column (label), and the result is value-identical to
    the logical simsearch_ivf (same centroids, probe, re-rank)."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    df = llm.simsearch_ivf_partitioned(spark, SF_ORACLE)
    plan = formatted_plan(df)
    pf_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "label" in ln
    ]
    assert pf_lines, plan
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, llm.simsearch_ivf(spark, SF_ORACLE).collect()))
    assert got == want


def test_collocation_topk_is_take_ordered(spark):
    """text_collocation_lift's corpus-sized top-k must plan as
    TakeOrderedAndProject (per-partition heaps); the only Window runs
    over the surviving <=50 rows, never the full pair set."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    df = llm.text_collocation_lift(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_zipf_head_is_take_ordered(spark):
    """text_zipf_fit must never sort the whole vocabulary — the head
    selection is a top-k."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.text_zipf_fit(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan, plan


def test_lpt_rank_stays_distributed(spark):
    """pack_lpt_shards' global rank is the two-pass pattern: no
    SinglePartition exchange may feed its window."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.pack_lpt_shards(spark, SF_ORACLE))
    assert "SinglePartition" not in plan, plan


def test_phash_candidates_no_cartesian(spark):
    """multimodal_phash_dedup candidates must be the band equi-join —
    never an all-pairs product over documents."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.multimodal_phash_dedup(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan, plan


def test_containment_candidates_no_cartesian(spark):
    """dedup_containment rides the shared minhash bands — no cartesian
    anywhere in the plan."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.dedup_containment(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan, plan


def test_mmr_pool_work_is_broadcast(spark):
    """simsearch_mmr's corpus-sized stage is the broadcast top-k pool
    scan; pairwise work happens after the pool cut. The key's own plan
    is a scan of its rerank fixpoint's last cut, so the pool stage
    (``_mmr_pool``) is checked directly."""
    from graph_database_akkatyped_spark.operators import llm

    counts = node_counts(llm._mmr_pool(spark, SF_ORACLE))
    assert counts["BroadcastNestedLoopJoin"] >= 1, counts
    assert counts["CartesianProduct"] == 0, counts


def test_dedup_lines_scan_prunes_and_shuffles_minimally(spark):
    """dedup_lines must read only (doc_id, text) and shuffle exactly
    twice: once on the 16-byte line hash (first-occurrence window),
    once on doc_id (reassembly groupBy). A third exchange would mean
    the window/groupBy stopped sharing the scan."""
    from graph_database_akkatyped_spark.operators import llm

    df = llm.dedup_lines(spark, SF_ORACLE)
    cols = read_schema_columns(df)
    assert set(cols) <= {"doc_id", "text"}, cols
    # shuffle Exchange nodes only: BroadcastExchange is a separate node
    assert node_counts(df)["Exchange"] <= 2, "extra shuffle"


def test_ivfadc_is_broadcast_only(spark):
    """IVFADC's probe and ADC lookups are broadcast-sized (centroids,
    the 5-query probe list, the ADC table); the only shuffles allowed
    are the codebook/code aggregations and the final per-query window
    — never a CartesianProduct or a shuffled join against the corpus."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    df = llm.simsearch_ivfadc(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, "quadratic probe"
    assert node_counts(df)["BroadcastHashJoin"] >= 2, (
        "probe/ADC lookup not broadcast"
    )


def test_rebalance_assignments_are_broadcast(spark):
    """Both assignment passes of the rebalance (frozen + recomputed
    centroids) must stream the corpus against a BROADCAST cell table —
    a shuffled assignment join would ship the corpus twice per Lloyd
    step at 100 TB."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    df = llm.simsearch_ivf_rebalance(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert node_counts(df)["BroadcastNestedLoopJoin"] >= 2, (
        "centroid tables not broadcast in the argmax passes"
    )


def test_bloom_prefilter_invisible_and_pruning(spark):
    """The bloom pre-pass must (1) change nothing in the answer — the
    filtered-then-joined aggregate equals the plain broadcast join's
    (no false negatives), (2) actually prune: the bloom membership
    predicate filters the orders scan BEFORE the join, visible as an
    xxhash64 filter in the plan, and the surviving row count at
    sf0.01 is well under the full table."""
    from graph_database_akkatyped_spark.operators import relational_extras as rx
    from graph_database_akkatyped_spark.plans.explain import formatted_plan
    from pyspark.sql import functions as F

    from graph_database_akkatyped_spark.catalog import load_table

    df = rx.join_bloom_prefilter(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "xxhash64" in plan, "bloom membership filter not in the plan"
    assert "BroadcastHashJoin" in plan, "small side not broadcast"

    got = {r.o_orderpriority: (r.n_orders, r.sum_price) for r in df.collect()}
    cust = load_table(spark, SF_ORACLE, "customer")
    orders = load_table(spark, SF_ORACLE, "orders")
    small = cust.where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    ).select("c_custkey")
    plain = (
        orders.join(
            F.broadcast(small), orders["o_custkey"] == small["c_custkey"]
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want_n = {r.o_orderpriority: r.n for r in plain.collect()}
    assert {k: v[0] for k, v in got.items()} == want_n
    # pruning really happened: matching orders are a small fraction
    assert sum(want_n.values()) < orders.count() / 2


def test_containment_smallside_probe_is_df_capped(spark):
    """Round-10 skew-guard lock: dedup_containment_smallside's
    candidate probe must carry the df <= _CONTAIN_DF_CAP filter (both
    probe sides are restricted to sub-cap grams) — the guard that
    bounds any one gram key's join fan-out at cap². A refactor that
    drops it reverts the 247,000-rows-through-one-task shape
    ``tools/rehearse.py skew boiler`` measures."""
    from graph_database_akkatyped_spark.operators import llm
    from graph_database_akkatyped_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.dedup_containment_smallside(spark, SF_ORACLE))
    assert f"<= {llm._CONTAIN_DF_CAP}" in plan, (
        "df-cap filter missing from the probe plan"
    )
    # both the sampling side and the posting side are capped: the
    # filter survives in (at least) two plan sites
    assert plan.count(f"<= {llm._CONTAIN_DF_CAP}") >= 2


def test_truss_incremental_materializes_triangles_once(spark):
    """Round-10 incremental-peel lock: a multi-round cascade must call
    the triangle enumeration (the O(Σ deg²) wedge join) exactly ONCE —
    the per-round re-enumeration was the round-8 rehearsal's 240 s
    wall. Counted by wrapping _tri_enumerate; the bowtie peels in two
    shrinking rounds plus a confirm, so a recompute formulation would
    call it three times."""
    from graph_database_akkatyped_spark.operators import algos

    calls = {"n": 0}
    real = algos._tri_enumerate

    def counting(e):
        calls["n"] += 1
        return real(e)

    bowtie = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], "a long, b long"
    )
    orig = algos._tri_enumerate
    algos._tri_enumerate = counting
    try:
        assert algos.truss_frame(bowtie).count() == 0  # 2-round cascade
    finally:
        algos._tri_enumerate = orig
    assert calls["n"] == 1, (
        f"incremental peel enumerated triangles {calls['n']}x; must be once"
    )


# Every registered key's plan is checked against its PLANS.json entry
# in tests/test_oracle_parity.py, on the frame that test builds. Five
# keys return a cut (a memo or a fixpoint's last generation), so their
# plan is one checkpoint scan; the functions that build their pre-cut
# frames are ledger entries of their own (``module:function``), checked here, as
# is the unregistered salted twin of dedup_embedding_cosine.
_UNREGISTERED = sorted(k for k in PLANS if ":" in k)


@pytest.mark.parametrize("frame", _UNREGISTERED)
def test_unregistered_plan_matches_ledger(spark, frame):
    module, name = frame.split(":")
    build = getattr(importlib.import_module(module), name)
    moved = plan_moves(frame, node_counts(build(spark, SF_ORACLE)))
    assert not moved, f"{frame}: plan moved from PLANS.json (ledger, now): {moved}"


def test_ledger_covers_registry_without_scale_killers():
    """The ledger's registered entries are exactly the registry; no
    entry plans a CartesianProduct, and Python UDF evaluation
    (BatchEvalPython) appears only in the UDF surface key."""
    from graph_database_akkatyped_spark.registry import collect

    queries, _ = collect()
    assert sorted(k for k in PLANS if ":" not in k) == sorted(queries)
    cartesian = {k: e["CartesianProduct"] for k, e in PLANS.items() if e.get("CartesianProduct")}
    assert not cartesian, cartesian
    python_udf = sorted(k for k, e in PLANS.items() if e.get("BatchEvalPython"))
    assert python_udf == ["udf_python"], python_udf
