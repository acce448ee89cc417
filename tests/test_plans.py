"""Physical-plan assertions: the scale properties Catalyst must deliver
(pushdown, broadcast, top-k, partial agg) — regression-guarded so a
refactor can't silently turn a broadcast join into a 100 TB shuffle."""

from __future__ import annotations

import pytest

from graph_database_akkatyped_spark.operators import relational
from graph_database_akkatyped_spark.sources import parquet as src
from graph_database_akkatyped_spark.plans.explain import (
    has_pushed_filter,
    node_counts,
    read_schema_columns,
    uses,
)
from tests.conftest import SF_ORACLE


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
    tools/dedup_skew_check.py 'boiler' measures."""
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


# Vector-search, dedup and graph plan shapes at sf0.01, counted node by
# node (physical plan, AQE's initial plan). Columns: shuffle Exchange,
# BroadcastExchange, BroadcastHashJoin, BroadcastNestedLoopJoin,
# SortMergeJoin, Window, parquet scans. Every key is assembled from
# shared stages: in operators/llm.py, for vector search the vector and
# query frames, _cell_means, _probe, _cos_topk, _nearest_cell and
# _pq_index, and for dedup the text hash, _shingles, _ngram_grams, the
# MinHash signature and band stages, _band_pairs, _jaccard_verify,
# _sign_bands and _cos_verify; for the graph family the stages at the
# head of operators/graph_build.py's user-graph section (_uedges_memo,
# _mirror, _sym, _degrees, _md5_int) and graph_extras' _dedges_memo,
# _succession, _backbone and ANF stages. A stage edit that adds a
# shuffle, turns a broadcast into a shuffled join or rescans an input
# shows up here as a changed count. _mmr_pool stands in for
# simsearch_mmr (whose result is a cut of its rerank fixpoint),
# _knn_graph_build for knn_graph_build, _ngram_pairs for
# dedup_ngram_jaccard and the two _link_predict_*_build builders for
# the link predictors (those keys memoize). Graph keys whose result is
# a cut (fixpoint or memoized kernels) have a one-scan plan and are not
# listed; tools/explain.py reports the jobs and stages their build ran.
_PLAN_SHAPES = {
    "simsearch_topk": (1, 1, 0, 1, 0, 1, 2),
    "_mmr_pool": (1, 1, 0, 1, 0, 1, 2),
    "simsearch_filtered_topk": (1, 1, 1, 0, 0, 1, 2),
    "simsearch_range": (0, 1, 0, 1, 0, 0, 2),
    "simsearch_ivf": (3, 2, 1, 1, 0, 2, 3),
    "_knn_graph_build": (14, 5, 2, 3, 1, 8, 7),
    "embedding_matryoshka_recall": (6, 2, 0, 2, 1, 3, 4),
    "simsearch_ivf_filtered": (3, 2, 1, 1, 0, 2, 3),
    "simsearch_recall_filtered": (8, 3, 2, 1, 1, 4, 5),
    "simsearch_ivf_partitioned": (4, 2, 1, 1, 0, 2, 3),
    "simsearch_ivf_append": (4, 2, 1, 1, 0, 1, 3),
    "simsearch_ivf_rebalance": (17, 5, 1, 4, 1, 4, 10),
    "simsearch_recall_rebalance": (24, 9, 2, 7, 2, 10, 15),
    "simsearch_pq": (7, 3, 3, 0, 0, 2, 4),
    "simsearch_ivfadc": (8, 5, 4, 1, 1, 3, 4),
    "simsearch_hybrid_rrf": (6, 2, 1, 1, 1, 3, 4),
    "simsearch_hard_negatives": (1, 1, 0, 1, 0, 1, 2),
    "simsearch_recall": (8, 3, 1, 2, 1, 4, 5),
    "simsearch_recall_pq": (12, 4, 3, 1, 1, 4, 6),
    "simsearch_recall_ivfadc": (13, 6, 4, 2, 2, 5, 6),
    "simsearch_greedy_graph": (104, 83, 52, 31, 26, 26, 114),
    "_ngram_pairs": (10, 0, 0, 0, 3, 0, 0),
    "dedup_exact": (1, 0, 0, 0, 0, 0, 1),
    "corpus_training_manifest": (1, 0, 0, 0, 0, 1, 1),
    "corpus_dedup_report": (6, 1, 1, 0, 1, 2, 2),
    "curation_filter_report": (1, 0, 0, 0, 0, 1, 1),
    "corpus_pipeline_funnel": (7, 5, 5, 0, 1, 1, 6),
    "corpus_source_overlap": (7, 3, 3, 0, 0, 0, 4),
    "decontam_ngram_overlap": (3, 2, 2, 0, 0, 0, 3),
    "dedup_containment": (10, 0, 0, 0, 3, 0, 0),
    "dedup_containment_smallside": (16, 0, 0, 0, 7, 1, 0),
    "dedup_banding_recall": (11, 4, 4, 0, 1, 0, 6),
    "text_minhash_signature": (1, 0, 0, 0, 0, 0, 0),
    "dedup_incremental": (10, 0, 0, 0, 3, 0, 0),
    "dedup_embedding_cosine": (1, 3, 3, 0, 0, 0, 4),
    "dedup_embedding_cosine_salted": (1, 3, 3, 0, 0, 0, 4),
    "dedup_semantic": (16, 10, 4, 6, 2, 3, 13),
    "dedup_semantic_recall": (13, 7, 2, 5, 2, 2, 10),
    "decontam_semantic": (3, 3, 3, 0, 1, 0, 5),
    "edge_jaccard": (6, 0, 0, 0, 3, 0, 0),
    "clustering_coefficient": (2, 0, 0, 0, 1, 0, 0),
    "graph_summary_stats": (2, 0, 0, 0, 0, 0, 0),
    "triangle_count_approx": (6, 1, 0, 1, 2, 0, 0),
    "degree_assortativity": (5, 0, 0, 0, 2, 0, 0),
    "community_modularity": (19, 3, 0, 3, 8, 0, 0),
    "community_louvain_multi": (2, 0, 0, 0, 1, 0, 0),
    "graph_reciprocity": (4, 1, 0, 1, 1, 0, 0),
    "motif_find_nonmutual": (3, 0, 0, 0, 1, 0, 0),
    "graph_rich_club": (10, 15, 10, 5, 0, 0, 0),
    "gnn_sample_fanout": (5, 3, 3, 0, 0, 3, 0),
    "graph_anf_accuracy": (10, 2, 2, 0, 2, 0, 4),
    "graph_effective_diameter": (6, 0, 0, 0, 0, 2, 0),
    "graph_random_walks": (1, 1, 0, 1, 0, 0, 1),
    "graph_node2vec_walks": (1, 1, 0, 1, 0, 0, 0),
    "path_shortest_bidirectional": (8, 1, 0, 1, 3, 0, 1),
    "_link_predict_jaccard_build": (9, 0, 0, 0, 4, 1, 0),
    "_link_predict_ra_build": (6, 0, 0, 0, 3, 1, 0),
}
_SHAPE_NODES = (
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "Window",
    "Scan parquet",
)


@pytest.mark.parametrize("name", sorted(_PLAN_SHAPES))
def test_vector_search_plan_shape(spark, name):
    from graph_database_akkatyped_spark.operators import (
        algos,
        centrality,
        curation,
        graph_extras,
        llm,
        motif,
    )

    modules = (llm, curation, algos, graph_extras, centrality, motif)
    build = next(getattr(m, name) for m in modules if hasattr(m, name))
    counts = node_counts(build(spark, SF_ORACLE))
    got = tuple(counts[n] for n in _SHAPE_NODES)
    assert dict(zip(_SHAPE_NODES, got)) == dict(
        zip(_SHAPE_NODES, _PLAN_SHAPES[name])
    ), counts
    assert counts["CartesianProduct"] == 0, counts
    assert counts["ShuffledHashJoin"] == 0, counts
