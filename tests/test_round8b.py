"""Property tests for the round-8 session-3 keys (skyline, k-anonymity,
readability, DSIR, Holt) — semantic invariants the hash oracle can't
express (the oracle proves Spark == DuckDB; these prove both == the
operator's CONTRACT)."""

from __future__ import annotations

import pandas as pd

from graph_database_akkatyped_spark.operators.behavior import timeseries_holt
from graph_database_akkatyped_spark.operators.curation import (
    _KANON_K,
    anonymize_k_anonymity,
)
from graph_database_akkatyped_spark.operators.llm import (
    corpus_dsir_weights,
    text_readability,
)
from graph_database_akkatyped_spark.operators.relational_extras import (
    skyline_pareto,
)
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_skyline_is_exactly_the_brute_force_frontier(spark):
    # brute-force dominance over ALL parts (not just prefilter
    # candidates) — proves the bucket prefilter is lossless
    part = spark.read.parquet(f"{SF_ORACLE}/part.parquet").toPandas()
    pts = list(
        zip(
            part["p_partkey"].astype("int64"),
            (part["p_retailprice"] * 100).round().astype("int64"),
            part["p_size"].astype("int64"),
        )
    )
    expected = set()
    for key, price, sz in pts:
        dominated = any(
            (p2 <= price) and (s2 >= sz) and ((p2 < price) or (s2 > sz))
            for _, p2, s2 in pts
        )
        if not dominated:
            expected.add(int(key))
    got = set(
        r.p_partkey for r in skyline_pareto(spark, SF_ORACLE).collect()
    )
    assert got == expected


def test_kanon_every_unsuppressed_class_reaches_k(spark):
    out = anonymize_k_anonymity(spark, SF_ORACLE).toPandas()
    grp = out[out.gen_level < 4].groupby(["gen_level", "class_label"])
    sizes = grp.size()
    assert (sizes >= _KANON_K).all(), sizes[sizes < _KANON_K]
    # class_n must equal the actual class size
    counted = grp["class_n"].nunique()
    assert (counted == 1).all()
    merged = sizes.rename("real_n").reset_index().merge(
        out[out.gen_level < 4].drop_duplicates(
            ["gen_level", "class_label"]
        )[["gen_level", "class_label", "class_n"]]
    )
    assert (merged.real_n == merged.class_n).all()
    # minimality: a record at level L>0 must NOT belong to a >=k class
    # at level 0 (spot-check the strongest claim cheaply)
    lev0_classes = set(
        out[out.gen_level == 0].class_label
    )  # all >=k by the assertion above
    assert not any(
        lbl in lev0_classes for lbl in out[out.gen_level > 0].class_label
    )


def test_readability_formula_spot_check(spark):
    out = text_readability(spark, SF_ORACLE).toPandas()
    r = out.iloc[0]
    W, S, Sy = int(r.n_words), int(r.n_sents), int(r.n_syll)
    fk = (390 * W * W + 11800 * Sy * S - 15590 * W * S) // (W * S)
    # the shift makes Spark's truncation a floor; python // floors too
    assert abs(int(r.fk_grade_milli) - fk) <= 1
    assert (out.n_sents >= 1).all()
    assert (out.n_syll <= out.n_words.max() * 30).all()


def test_dsir_selects_target_like_docs(spark):
    out = corpus_dsir_weights(spark, SF_ORACLE).toPandas()
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").toPandas()
    m = out.merge(docs[["doc_id", "lang"]], on="doc_id")
    sel_en = (m[m.selected].lang == "en").mean()
    rest_en = (m[~m.selected].lang == "en").mean()
    # importance weights must enrich the target language
    assert sel_en > rest_en
    assert m.selected.sum() == len(m) // 4  # ntile quartile


def test_sink_bucketed_join_plan_is_shuffle_free_below_the_join(spark):
    from graph_database_akkatyped_spark.plans.explain import (
        formatted_plan,
        node_counts,
    )
    from graph_database_akkatyped_spark.sources.parquet import (
        sink_bucketed_join,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = sink_bucketed_join(spark, SF_SMOKE)
        counts = node_counts(df)
        assert counts["SortMergeJoin"] == 1, counts
        # the ONLY exchange allowed is the post-join segment aggregate;
        # the join inputs must read co-located buckets shuffle-free
        assert counts["Exchange"] <= 1, formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_recommend_item_cosine_invariants(spark):
    from graph_database_akkatyped_spark.operators.relational_extras import (
        _REC_TOPK,
        recommend_item_cosine,
    )

    out = recommend_item_cosine(spark, SF_SMOKE).toPandas()
    assert (out.groupby("pi").size() <= _REC_TOPK).all()
    assert (out.cooc >= 1).all() and (out.score_q >= 0).all()
    # per-item ranks are 1..n without gaps and ordered by score
    for _, g in out.groupby("pi"):
        g = g.sort_values("rnk")
        assert list(g.rnk) == list(range(1, len(g) + 1))
        assert (g.score_q.diff().dropna() <= 0).all()


def test_rake_phrases_are_stopword_free_runs(spark):
    from graph_database_akkatyped_spark.operators.llm import (
        _STOPWORDS,
        text_keyword_rake,
    )

    out = text_keyword_rake(spark, SF_ORACLE).toPandas()
    assert len(out) > 0
    for phrase in out.phrase:
        assert phrase and not any(w in _STOPWORDS for w in phrase.split())
    assert (out.groupby("doc_id").size() <= 3).all()


def test_video_scenecut_decodes_the_whole_track(spark):
    from graph_database_akkatyped_spark.operators.llm import (
        _VD_MAX_FRAMES,
        multimodal_video_scenecut,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").toPandas()
    n_toks = {
        int(r.doc_id): min(len(r.text.split(" ")), _VD_MAX_FRAMES)
        for r in docs.itertuples()
    }
    out = multimodal_video_scenecut(spark, SF_ORACLE).toPandas()
    assert len(out) == len(docs)
    for r in out.itertuples():
        assert int(r.n_frames) == n_toks[int(r.doc_id)]
        assert 0 <= r.n_cuts < r.n_frames
        assert (r.first_cut_frame == -1) == (r.n_cuts == 0)


def test_funnel_time_percentiles_are_ordered(spark):
    from graph_database_akkatyped_spark.operators.relational_extras import (
        funnel_time_to_convert,
    )

    out = funnel_time_to_convert(spark, SF_ORACLE).toPandas()
    assert len(out) > 0
    assert (out.median_s > 0).all()
    assert (out.median_s <= out.p90_s).all()
    assert (out.p90_s <= out.max_s).all()


def test_dp_counts_noise_is_laplace_bounded(spark):
    from graph_database_akkatyped_spark.operators.curation import (
        anonymize_dp_counts,
    )

    cust = spark.read.parquet(f"{SF_ORACLE}/customer.parquet").toPandas()
    true_n = cust.groupby(["c_nationkey", "c_mktsegment"]).size()
    out = anonymize_dp_counts(spark, SF_ORACLE).toPandas()
    assert len(out) == len(true_n)
    for r in out.itertuples():
        n = true_n[(r.nationkey, r.seg)]
        # Laplace(b=1): |noise| > 20 has probability e^-20
        assert abs(r.noisy_milli6 / 1e6 - n) < 20


def test_anf_estimates_track_exact_two_hop_sizes(spark):
    from graph_database_akkatyped_spark.operators.graph_build import (
        user_edges_sym,
    )
    from graph_database_akkatyped_spark.operators.graph_extras import (
        graph_neighborhood_anf,
    )

    edges = user_edges_sym(spark, SF_SMOKE).toPandas()
    adj: dict[int, set[int]] = {}
    for a, b in zip(edges.a, edges.b):
        adj.setdefault(int(a), set()).add(int(b))
    exact = {}
    for v in adj:
        hop1 = adj[v] | {v}
        hop2 = set(hop1)
        for u in hop1:
            hop2 |= adj.get(u, set())
        exact[v] = len(hop2)
    out = graph_neighborhood_anf(spark, SF_SMOKE).toPandas()
    est_total = out.est_ppm.sum() / 1e6
    exact_total = sum(exact.get(int(v), 1) for v in out.user_id)
    # 8 FM sketches: per-vertex error is coarse, the AGGREGATE must
    # land within 2x of truth (and it does, comfortably)
    assert exact_total / 2 <= est_total <= exact_total * 2


def test_anf_accuracy_twin_brackets_the_estimate(spark):
    from graph_database_akkatyped_spark.operators.graph_extras import (
        graph_anf_accuracy,
    )

    out = graph_anf_accuracy(spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out.exact_n >= 1).all()
    # median per-vertex ratio (basis points) should sit around 1e4;
    # 8 FM sketches put almost all mass inside [0.25x, 4x]
    med = out.ratio_bp.median()
    assert 2500 <= med <= 40000, med


def test_pseudonymize_preserves_referential_integrity(spark):
    from graph_database_akkatyped_spark.operators.curation import (
        anonymize_pseudonymize,
    )

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").toPandas()
    out = anonymize_pseudonymize(spark, SF_ORACLE).toPandas()
    assert out.n_events.sum() == len(ev)
    assert len(out) == ev.user_id.nunique()  # no pseudonym collisions
    assert (out.pseudo_id != out.index).all()  # ids replaced, not raw


def test_spatial_grid_pair_total_matches_brute_force(spark):
    from graph_database_akkatyped_spark.operators.relational_extras import (
        _GRID_EPS_Q,
        join_spatial_grid,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").toPandas()
    import math

    pts = [
        (int(v), math.floor(e[0] * 1e6), math.floor(e[1] * 1e6))
        for v, e in zip(emb.vec_id, emb.embedding)
    ]
    brute = sum(
        1
        for i, (vi, xi, yi) in enumerate(pts)
        for vj, xj, yj in pts[i + 1:]
        if abs(xi - xj) <= _GRID_EPS_Q and abs(yi - yj) <= _GRID_EPS_Q
    )
    out = join_spatial_grid(spark, SF_ORACLE).toPandas()
    assert out.n_pairs.sum() == brute
    assert out.n_pts.sum() == len(pts)


def test_fk_audit_is_clean_on_fixtures_and_counts_rows(spark):
    from graph_database_akkatyped_spark.operators.relational_extras import (
        data_quality_fk_audit,
    )

    out = data_quality_fk_audit(spark, SF_ORACLE).toPandas()
    assert len(out) == 6
    assert (out.n_orphans == 0).all()  # driver fixtures are referentially clean
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").count()
    assert out[out.fk == "lineitem.l_orderkey"].n_child.iloc[0] == li


def test_effective_diameter_curve_is_monotone(spark):
    from graph_database_akkatyped_spark.operators.graph_extras import (
        graph_effective_diameter,
    )

    out = (
        graph_effective_diameter(spark, SF_SMOKE)
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert list(out.k) == [1, 2, 3]
    # N(k) never shrinks: masks only gain bits round over round
    assert (out.total_est_ppm.diff().dropna() >= 0).all()
    assert out.reach_bp.iloc[-1] == 10000
    assert out.is_effective_diameter.sum() == 1  # exactly one flagged


def test_rich_club_phi_is_a_valid_density(spark):
    from graph_database_akkatyped_spark.operators.graph_extras import (
        graph_rich_club,
    )

    out = graph_rich_club(spark, SF_SMOKE).toPandas().sort_values("k")
    assert list(out.k) == [2, 4, 8, 16, 32]
    assert (out.phi_ppm <= 1_000_000).all()  # density can't exceed 1
    assert (out.n_k.diff().dropna() <= 0).all()  # clubs shrink with k


def test_embedding_norm_audit_is_clean_on_fixture(spark):
    from graph_database_akkatyped_spark.operators.llm import (
        embedding_norm_audit,
    )

    out = embedding_norm_audit(spark, SF_ORACLE).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r.n_vecs == 500
    assert r.min_dim == r.max_dim  # consistent dimensionality
    assert r.n_bad_vecs == 0 and r.n_zero_norm == 0
    assert 0 < r.min_norm2_q <= r.max_norm2_q


def test_skyline_grouped_matches_per_brand_brute_force(spark):
    from graph_database_akkatyped_spark.operators.relational_extras import (
        skyline_grouped,
    )

    part = spark.read.parquet(f"{SF_ORACLE}/part.parquet").toPandas()
    expected = set()
    for brand, g in part.groupby("p_brand"):
        pts = list(
            zip(
                g.p_partkey.astype("int64"),
                (g.p_retailprice * 100).round().astype("int64"),
                g.p_size.astype("int64"),
            )
        )
        for key, price, sz in pts:
            if not any(
                (p2 <= price) and (s2 >= sz) and ((p2 < price) or (s2 > sz))
                for _, p2, s2 in pts
            ):
                expected.add((brand, int(key)))
    out = skyline_grouped(spark, SF_ORACLE).toPandas()
    got = set(zip(out.p_brand, out.p_partkey.astype("int64")))
    assert got == expected


def test_holt_backtest_error_is_consistent_with_the_smoother(spark):
    from graph_database_akkatyped_spark.operators.behavior import (
        timeseries_holt,
        timeseries_holt_backtest,
    )

    holt = timeseries_holt(spark, SF_SMOKE).toPandas()
    bt = timeseries_holt_backtest(spark, SF_SMOKE).toPandas()
    counts = holt.groupby("event_type").size()
    for r in bt.itertuples():
        assert r.n_steps == counts[r.event_type] - 1
        assert 0 <= r.mae_q <= r.max_abs_err_q <= r.total_abs_err_q


def test_bpe_fertility_covers_every_language(spark):
    from graph_database_akkatyped_spark.operators.llm import (
        text_bpe_fertility,
    )

    out = text_bpe_fertility(spark, SF_ORACLE).toPandas()
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").toPandas()
    assert set(out.lang) == set(docs.lang)
    # BPE can only MERGE characters: at least 1 token per word, and
    # fewer tokens than raw characters
    assert (out.fertility_milli >= 1000).all()


def test_streaming_holt_store_ledger_and_ordering_guards():
    import pandas as pd

    from graph_database_akkatyped_spark.operators.behavior import _HOLT_SHIFT
    from graph_database_akkatyped_spark.streaming.sinks import (
        StreamingHoltStore,
    )

    days = pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"])
    b0 = pd.DataFrame(
        {"event_type": ["x", "x"], "day": days[:2], "n": [10, 14]}
    )
    b1 = pd.DataFrame({"event_type": ["x"], "day": days[2:], "n": [12]})
    store = StreamingHoltStore()
    store.apply(b0, 0)
    store.apply(b1, 1)
    assert len(store.rows) == 3
    # replay of an applied batch is a ledger no-op
    store.apply(b1, 1)
    assert store.n_skipped_replays == 1 and len(store.rows) == 3
    # exact-match against the batch recurrence (init l1=x1, b1=x2-x1,
    # then advance through day 2 and day 3)
    s = _HOLT_SHIFT
    l, b = 10_000, 4_000
    for x in (14_000, 12_000):
        l_new = (x + 3 * (l + b) + 4 * s) // 4 - s
        b = ((l_new - l) + b + 2 * s) // 2 - s
        l = l_new
    assert store.rows[-1][3] == l and store.rows[-1][4] == b
    # out-of-order slice fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="out-of-order"):
        store.apply(
            pd.DataFrame(
                {"event_type": ["x"], "day": days[:1], "n": [9]}
            ),
            2,
        )


def test_holt_tracks_level_on_smoke_fixture(spark):
    out = timeseries_holt(spark, SF_SMOKE).toPandas()
    assert (out.groupby("event_type")["day"].count() >= 1).all()
    # smoothed level stays within the observed milli-count envelope
    # (alpha/beta in (0,1) make Holt a convex tracker after init)
    lo = out.n.min() * 1000 - abs(out.trend_q).max() * 3
    hi = out.n.max() * 1000 + abs(out.trend_q).max() * 3
    assert out.level_q.between(lo, hi).all()
