"""Training-corpus curation operators (extensions beyond SURVEY.md §2-G).

The ops a large-scale LLM training-data pipeline runs between raw
ingest and tokenization: benchmark decontamination (n-gram overlap of
the test split against the train split), PII redaction, repetition /
boilerplate scoring, corpus shape statistics, language re-balancing
weights, and text normalization.

Scale notes: every op here is linear in corpus size — explodes are
per-token, joins are equi-joins on shingle/gram strings (shuffle on the
gram key, never all-pairs), and everything stays in JVM expressions
(no Python in the row path). The decontamination join's build side (the
distinct shingle set of the *test* split, ~1/10 of the corpus,
deduplicated) is the natural broadcast candidate on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_database_akkatyped_spark.catalog import load_table
from graph_database_akkatyped_spark.operators.graph_build import _md5_int
from graph_database_akkatyped_spark.operators.llm import (
    _GRAM_FROM_TOKS,
    _TOKS,
    _cos_verify,
    _exact_keeper,
    _shingles,
    _sign_bands,
    _text_hash,
    _toks_frame,
)

# deterministic md5 split bucket — identical expression family to
# operators.llm.split_train_test (membership is a pure function of the
# id: stable across runs, engines, partitionings, appends)
_BUCKET = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) "
    "AS BIGINT) % 10"
)
_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10"
)

_GRAMS_SQL_CTE = """
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           list_slice(toks, 1, greatest(len(toks) - 2, 0)),
           (x, i) -> x || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
"""


def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every TRAIN-split document, count
    word-3-gram shingles that also occur anywhere in the TEST split;
    ``contaminated`` = ≥ 3 shared shingles (the n-gram-overlap rule used
    to scrub eval sets out of pretraining corpora).

    Shape at scale: the test shingle set is deduplicated (distinct g)
    and ~10x smaller than the corpus — broadcast it; the train side
    streams through a single equi-join on the gram string. No pairwise
    doc x doc comparison anywhere.

    Round-11 shape fix (guide §2.3, filter before the exchange): the
    train-side (doc_id, g) distinct used to run over EVERY train
    shingle — a corpus-sized exchange — before the test-set join
    dropped almost all of them (contamination is sparse by
    construction). The broadcast semi-filter now runs first and the
    distinct dedupes only the surviving shared shingles. Same counts:
    the test side is distinct so the join leaves multiplicity
    untouched, and filter-then-distinct keeps exactly the distinct
    (doc_id, g) pairs whose g is a test gram — precisely what
    distinct-then-filter kept."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "b", F.expr(_BUCKET)
    )
    train = docs.where(F.col("b") <= 7)
    test = docs.where(F.col("b") == 9)
    test_grams = _shingles(test).distinct()
    shared = (
        _shingles(train, "doc_id")
        .join(F.broadcast(test_grams), "g")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        train.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0).cast("long")).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= 3).alias("contaminated"),
        )
    )


_DECONTAM_SQL = f"""
WITH split AS (SELECT doc_id, text, {_BUCKET_SQL} AS b FROM documents),
tg AS MATERIALIZED (
  SELECT DISTINCT unnest(list_transform(
           list_slice(toks, 1, greatest(len(toks) - 2, 0)),
           (x, i) -> x || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
  FROM (SELECT string_split(text, ' ') AS toks FROM split WHERE b = 9)
),
trg AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           list_slice(toks, 1, greatest(len(toks) - 2, 0)),
           (x, i) -> x || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM split WHERE b <= 7)
),
shared AS (
  SELECT trg.doc_id, count(*) AS n_shared
  FROM trg JOIN tg ON tg.g = trg.g
  GROUP BY trg.doc_id
)
SELECT s.doc_id,
       COALESCE(shared.n_shared, 0) AS n_shared,
       COALESCE(shared.n_shared, 0) >= 3 AS contaminated
FROM split s LEFT JOIN shared ON shared.doc_id = s.doc_id
WHERE s.b <= 7
"""


# regex subset common to Java regex (Spark) and RE2-ish (DuckDB): char
# classes, bounded repeats, alternation — no lookarounds/backrefs
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_LONGNUM_RE = "[0-9]{6,}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: replace email addresses and long digit runs
    (account/phone-shaped) with typed placeholder tokens; report match
    counts and the md5 of the redacted text (hash keeps the checked
    output small while pinning every redacted byte).

    Pure regexp expressions — linear scan per document, embarrassingly
    parallel, no shuffle at all (narrow map-only plan).
    """
    docs = load_table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
        _LONGNUM_RE,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_email"),
        F.regexp_count("text", F.lit(_LONGNUM_RE)).alias("n_longnum"),
        F.length(red).alias("n_red_chars"),
        F.md5(red).alias("red_md5"),
    )


_PII_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER)
         AS n_email,
       CAST(len(regexp_extract_all(text, '{_LONGNUM_RE}')) AS INTEGER)
         AS n_longnum,
       CAST(length(red) AS INTEGER) AS n_red_chars,
       md5(red) AS red_md5
FROM (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_LONGNUM_RE}', '<NUM>', 'g') AS red
  FROM documents
)
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate score per document: duplicate-3-gram
    ratio (1 - distinct/total) and distinct-token ratio — the standard
    cheap filters for looped or template text. All higher-order array
    expressions; no explode, no shuffle (map-only)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tri = F.greatest(F.expr("size(toks) - 2"), F.lit(0))
    n_tri_d = F.size(F.array_distinct(F.expr(_GRAM_FROM_TOKS)))
    n_tok = F.expr("size(toks)")
    n_tok_d = F.expr("size(array_distinct(toks))")
    return _toks_frame(docs, "doc_id").select(
        "doc_id",
        n_tri.alias("n_tri"),
        n_tri_d.alias("n_tri_distinct"),
        F.when(n_tri > 0, F.round(1.0 - n_tri_d / n_tri, 6))
        .otherwise(F.lit(0.0))
        .alias("tri_dup_ratio"),
        F.when(n_tok > 0, F.round(n_tok_d / n_tok, 6))
        .otherwise(F.lit(0.0))
        .alias("tok_distinct_ratio"),
    )


_REPETITION_SQL = """
SELECT doc_id,
       CAST(n_tri AS INTEGER) AS n_tri,
       CAST(n_tri_d AS INTEGER) AS n_tri_distinct,
       CASE WHEN n_tri > 0
            THEN round(1.0 - CAST(n_tri_d AS DOUBLE) / n_tri, 6)
            ELSE 0.0 END AS tri_dup_ratio,
       CASE WHEN n_tok > 0
            THEN round(CAST(n_tok_d AS DOUBLE) / n_tok, 6)
            ELSE 0.0 END AS tok_distinct_ratio
FROM (
  SELECT doc_id,
         greatest(len(toks) - 2, 0) AS n_tri,
         len(list_distinct(list_transform(
           list_slice(toks, 1, greatest(len(toks) - 2, 0)),
           (x, i) -> x || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS n_tri_d,
         len(toks) AS n_tok,
         len(list_distinct(toks)) AS n_tok_d
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape: per (source, 250-char bucket) doc counts + exact
    char totals — the length histogram every curation run starts from.
    Integer bucket arithmetic (no float log buckets: log2 boundary
    rounding differs across libm implementations)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("len_bucket", (F.col("n_chars") / 250).cast("long"))
        .groupBy("source", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


_LENGTH_HIST_SQL = """
SELECT source,
       CAST(n_chars // 250 AS BIGINT) AS len_bucket,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY source, CAST(n_chars // 250 AS BIGINT)
"""


def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language re-balancing: per-language token counts, corpus share,
    and the sampling weight that equalizes languages (weight =
    equal-share tokens / actual tokens). One narrow agg + a scalar
    cross-joined total — the broadcast-friendly shape."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr(f"size({_TOKS})")).alias("n_tokens"),
    )
    totals = per_lang.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return per_lang.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("total_tokens"), 6).alias("share"),
        F.round(
            F.col("total_tokens")
            / (F.col("n_langs") * F.col("n_tokens")),
            6,
        ).alias("weight"),
    )


_MIX_SQL = """
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
totals AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         count(*) AS n_langs
  FROM per_lang
)
SELECT lang, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS share,
       round(CAST(total_tokens AS DOUBLE) / (n_langs * n_tokens), 6) AS weight
FROM per_lang, totals
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, collapse whitespace
    runs, trim) reported as (length, md5) so the checked output pins
    every byte without shipping the full text. Map-only, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    # explicit whitespace class: Java's \s includes \x0B, RE2's does not
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[ \t\n\r]+", " "))
    return docs.select(
        "doc_id",
        F.length(norm).alias("n_norm_chars"),
        F.md5(norm).alias("norm_md5"),
        (norm != F.col("text")).alias("changed"),
    )


_NORMALIZE_SQL = """
SELECT doc_id,
       CAST(length(norm) AS INTEGER) AS n_norm_chars,
       md5(norm) AS norm_md5,
       norm <> text AS changed
FROM (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')) AS norm
  FROM documents
)
"""


def curation_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit view of the curation pipeline: per document, keep/drop
    plus every reason that fired — duplicate (non-keeper of its exact
    hash group), too short/long, repetitive (>50% duplicate trigrams,
    decided in integer arithmetic), contains PII. The explain twin of
    ``corpus_training_manifest``: the manifest says what survived, this
    says why everything else didn't.

    One window (hash-keeper) over otherwise map-only expressions; the
    reason string is assembled in a fixed order so it is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "text",
        _text_hash().alias("text_hash"),
        F.expr(_TOKS).alias("toks"),
    )
    n_tok = F.size(F.col("toks"))
    n_tri = F.greatest(F.expr("size(toks) - 2"), F.lit(0))
    n_tri_d = F.size(F.array_distinct(F.expr(_GRAM_FROM_TOKS)))
    dup = ~_exact_keeper()
    short = n_tok < 5
    long_ = n_tok > 1000
    # dup-trigram ratio > 0.5, integer form: 2*(n_tri - distinct) > n_tri
    rep = (n_tri > 0) & ((n_tri - n_tri_d) * 2 > n_tri)
    pii = (
        F.regexp_count("text", F.lit(_EMAIL_RE))
        + F.regexp_count("text", F.lit(_LONGNUM_RE))
    ) > 0
    reasons = F.concat_ws(
        ",",
        F.when(dup, "dup"),
        F.when(short, "short"),
        F.when(long_, "long"),
        F.when(rep, "repetitive"),
        F.when(pii, "pii"),
    )
    return t.select(
        "doc_id",
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
    )


_FILTER_REPORT_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         sha256(lower(trim(text))) AS th,
         string_split(text, ' ') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, text, toks,
         doc_id <> min(doc_id) OVER (PARTITION BY th) AS dup,
         len(toks) AS n_tok,
         greatest(len(toks) - 2, 0) AS n_tri,
         len(list_distinct(list_transform(
           list_slice(toks, 1, greatest(len(toks) - 2, 0)),
           (x, i) -> x || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS n_tri_d
  FROM t
)
SELECT doc_id, reasons, reasons = '' AS keep FROM (
  SELECT doc_id,
         concat_ws(',',
           CASE WHEN dup THEN 'dup' END,
           CASE WHEN n_tok < 5 THEN 'short' END,
           CASE WHEN n_tok > 1000 THEN 'long' END,
           CASE WHEN n_tri > 0 AND (n_tri - n_tri_d) * 2 > n_tri
                THEN 'repetitive' END,
           CASE WHEN len(regexp_extract_all(text, '{_EMAIL_RE}'))
                     + len(regexp_extract_all(text, '{_LONGNUM_RE}')) > 0
                THEN 'pii' END) AS reasons
  FROM m
)
"""


def tombstone_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit: given a tombstoned user set
    (deterministic: ``user_id % 97 = 0``), count the rows each table
    would purge when the delete cascades along the FK chain
    (user -> events; user-as-customer -> orders -> lineitem) — the
    planning query run BEFORE executing a GDPR cascade, and the batch
    analog of the GraphDB journal's tombstone compaction (api.py).

    Shape: the victim set is broadcast (it is ~1% of users); every
    cascade level is a broadcast semi-join + count, so the audit costs
    one scan per table regardless of corpus size — no full-table
    anti-join materialization, no shuffle on the fact tables."""
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    victims = (
        events.select("user_id")
        .where(F.col("user_id") % 97 == 0)
        .distinct()
    )

    def audit(df: DataFrame, key: str, purge_keys: DataFrame, name: str):
        hit = df.join(
            F.broadcast(purge_keys.withColumnRenamed(purge_keys.columns[0], key)),
            key,
            "left_semi",
        )
        return (
            df.agg(F.count(F.lit(1)).alias("n_total"))
            .crossJoin(
                F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_purged")))
            )
            .select(
                F.lit(name).alias("table_name"),
                "n_purged",
                "n_total",
                # Guarded divide: an empty table yields 0.0 on both
                # engines (Spark NaN vs DuckDB NULL would split the
                # hash on degenerate inputs).
                F.when(
                    F.col("n_total") != F.lit(0),
                    F.col("n_purged").cast("double")
                    / F.col("n_total").cast("double"),
                )
                .otherwise(F.lit(0.0))
                .alias("purge_frac"),
            )
        )

    purged_orders = orders.join(
        F.broadcast(victims.withColumnRenamed("user_id", "o_custkey")),
        "o_custkey",
        "left_semi",
    ).select("o_orderkey")
    return (
        audit(events, "user_id", victims, "events")
        .unionByName(audit(cust, "c_custkey", victims, "customer"))
        .unionByName(audit(orders, "o_custkey", victims, "orders"))
        .unionByName(audit(li, "l_orderkey", purged_orders, "lineitem"))
    )


_TOMBSTONE_SQL = """
WITH victims AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
),
purged_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT user_id FROM victims)
)
SELECT 'events' AS table_name,
       (SELECT count(*) FROM events
        WHERE user_id IN (SELECT user_id FROM victims)) AS n_purged,
       (SELECT count(*) FROM events) AS n_total,
       CASE WHEN (SELECT count(*) FROM events) <> 0
            THEN CAST((SELECT count(*) FROM events
                       WHERE user_id IN (SELECT user_id FROM victims))
                      AS DOUBLE)
                   / CAST((SELECT count(*) FROM events) AS DOUBLE)
            ELSE 0.0 END AS purge_frac
UNION ALL
SELECT 'customer',
       (SELECT count(*) FROM customer
        WHERE c_custkey IN (SELECT user_id FROM victims)),
       (SELECT count(*) FROM customer),
       CASE WHEN (SELECT count(*) FROM customer) <> 0
            THEN CAST((SELECT count(*) FROM customer
                       WHERE c_custkey IN (SELECT user_id FROM victims))
                      AS DOUBLE)
                   / CAST((SELECT count(*) FROM customer) AS DOUBLE)
            ELSE 0.0 END
UNION ALL
SELECT 'orders',
       (SELECT count(*) FROM purged_orders),
       (SELECT count(*) FROM orders),
       CASE WHEN (SELECT count(*) FROM orders) <> 0
            THEN CAST((SELECT count(*) FROM purged_orders) AS DOUBLE)
                   / CAST((SELECT count(*) FROM orders) AS DOUBLE)
            ELSE 0.0 END
UNION ALL
SELECT 'lineitem',
       (SELECT count(*) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM purged_orders)),
       (SELECT count(*) FROM lineitem),
       CASE WHEN (SELECT count(*) FROM lineitem) <> 0
            THEN CAST((SELECT count(*) FROM lineitem
                       WHERE l_orderkey IN
                             (SELECT o_orderkey FROM purged_orders))
                      AS DOUBLE)
                   / CAST((SELECT count(*) FROM lineitem) AS DOUBLE)
            ELSE 0.0 END
"""


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style rule filter: the published heuristic
    battery (word count bounds, mean word length band, symbol-to-word
    ratio, ellipsis-line share stand-in, alpha-word fraction) with each
    rule's verdict emitted separately plus the conjunction — the
    transparent rule-based cut run before any model-based quality
    scoring. Every ratio compares INTEGER counts cross-multiplied
    (never a float threshold), so keep/drop is bit-stable. Map-only:
    one scan, no shuffle, embarrassingly parallel at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(_TOKS)
    n_tok = F.size(toks)
    # word chars = total chars - (n_tok - 1) separators
    n_word_chars = F.col("n_chars") - (n_tok - F.lit(1))
    n_alpha_tok = F.size(
        F.filter(toks, lambda t: t.rlike("^[a-z]+$"))
    )
    n_symbol = F.length(
        F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")
    )
    ok_n_words = (n_tok >= 25) & (n_tok <= 10000)
    # 4 <= mean word length <= 12, integer cross-multiplied (the
    # lower bound is tightened from Gopher's 3 so the rule genuinely
    # discriminates on the fixture corpus, whose means span 3.7-5.3)
    ok_word_len = (n_word_chars >= 4 * n_tok) & (
        n_word_chars <= 12 * n_tok
    )
    # symbols < 10% of tokens
    ok_symbols = n_symbol * 10 < n_tok
    # >= 70% of tokens purely alphabetic
    ok_alpha = n_alpha_tok * 10 >= 7 * n_tok
    return docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        n_alpha_tok.alias("n_alpha_tok"),
        n_symbol.cast("long").alias("n_symbol_chars"),
        ok_n_words.alias("ok_n_words"),
        ok_word_len.alias("ok_word_len"),
        ok_symbols.alias("ok_symbols"),
        ok_alpha.alias("ok_alpha"),
        (ok_n_words & ok_word_len & ok_symbols & ok_alpha).alias("keep"),
    )


_GOPHER_SQL = """
WITH base AS (
  SELECT doc_id, text, n_chars,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
),
feat AS (
  SELECT doc_id, n_tok,
         n_chars - (n_tok - 1) AS n_word_chars,
         len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
           AS n_alpha_tok,
         length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_symbol
  FROM base
)
SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
       CAST(n_alpha_tok AS INTEGER) AS n_alpha_tok,
       CAST(n_symbol AS BIGINT) AS n_symbol_chars,
       n_tok >= 25 AND n_tok <= 10000 AS ok_n_words,
       n_word_chars >= 4 * n_tok AND n_word_chars <= 12 * n_tok
         AS ok_word_len,
       n_symbol * 10 < n_tok AS ok_symbols,
       n_alpha_tok * 10 >= 7 * n_tok AS ok_alpha,
       (n_tok >= 25 AND n_tok <= 10000)
         AND (n_word_chars >= 4 * n_tok AND n_word_chars <= 12 * n_tok)
         AND (n_symbol * 10 < n_tok)
         AND (n_alpha_tok * 10 >= 7 * n_tok) AS keep
FROM feat
"""


_QHL_BUCKETS = 1024  # hashed feature space size
_QHL_WRANGE = 21     # pseudo-weight domain: (bucket % 21) - 10 in [-10, 10]


def quality_hashed_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-SHAPED quality classifier scoring: hash each token
    into a ``_QHL_BUCKETS``-bucket feature space (md5 prefix, the
    hashing trick), join the per-(doc, bucket) counts against a
    broadcast WEIGHT TABLE, and emit the integer dot product — the
    exact plumbing of the linear quality filters (fastText / logistic
    over hashed n-grams) every production corpus pipeline runs in
    front of training. The weights here are a deterministic pseudo
    model (w = bucket % 21 − 10) because no trained artifact belongs
    in the fixtures; production swaps ONLY the weights DataFrame (one
    broadcast join — the score path is identical), and the docstring
    is explicit that the numbers are not a real quality judgment.

    Determinism/scale: the score is Σ count(bucket)·w(bucket) over
    integers — exact, order-free, hash-oracle-able. One token explode
    (linear), one groupBy on (doc_id, bucket), one broadcast join
    against the 1024-row weight table, one grouped integer sum. No
    doubles anywhere; label = sign of the integer score."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("token"))
    bucket = _md5_int("", 8, "token") % _QHL_BUCKETS
    counts = (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    weights = spark.range(_QHL_BUCKETS).select(
        F.col("id").alias("bucket"),
        (F.col("id") % _QHL_WRANGE - (_QHL_WRANGE - 1) // 2).alias("w"),
    )
    return (
        counts.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tc").alias("n_toks"),
            F.sum(F.col("tc") * F.col("w")).alias("score_int"),
        )
        .select(
            "doc_id",
            "n_toks",
            "score_int",
            (F.col("score_int") > 0).alias("keep"),
        )
    )


_QHL_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)
           % {_QHL_BUCKETS} AS bucket,
         CAST(count(*) AS BIGINT) AS tc
  FROM toks GROUP BY 1, 2
),
weights AS (
  SELECT i AS bucket,
         CAST(i % {_QHL_WRANGE} - {(_QHL_WRANGE - 1) // 2} AS BIGINT) AS w
  FROM generate_series(0, {_QHL_BUCKETS - 1}) t(i)
)
SELECT c.doc_id, CAST(sum(c.tc) AS BIGINT) AS n_toks,
       CAST(sum(c.tc * w.w) AS BIGINT) AS score_int,
       sum(c.tc * w.w) > 0 AS keep
FROM counts c JOIN weights w USING (bucket)
GROUP BY c.doc_id
"""


def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one funnel: how many documents
    survive each stage of the standard pretraining-corpus sequence —
    quality rules → exact dedup → near dedup → decontamination — with
    per-stage in/out/dropped counts. This is the report a pipeline
    owner actually reads (each stage exists as its own audited key;
    this key is their composition, sharing the memoized near-dup pair
    frame with dedup_clusters/corpus_dedup_report).

    Stage flags are GLOBAL per-document verdicts (gopher keep, exact
    min-id keeper, near-dup cluster keeper, not-contaminated), applied
    as a sequential conjunction — i.e. the funnel reports how the
    standard order thins the corpus, not a re-clustering of each
    stage's survivors (re-clustering survivors-only would change
    keeper choices mid-funnel and make the stages non-auditable
    against their standalone keys). Decontamination only ever drops
    TRAIN-split documents (the rule's scope); val/test pass through.

    One scan per flag source, joins on doc_id (the natural hash key),
    final aggregate is five integer sums on one row — linear, and the
    expensive near-dup stage is the already-memoized pair frame."""
    from graph_database_akkatyped_spark.operators.llm import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    q = quality_gopher_rules(spark, sf_dir).select("doc_id", "keep")
    e = (
        docs.select("doc_id", _text_hash().alias("text_hash"))
        .withColumn("e_keep", _exact_keeper())
        .select("doc_id", "e_keep")
    )
    n = dedup_clusters(spark, sf_dir).select(
        "doc_id", F.col("is_keeper").alias("n_keep")
    )
    c = decontam_ngram_overlap(spark, sf_dir).select(
        "doc_id", "contaminated"
    )
    flags = (
        docs.select("doc_id")
        .join(q, "doc_id")
        .join(e, "doc_id")
        .join(n, "doc_id")
        .join(c, "doc_id", "left")
        .select(
            "doc_id",
            F.col("keep").alias("f1"),
            (F.col("keep") & F.col("e_keep")).alias("f2"),
            (F.col("keep") & F.col("e_keep") & F.col("n_keep")).alias("f3"),
            (
                F.col("keep")
                & F.col("e_keep")
                & F.col("n_keep")
                & ~F.coalesce("contaminated", F.lit(False))
            ).alias("f4"),
        )
    )
    totals = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("f1").cast("long")).alias("n1"),
        F.sum(F.col("f2").cast("long")).alias("n2"),
        F.sum(F.col("f3").cast("long")).alias("n3"),
        F.sum(F.col("f4").cast("long")).alias("n4"),
    )
    return totals.selectExpr(
        "stack(4, "
        "1, 'quality_rules', n0, n1, "
        "2, 'exact_dedup',   n1, n2, "
        "3, 'near_dedup',    n2, n3, "
        "4, 'decontam',      n3, n4"
        ") AS (stage_idx, stage, n_in, n_out)"
    ).withColumn("n_dropped", F.col("n_in") - F.col("n_out"))


def _funnel_sql() -> str:
    from graph_database_akkatyped_spark.operators.llm import (
        _DEDUP_CLUSTERS_SQL,
    )

    return f"""
WITH g AS MATERIALIZED ({_GOPHER_SQL}),
e AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (
           PARTITION BY sha256(lower(trim(text)))) AS e_keep
  FROM documents
),
n AS MATERIALIZED (SELECT doc_id, is_keeper FROM ({_DEDUP_CLUSTERS_SQL})),
c AS MATERIALIZED ({_DECONTAM_SQL}),
flags AS (
  SELECT d.doc_id, g.keep AS f1,
         g.keep AND e.e_keep AS f2,
         g.keep AND e.e_keep AND n.is_keeper AS f3,
         g.keep AND e.e_keep AND n.is_keeper
           AND NOT COALESCE(c.contaminated, FALSE) AS f4
  FROM documents d
  JOIN g ON g.doc_id = d.doc_id
  JOIN e ON e.doc_id = d.doc_id
  JOIN n ON n.doc_id = d.doc_id
  LEFT JOIN c ON c.doc_id = d.doc_id
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM flags
)
SELECT 1 AS stage_idx, 'quality_rules' AS stage, n0 AS n_in, n1 AS n_out,
       n0 - n1 AS n_dropped FROM t
UNION ALL
SELECT 2, 'exact_dedup', n1, n2, n1 - n2 FROM t
UNION ALL
SELECT 3, 'near_dedup', n2, n3, n2 - n3 FROM t
UNION ALL
SELECT 4, 'decontam', n3, n4, n3 - n4 FROM t
"""


_VEC_BUCKET = (
    "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) "
    "AS BIGINT) % 10"
)
_VEC_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 10"
)
_DECONTAM_SEM_COS = 0.30  # fixture-calibrated like dedup_semantic's tau


def decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space twin of
    ``decontam_ngram_overlap``: for every EVAL-split vector (md5
    bucket ≥ 8, the val+test share of split_train_test's 8/1/1), find
    train-split vectors with cosine ≥ ``_DECONTAM_SEM_COS`` and report
    how contaminated the eval member is (n_train_near, max_cos).
    N-gram overlap catches verbatim leaks; this catches paraphrased /
    re-rendered leaks that share no surface n-grams — the audit both
    the benchmark-hygiene and dataset-release literature now expect.

    Scale shape: candidates come from the ``_sign_bands`` 8-band
    sign-LSH, but as a TRAIN × EVAL bipartite equi-join on (band, key)
    — never the |train|·|eval| cross product; only banded candidates
    get the exact-dot verify (``_cos_verify``).
    Band recall rises with the threshold, so at the production
    setting (near-duplicate leaks, τ ≥ 0.9) the bands are a
    high-recall pruner; the fixture τ of 0.30 exercises the same
    plumbing on synthetic embeddings. Both engines compute the
    identical banded candidate set, so even max_cos value-hashes.
    Output: one row per eval vector (clean rows keep NULL max_cos),
    linear in corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "b", F.expr(_VEC_BUCKET)
    )
    banded = _sign_bands(emb, "b")
    # a train x eval join, not a self-join: each side keeps its own
    # filter and there is no a < b, so it stays out of _band_pairs
    cand = (
        banded.where(F.col("b") <= 7)
        .select(F.col("vec_id").alias("t"), "band", "key")
        .join(
            banded.where(F.col("b") >= 8)
            .select(F.col("vec_id").alias("v"), "band", "key"),
            ["band", "key"],
        )
        .select("t", "v")
        .distinct()
    )
    hits = (
        _cos_verify(cand, emb, "t", "v", _DECONTAM_SEM_COS)
        .groupBy(F.col("v").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n_train_near"),
            F.max("cos").alias("max_cos"),
        )
    )
    return (
        emb.where(F.col("b") >= 8)
        .select("vec_id")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_train_near", F.lit(0)).alias("n_train_near"),
            "max_cos",
            (F.coalesce("n_train_near", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _decontam_sem_sql() -> str:
    from graph_database_akkatyped_spark.operators.llm import (
        _EMB_BANDS,
        _sign_band_key_sql,
        _sql_dot,
    )

    banded_union = " UNION ALL ".join(
        f"SELECT vec_id, b, {k} AS band, {_sign_band_key_sql(k)} AS key "
        f"FROM emb"
        for k in range(_EMB_BANDS)
    )
    return f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, embedding, {_VEC_BUCKET_SQL} AS b FROM embeddings
),
banded AS MATERIALIZED ({banded_union}),
cand AS MATERIALIZED (
  SELECT DISTINCT b1.vec_id AS t, b2.vec_id AS v
  FROM banded b1
  JOIN banded b2 ON b1.band = b2.band AND b1.key = b2.key
  WHERE b1.b <= 7 AND b2.b >= 8
),
e AS MATERIALIZED (
  SELECT vec_id, embedding,
         {_sql_dot('embedding', 'embedding')} AS nrm
  FROM emb
),
hits AS (
  SELECT c.v AS vec_id, CAST(count(*) AS BIGINT) AS n_train_near,
         max(cos) AS max_cos
  FROM (
    SELECT c.t, c.v,
           {_sql_dot('e1.embedding', 'e2.embedding')}
             / (sqrt(e1.nrm) * sqrt(e2.nrm)) AS cos
    FROM cand c JOIN e e1 ON e1.vec_id = c.t JOIN e e2 ON e2.vec_id = c.v
  ) c
  WHERE cos >= {_DECONTAM_SEM_COS}
  GROUP BY c.v
)
SELECT ev.vec_id,
       CAST(COALESCE(h.n_train_near, 0) AS BIGINT) AS n_train_near,
       h.max_cos,
       COALESCE(h.n_train_near, 0) > 0 AS contaminated
FROM (SELECT vec_id FROM emb WHERE b >= 8) ev
LEFT JOIN hits h USING (vec_id)
"""


_PSEUDO_SALT = "corpus-release-2024"  # rotate per release


def anonymize_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization of user identifiers across the event
    journal — the third leg of the privacy family (k-anonymity hides
    in crowds, DP bounds leakage, pseudonymization REPLACES the
    identifier while preserving referential integrity so joins and
    sessionization still work on the released data). Each user_id maps
    to the first 60 bits of md5(salt|user_id); the salt rotates per
    release, so pseudonyms are stable WITHIN a release and unlinkable
    ACROSS releases (swap md5 for keyed HMAC-SHA256 in production —
    same query shape).

    Output: per-pseudonym activity summary (event count, distinct
    types, first/last hour) — the released table never carries the raw
    id, and the groupBy proves integrity: rows per pseudonym ==
    rows per original user. Map + one hash aggregate, linear at
    100 TB; the pseudonym expression is a pure per-row function, so it
    parallelizes with zero state."""
    ev = load_table(spark, sf_dir, "events")
    pseudo = _md5_int("|", 15, F.lit(_PSEUDO_SALT), "user_id")
    return (
        ev.withColumn("pseudo_id", pseudo)
        .groupBy("pseudo_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.date_trunc("hour", F.min("ts")).alias("first_hour"),
            F.date_trunc("hour", F.max("ts")).alias("last_hour"),
        )
    )


_PSEUDO_SQL = f"""
SELECT CAST('0x' || substr(md5('{_PSEUDO_SALT}' || '|' ||
                            CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
         AS pseudo_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS first_hour,
       date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS last_hour
FROM events
GROUP BY 1
"""


_DP_EPS_INV = 1  # b = sensitivity/epsilon = 1/1 (count queries)
_DP_Q = 1_000_000  # milli^2 noise quantization


def anonymize_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of the customer (nation, segment)
    contingency table: Laplace(b = 1/ε, ε = 1) noise on every count —
    the other standard privacy mechanism next to
    ``anonymize_k_anonymity`` (k-anonymity hides individuals in
    crowds; DP bounds what ANY release reveals about one record).

    The noise draw is DERANDOMIZED for testability: u comes from the
    md5 of the class label ((h + 0.5)/2^60 with h the first 60
    md5 bits — an exact dyadic rational, so ``1 − 2|u − ½|`` is
    computed EXACTLY in IEEE on both engines), and the Laplace inverse
    CDF's single ``ln`` is floored into a ``_DP_Q``-scaled BIGINT
    before it touches the count (sampling.py's logprob discipline). A
    production deployment swaps the seeded hash for a CSPRNG — the
    query shape (one groupBy, one map over the |classes|-row
    aggregate) is unchanged and stays linear at 100 TB.

    Output: class label and the noisy count in ``_DP_Q`` units
    (noisy_milli6 = 1e6·n + noise_q) — the TRUE count never appears
    in the release."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count(F.lit(1)).alias("n"))
    h = _md5_int("|", 15, "nationkey", "seg")
    u = (h.cast("double") + 0.5) / F.lit(float(1 << 60))
    # Clamp at 2^-60: when h is within ~64 of 2^60 the double rounding
    # of (h+0.5)/2^60 can yield u == 1.0 exactly, making t = 0 and
    # -ln(0) = +inf — floor(inf) silently wraps on Spark but errors on
    # DuckDB (round-8 ADVICE curation.py:1027). 2^-60 is an exact
    # dyadic double, so the clamp itself is engine-exact.
    t = F.greatest(
        1.0 - 2.0 * F.abs(u - 0.5), F.lit(2.0 ** -60)
    )  # exact dyadic in (0, 1]
    sign = F.when(u >= 0.5, F.lit(-1)).otherwise(F.lit(1))
    noise_q = (
        sign * F.floor(-F.log(t) * _DP_Q * _DP_EPS_INV)
    ).cast("long")
    return classes.select(
        "nationkey",
        "seg",
        (F.col("n") * _DP_Q + noise_q).alias("noisy_milli6"),
    )


_DP_SQL = f"""
WITH classes AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
),
seeded AS (
  SELECT nationkey, seg, n,
         (CAST(CAST('0x' || substr(md5(concat_ws('|', nationkey, seg)),
                                   1, 15) AS BIGINT) AS DOUBLE) + 0.5)
           / {float(1 << 60)} AS u
  FROM classes
)
SELECT nationkey, seg,
       n * {_DP_Q}
       + CAST(CASE WHEN u >= 0.5 THEN -1 ELSE 1 END
              * floor(-ln(greatest(1.0 - 2.0 * abs(u - 0.5),
                                   {2.0 ** -60!r}))
                      * {_DP_Q} * {_DP_EPS_INV}) AS BIGINT)
         AS noisy_milli6
FROM seeded
"""


_KANON_K = 5
_KANON_SHIFT = 1_000_000  # cents; > |min balance|, keeps div = floor div


def anonymize_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization over customer quasi-identifiers
    (nation, market segment, account balance) — the privacy pass a
    pipeline runs before user-derived records can enter a training
    mix. Each record reports the LEAST-general level of a fixed
    generalization ladder at which its equivalence class reaches
    k = ``_KANON_K``:

      L0 (nation, segment, $1000 balance bucket)
      L1 (nation, segment, balance sign)
      L2 (nation, segment)          -- balance fully generalized
      L3 (region, segment)          -- nation -> region roll-up
      L4 suppressed                 -- still < k at maximum generality

    The guarantee is on the RELEASE, not the population: a class
    resolved at level L counts only records NOT already resolved at a
    finer level (records released at L0 leave their (nation, segment)
    siblings behind — naive population counts would let an attacker
    see a level-2 label shared by fewer than k released rows). So the
    cascade runs on the class tables themselves: L0 class sizes; L1
    sums only the n0 < k remainders; L2 sums the n1 < k remainders;
    L3 rolls the n2 < k remainders up nation->region.

    Shape: the cascade is four aggregates over CLASS tables (bounded
    by the ladder's domain, orders of magnitude smaller than the
    data); records join the final class table by their L0 key — one
    broadcast join onto the record stream, linear at 100 TB, no
    window over the raw table, no self-join. The nation->region
    dimension is a broadcast of a 25-row table.

    Exactness: balances become cents via DECIMAL(18,2) (exact both
    engines); buckets use a +``_KANON_SHIFT`` shift so integer `div`
    (truncate toward zero, Spark) and `//` (floor, DuckDB) agree on
    the negative balances the fixture contains. All class labels are
    strings built from exact integers."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        cust.join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("c_nationkey"),
                    F.col("n_regionkey").alias("regionkey"),
                )
            ),
            "c_nationkey",
        )
        .select(
            "c_custkey",
            "c_nationkey",
            "regionkey",
            F.col("c_mktsegment").alias("seg"),
            (F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("bal_c"),
        )
        .withColumn(
            "b1000", F.expr(f"(bal_c + {_KANON_SHIFT}) div 100000")
        )
        .withColumn("neg", (F.col("bal_c") < 0).cast("int"))
    )
    k = _KANON_K
    # cascade over CLASS tables: each level counts only the remainder
    # (b1000 fixes the sign of bal_c, so neg/regionkey are constant
    # within an L0 class and ride along for free)
    c0 = base.groupBy("c_nationkey", "regionkey", "seg", "b1000", "neg").agg(
        F.count(F.lit(1)).alias("n0")
    )
    c1 = (
        c0.where(F.col("n0") < k)
        .groupBy("c_nationkey", "seg", "neg")
        .agg(F.sum("n0").alias("n1"))
    )
    c2 = (
        c1.where(F.col("n1") < k)
        .groupBy("c_nationkey", "seg")
        .agg(F.sum("n1").alias("n2"))
    )
    c3 = (
        c2.where(F.col("n2") < k)
        .join(
            F.broadcast(
                c0.select("c_nationkey", "regionkey").distinct()
            ),
            "c_nationkey",
        )
        .groupBy("regionkey", "seg")
        .agg(F.sum("n2").alias("n3"))
    )
    classes = (
        c0.join(F.broadcast(c1), ["c_nationkey", "seg", "neg"], "left")
        .join(F.broadcast(c2), ["c_nationkey", "seg"], "left")
        .join(F.broadcast(c3), ["regionkey", "seg"], "left")
        .select(
            "c_nationkey",
            "regionkey",
            "seg",
            "b1000",
            "neg",
            "n0",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
            F.coalesce("n3", F.lit(0)).alias("n3"),
        )
    )
    joined = base.join(
        F.broadcast(classes),
        ["c_nationkey", "regionkey", "seg", "b1000", "neg"],
    )
    level = (
        F.when(F.col("n0") >= k, F.lit(0))
        .when(F.col("n1") >= k, F.lit(1))
        .when(F.col("n2") >= k, F.lit(2))
        .when(F.col("n3") >= k, F.lit(3))
        .otherwise(F.lit(4))
    )
    label = (
        F.when(
            F.col("gen_level") == 0,
            F.concat_ws(
                "|", "c_nationkey", "seg", F.col("b1000").cast("string")
            ),
        )
        .when(
            F.col("gen_level") == 1,
            F.concat_ws(
                "|", "c_nationkey", "seg", F.col("neg").cast("string")
            ),
        )
        .when(F.col("gen_level") == 2, F.concat_ws("|", "c_nationkey", "seg"))
        .when(
            F.col("gen_level") == 3,
            F.concat_ws("|", F.lit("r"), "regionkey", "seg"),
        )
        .otherwise(F.lit("*"))
    )
    class_n = (
        F.when(F.col("gen_level") == 0, F.col("n0"))
        .when(F.col("gen_level") == 1, F.col("n1"))
        .when(F.col("gen_level") == 2, F.col("n2"))
        .when(F.col("gen_level") == 3, F.col("n3"))
        .otherwise(F.lit(0))
    )
    return (
        joined.withColumn("gen_level", level)
        .select(
            "c_custkey",
            "gen_level",
            label.alias("class_label"),
            class_n.cast("long").alias("class_n"),
        )
        .orderBy("c_custkey")
    )


_KANON_SQL = f"""
WITH base AS (
  SELECT c_custkey, c_nationkey, n_regionkey AS regionkey,
         c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
base2 AS (
  SELECT *,
         (bal_c + {_KANON_SHIFT}) // 100000 AS b1000,
         CASE WHEN bal_c < 0 THEN 1 ELSE 0 END AS neg
  FROM base
),
c0 AS (SELECT c_nationkey, regionkey, seg, b1000, neg,
              CAST(count(*) AS BIGINT) AS n0
       FROM base2 GROUP BY 1, 2, 3, 4, 5),
c1 AS (SELECT c_nationkey, seg, neg, CAST(sum(n0) AS BIGINT) AS n1
       FROM c0 WHERE n0 < {_KANON_K} GROUP BY 1, 2, 3),
c2 AS (SELECT c_nationkey, seg, CAST(sum(n1) AS BIGINT) AS n2
       FROM c1 WHERE n1 < {_KANON_K} GROUP BY 1, 2),
c3 AS (SELECT regionkey, seg, CAST(sum(n2) AS BIGINT) AS n3
       FROM c2
       JOIN (SELECT DISTINCT c_nationkey, regionkey FROM c0)
         USING (c_nationkey)
       WHERE n2 < {_KANON_K} GROUP BY 1, 2),
lev AS (
  SELECT b.*,
         n0,
         COALESCE(n1, 0) AS n1,
         COALESCE(n2, 0) AS n2,
         COALESCE(n3, 0) AS n3,
         CASE WHEN n0 >= {_KANON_K} THEN 0
              WHEN COALESCE(n1, 0) >= {_KANON_K} THEN 1
              WHEN COALESCE(n2, 0) >= {_KANON_K} THEN 2
              WHEN COALESCE(n3, 0) >= {_KANON_K} THEN 3
              ELSE 4 END AS gen_level
  FROM base2 b
  JOIN c0 USING (c_nationkey, regionkey, seg, b1000, neg)
  LEFT JOIN c1 USING (c_nationkey, seg, neg)
  LEFT JOIN c2 USING (c_nationkey, seg)
  LEFT JOIN c3 USING (regionkey, seg)
)
SELECT c_custkey,
       gen_level,
       CASE gen_level
         WHEN 0 THEN concat_ws('|', c_nationkey, seg, b1000)
         WHEN 1 THEN concat_ws('|', c_nationkey, seg, neg)
         WHEN 2 THEN concat_ws('|', c_nationkey, seg)
         WHEN 3 THEN concat_ws('|', 'r', regionkey, seg)
         ELSE '*' END AS class_label,
       CAST(CASE gen_level
         WHEN 0 THEN n0 WHEN 1 THEN n1 WHEN 2 THEN n2
         WHEN 3 THEN n3 ELSE 0 END AS BIGINT) AS class_n
FROM lev
ORDER BY c_custkey
"""


_LDIV_L = 3  # each released class must span >= l sensitive values


def anonymize_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the third leg of the privacy triad next to
    ``anonymize_k_anonymity`` (crowd size) and ``anonymize_dp_counts``
    (noise): k-anonymity alone fails when a quasi-identifier class is
    homogeneous in the SENSITIVE attribute (everyone in the class is
    'debt' — the attacker learns the secret without identifying the
    row). Per (nation, segment) class this reports the record count,
    how many distinct sensitive values (the fn_conditional balance
    band: debt / low / high) the class spans, and whether it meets
    l >= ``_LDIV_L``.

    Shape: ONE groupBy over the quasi-identifier domain with a
    count-distinct on a 3-value category — map-side combinable, one
    shuffle bounded by |classes|, exactly linear at 100 TB. Fully
    exact in both engines (no scorecard flags needed — the audit IS
    integer arithmetic)."""
    cust = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, F.lit("debt"))
        .when(F.col("c_acctbal") < 5000, F.lit("low"))
        .otherwise(F.lit("high"))
    )
    g = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("seg"),
        band.alias("band"),
    ).groupBy("nationkey", "seg").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("band").alias("n_sensitive"),
    )
    return g.select(
        "nationkey",
        "seg",
        "n_rows",
        "n_sensitive",
        (F.col("n_sensitive") >= _LDIV_L).cast("int").alias("l_diverse"),
    )


_LDIV_SQL = f"""
SELECT c_nationkey AS nationkey, c_mktsegment AS seg,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
                                WHEN c_acctbal < 5000 THEN 'low'
                                ELSE 'high' END) AS BIGINT) AS n_sensitive,
       CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
                                WHEN c_acctbal < 5000 THEN 'low'
                                ELSE 'high' END) >= {_LDIV_L}
            AS INTEGER) AS l_diverse
FROM customer
GROUP BY 1, 2
"""


_TCLOSE_T_BP = 2500  # release gate: EMD(class, global) <= 0.25


def anonymize_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the fourth leg of the privacy family
    (k-anonymity: crowd size; l-diversity: sensitive-value SPREAD;
    t-closeness: sensitive-value DISTRIBUTION): a class can be
    l-diverse yet still leak if its distribution over the sensitive
    attribute (the ordered debt/low/high balance band) is far from the
    population's — e.g. 90% 'debt' in one nation+segment vs 10%
    globally tells an attacker the secret with high confidence. Per
    (nation, segment) class this reports the Earth Mover's Distance to
    the global band distribution (for an ordinal attribute with unit
    ground distance: mean |cumulative difference| over the L-1 prefix
    cuts), in basis points, plus the t <= 0.25 release flag.

    Exactness: the EMD is two |cross-multiplied prefix differences|
    over exact counts, widened through DECIMAL(38,0)/HUGEINT before
    the single integral divide — no floats, so both engines agree
    bit-exactly at ANY population size. Shape: one groupBy over the
    quasi-identifier domain + a broadcast of the 1-row global
    distribution; linear at 100 TB."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") < 0).cast("long").alias("b1"),
        (
            (F.col("c_acctbal") >= 0) & (F.col("c_acctbal") < 5000)
        ).cast("long").alias("b2"),
    )
    cls = base.groupBy("nationkey", "seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b1").alias("c1"),
        F.sum("b2").alias("c2"),
    )
    glob = base.agg(
        F.count(F.lit(1)).alias("big_n"),
        F.sum("b1").alias("g1"),
        F.sum("b2").alias("g2"),
    )
    emd_num = (
        "abs(CAST(c1 AS DECIMAL(38,0)) * big_n - CAST(g1 AS DECIMAL(38,0)) * n)"
        " + abs(CAST(c1 + c2 AS DECIMAL(38,0)) * big_n"
        " - CAST(g1 + g2 AS DECIMAL(38,0)) * n)"
    )
    return cls.crossJoin(F.broadcast(glob)).select(
        "nationkey",
        "seg",
        F.col("n").alias("n_rows"),
        F.expr(
            f"CAST(({emd_num}) * 10000 div "
            "(CAST(n AS DECIMAL(38,0)) * big_n * 2) AS BIGINT)"
        ).alias("emd_bp"),
    ).select(
        "nationkey",
        "seg",
        "n_rows",
        "emd_bp",
        (F.col("emd_bp") <= _TCLOSE_T_BP).cast("int").alias("t_close"),
    )


_TCLOSE_SQL = f"""
WITH base AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS seg,
         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS b1,
         CASE WHEN c_acctbal >= 0 AND c_acctbal < 5000 THEN 1 ELSE 0 END
           AS b2
  FROM customer
),
cls AS (
  SELECT nationkey, seg, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(b1) AS BIGINT) AS c1, CAST(sum(b2) AS BIGINT) AS c2
  FROM base GROUP BY 1, 2
),
gdist AS (
  SELECT CAST(count(*) AS BIGINT) AS big_n,
         CAST(sum(b1) AS BIGINT) AS g1, CAST(sum(b2) AS BIGINT) AS g2
  FROM base
)
SELECT nationkey, seg, n AS n_rows,
       CAST((abs(CAST(c1 AS HUGEINT) * big_n - CAST(g1 AS HUGEINT) * n)
             + abs(CAST(c1 + c2 AS HUGEINT) * big_n
                   - CAST(g1 + g2 AS HUGEINT) * n)) * 10000
            // (CAST(n AS HUGEINT) * big_n * 2) AS BIGINT) AS emd_bp,
       CAST(CAST((abs(CAST(c1 AS HUGEINT) * big_n
                      - CAST(g1 AS HUGEINT) * n)
             + abs(CAST(c1 + c2 AS HUGEINT) * big_n
                   - CAST(g1 + g2 AS HUGEINT) * n)) * 10000
            // (CAST(n AS HUGEINT) * big_n * 2) AS BIGINT)
            <= {_TCLOSE_T_BP} AS INTEGER) AS t_close
FROM cls CROSS JOIN gdist
"""


QUERIES = {
    "quality_gopher_rules": quality_gopher_rules,
    "anonymize_k_anonymity": anonymize_k_anonymity,
    "anonymize_l_diversity": anonymize_l_diversity,
    "anonymize_t_closeness": anonymize_t_closeness,
    "anonymize_dp_counts": anonymize_dp_counts,
    "anonymize_pseudonymize": anonymize_pseudonymize,
    "tombstone_cascade": tombstone_cascade,
    "decontam_ngram_overlap": decontam_ngram_overlap,
    "decontam_semantic": decontam_semantic,
    "quality_hashed_linear": quality_hashed_linear,
    "corpus_pipeline_funnel": corpus_pipeline_funnel,
    "curation_filter_report": curation_filter_report,
    "pii_redact": pii_redact,
    "text_repetition": text_repetition,
    "doc_length_histogram": doc_length_histogram,
    "corpus_mix_weights": corpus_mix_weights,
    "text_normalize": text_normalize,
}

ORACLES = {
    "quality_gopher_rules": _GOPHER_SQL,
    "anonymize_k_anonymity": _KANON_SQL,
    "anonymize_l_diversity": _LDIV_SQL,
    "anonymize_t_closeness": _TCLOSE_SQL,
    "anonymize_dp_counts": _DP_SQL,
    "anonymize_pseudonymize": _PSEUDO_SQL,
    "tombstone_cascade": _TOMBSTONE_SQL,
    "decontam_ngram_overlap": _DECONTAM_SQL,
    "decontam_semantic": _decontam_sem_sql(),
    "quality_hashed_linear": _QHL_SQL,
    "corpus_pipeline_funnel": _funnel_sql(),
    "curation_filter_report": _FILTER_REPORT_SQL,
    "pii_redact": _PII_SQL,
    "text_repetition": _REPETITION_SQL,
    "doc_length_histogram": _LENGTH_HIST_SQL,
    "corpus_mix_weights": _MIX_SQL,
    "text_normalize": _NORMALIZE_SQL,
}
