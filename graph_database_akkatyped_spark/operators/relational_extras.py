"""Relational extensions beyond SURVEY.md §2-D.

Distribution window functions, deterministic hash sampling, filtered
aggregates, and journal->interval reconstruction (the event-sourcing
"replay to validity intervals" pattern of the reference's persistence
layer [R], expressed as one window pass).

All map/window/agg shapes — no new shuffle patterns beyond what the
§2-D core already exercises; every key is SQL-hash-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from graph_database_akkatyped_spark.catalog import load_table
from graph_database_akkatyped_spark.operators.graph_build import (
    _md5_int,
    _sym,
    _top_per_key,
)
from graph_database_akkatyped_spark.numerics import (
    dec2double,
    dsum,
    sql_dsum,
)


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist of account balance within market
    segment — rank-based, so results are exact integer ratios
    (deterministic doubles on both engines, no rounding needed)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


_WINDOW_DIST_SQL = """
SELECT c_custkey, c_mktsegment,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample of orders: membership = md5 bucket of
    the key — a pure function of the row (stable across runs, engines,
    partitionings, and appends), unlike ``df.sample``/TABLESAMPLE whose
    output depends on physical row order. The filter is map-side only
    (no shuffle) and composes with pushdown on everything upstream."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(_md5_int("", 8, "o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


_SAMPLE_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
      % 10 = 0
"""


def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates per order priority (SQL FILTER clause
    semantics): high-value counts and exact-decimal sums restricted by
    predicate — one pass, partial+final agg, no separate scans."""
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_totalprice") > 150000
    open_ = F.col("o_orderstatus") == "O"
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(high, 1)).alias("n_high"),
        dec2double(
            F.sum(F.when(high, F.col("o_totalprice")).cast("decimal(30,2)"))
        ).alias("sum_high"),
        F.count(F.when(open_ & high, 1)).alias("n_open_high"),
    )


_AGG_FILTERED_SQL = """
SELECT o_orderpriority,
       count(*) AS n_total,
       count(*) FILTER (WHERE o_totalprice > 150000) AS n_high,
       CAST(CAST(SUM(CASE WHEN o_totalprice > 150000
                          THEN CAST(o_totalprice AS DECIMAL(30,2)) END)
                 AS VARCHAR) AS DOUBLE) AS sum_high,
       count(*) FILTER (WHERE o_orderstatus = 'O' AND o_totalprice > 150000)
         AS n_open_high
FROM orders
GROUP BY o_orderpriority
"""


def journal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-journal replay into validity intervals: each user's event
    stream becomes rows (event_type, valid_from, valid_to, is_current)
    where valid_to = next event's timestamp — the reference's
    event-sourced state reconstruction [R], as a single lead() window
    (one shuffle on user_id, linear in journal size)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


_JOURNAL_SQL = """
SELECT user_id, event_type,
       CAST(ts AS TIMESTAMP) AS valid_from,
       lead(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _journal_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a per-entity PROPERTY-MUTATION journal: user_id is the
    entity, event_id the journal sequence, props' json ``k`` the
    property id, value (in exact cents) the property value; event_type
    'error' is the entity TOMBSTONE (full delete), everything else an
    upsert of that one property — the analytic mirror of the GraphDB
    journal's upsert/tombstone records (api.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        F.col("event_id").alias("seq"),
        (F.col("event_type") == "error").cast("int").alias("is_tomb"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )


def _journal_survivors(ops: DataFrame) -> tuple[DataFrame, DataFrame]:
    """LWW-with-delete survivors of an ops frame: each entity's last
    tombstone ``(user_id, tomb_seq)``, and per property the latest
    upsert AFTER it ``(user_id, seq, is_tomb, k, v_cents)``."""
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
    keep = _top_per_key(up, ["user_id", "k"], F.col("seq").desc())
    return lt, keep.select("user_id", "seq", "is_tomb", "k", "v_cents")


def _state_fp(keep: DataFrame) -> DataFrame:
    """(user_id, n_props, state_fp) of a survivor frame: state_fp is an
    order-free exact integer fingerprint Σ (k·1000003 + v_cents) over
    the state map — integer arithmetic, so Spark and DuckDB agree
    bit-for-bit."""
    return keep.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_props"),
        F.sum(F.col("k") * 1000003 + F.col("v_cents")).alias("state_fp"),
    )


def _journal_state(ops: DataFrame) -> DataFrame:
    """LWW-with-delete replay of an ops frame: per entity, properties
    set by the latest upsert per key AFTER the last tombstone, as
    :func:`_state_fp`."""
    return _state_fp(_journal_survivors(ops)[1])


def journal_compact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journal COMPACTION + replay-equivalence audit — the operator
    that completes the event-sourcing analog story around
    ``journal_intervals`` (replay) and the GraphDB api.py time-travel
    reads: compact each entity's mutation journal to the minimal
    record set that replays to the same state, and PROVE it per
    entity.

    Semantics (Kafka-log-compaction / SCD2-current-rows): retain the
    entity's last tombstone (the delete marker) plus, per property,
    the latest upsert after that tombstone — everything earlier is
    superseded history. ``replay_match`` is not asserted but COMPUTED:
    the same LWW replay (:func:`_journal_state`) runs over the full
    journal AND over the compacted frame, and the flag compares the
    two state fingerprints — a compactor bug (e.g. keeping first
    instead of last writer) flips it (locked falsifiable by
    tests/test_round11.py).

    100 TB shape: one shuffle on user_id for the tombstone max, one on
    (user_id, property) for the per-property LWW window, then
    per-entity aggregates — linear in the journal, no self-join; the
    compacted side re-replays only the O(entities x live-props)
    survivor frame. Output per entity: journal depth, tombstone count,
    retained-record count, aliveness, live-property count, state
    fingerprint, and the replay-equivalence flag."""
    ops = _journal_ops(spark, sf_dir)
    base = ops.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_journal"),
        F.sum("is_tomb").cast("long").alias("n_tombstones"),
    )
    lt, keep_up = _journal_survivors(ops)
    keep_tomb = lt.select(
        "user_id",
        F.col("tomb_seq").alias("seq"),
        F.lit(1).alias("is_tomb"),
        F.lit(None).cast("long").alias("k"),
        F.lit(None).cast("long").alias("v_cents"),
    )
    compacted = keep_up.unionByName(keep_tomb)
    # comp_state is an independent replay of the compacted frame, not
    # derived from keep_up: that keeps replay_match falsifiable
    # (tests/test_round11.py)
    full_state = _state_fp(keep_up)
    comp_state = _journal_state(compacted)
    return (
        base.join(
            full_state.select(
                "user_id",
                F.col("n_props").alias("f_props"),
                F.col("state_fp").alias("f_fp"),
            ),
            "user_id",
            "left",
        )
        .join(
            comp_state.select(
                "user_id",
                F.col("n_props").alias("c_props"),
                F.col("state_fp").alias("c_fp"),
            ),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            "n_journal",
            "n_tombstones",
            (
                F.coalesce("f_props", F.lit(0))
                + (F.col("n_tombstones") > 0).cast("long")
            ).cast("long").alias("n_compacted"),
            (F.coalesce("f_props", F.lit(0)) > 0).cast("int").alias("alive"),
            F.coalesce("f_props", F.lit(0)).cast("long").alias("n_props"),
            F.coalesce("f_fp", F.lit(0)).cast("long").alias("state_fp"),
            (
                (F.coalesce("f_props", F.lit(0)) == F.coalesce("c_props", F.lit(0)))
                & (F.coalesce("f_fp", F.lit(0)) == F.coalesce("c_fp", F.lit(0)))
            ).cast("int").alias("replay_match"),
        )
    )


_JOURNAL_COMPACT_SQL = """
WITH ops AS MATERIALIZED (
  SELECT user_id, event_id AS seq,
         CAST(event_type = 'error' AS INTEGER) AS is_tomb,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events
),
base AS (
  SELECT user_id, count(*) AS n_journal,
         CAST(sum(is_tomb) AS BIGINT) AS n_tombstones
  FROM ops GROUP BY user_id
),
lt AS (
  SELECT user_id, max(seq) AS tomb_seq FROM ops
  WHERE is_tomb = 1 GROUP BY user_id
),
up AS (
  SELECT o.* FROM ops o LEFT JOIN lt USING (user_id)
  WHERE o.is_tomb = 0 AND o.seq > coalesce(lt.tomb_seq, -1)
),
keep_up AS (
  SELECT user_id, seq, is_tomb, k, v_cents FROM (
    SELECT u.*, row_number() OVER (
      PARTITION BY user_id, k ORDER BY seq DESC) AS rn
    FROM up u
  ) WHERE rn = 1
),
compacted AS MATERIALIZED (
  SELECT * FROM keep_up
  UNION ALL
  SELECT user_id, tomb_seq AS seq, 1 AS is_tomb,
         CAST(NULL AS BIGINT) AS k, CAST(NULL AS BIGINT) AS v_cents
  FROM lt
),
full_state AS (
  SELECT user_id, count(*) AS n_props,
         CAST(sum(k * 1000003 + v_cents) AS BIGINT) AS state_fp
  FROM keep_up GROUP BY user_id
),
c_lt AS (
  SELECT user_id, max(seq) AS tomb_seq FROM compacted
  WHERE is_tomb = 1 GROUP BY user_id
),
c_up AS (
  SELECT c.* FROM compacted c LEFT JOIN c_lt USING (user_id)
  WHERE c.is_tomb = 0 AND c.seq > coalesce(c_lt.tomb_seq, -1)
),
comp_state AS (
  SELECT user_id, count(*) AS n_props,
         CAST(sum(k * 1000003 + v_cents) AS BIGINT) AS state_fp
  FROM (
    SELECT u.* FROM (
      SELECT c.*, row_number() OVER (
        PARTITION BY user_id, k ORDER BY seq DESC) AS rn
      FROM c_up c
    ) u WHERE rn = 1
  ) GROUP BY user_id
),
n_comp AS (
  SELECT user_id, count(*) AS n_compacted FROM compacted GROUP BY user_id
)
SELECT b.user_id, b.n_journal, b.n_tombstones,
       CAST(coalesce(n.n_compacted, 0) AS BIGINT) AS n_compacted,
       CAST(coalesce(f.n_props, 0) > 0 AS INTEGER) AS alive,
       CAST(coalesce(f.n_props, 0) AS BIGINT) AS n_props,
       CAST(coalesce(f.state_fp, 0) AS BIGINT) AS state_fp,
       CAST(coalesce(f.n_props, 0) = coalesce(c.n_props, 0)
            AND coalesce(f.state_fp, 0) = coalesce(c.state_fp, 0)
            AS INTEGER) AS replay_match
FROM base b
LEFT JOIN n_comp n USING (user_id)
LEFT JOIN full_state f USING (user_id)
LEFT JOIN comp_state c USING (user_id)
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase per user: each stage's
    first timestamp must follow the previous stage's (strict event-order
    semantics, not mere presence). Three stage aggregates chained by
    join — each is one groupBy over a filtered slice, so the whole
    funnel is three shuffles on user_id regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("stage_reached"),
        )
    )


_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
  FROM events e JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1.t_view
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
  FROM events e JOIN t2 ON t2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2.t_click
  GROUP BY e.user_id
)
SELECT t1.user_id, t1.t_view, t2.t_click, t3.t_purchase,
       CAST(1 + (t2.t_click IS NOT NULL)::INT
              + (t3.t_purchase IS NOT NULL)::INT AS INTEGER) AS stage_reached
FROM t1
LEFT JOIN t2 ON t2.user_id = t1.user_id
LEFT JOIN t3 ON t3.user_id = t1.user_id
"""


def events_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: per (event_type, hour) counts scored
    against the type's hourly distribution; |z| > 2 flags the hour.

    Determinism: counts are exact integers; variance comes from the
    exact integer identity n·Σx² − (Σx)² over counts, so there is ONE
    double division, one sqrt, one final rounded division — identical
    IEEE ops on both engines (no order-dependent float accumulation).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    mean = F.col("s") / F.col("k")
    var = (F.col("k") * F.col("ss") - F.col("s") * F.col("s")) / (
        F.col("k") * (F.col("k") - 1)
    )
    z = F.round((F.col("n") - mean) / F.sqrt(var), 4)
    return (
        hourly.join(stats, "event_type")
        .select(
            "event_type",
            "hr",
            "n",
            z.alias("z"),
            (F.abs(z) > 2).alias("is_anomaly"),
        )
    )


_ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, count(*) AS k, sum(n) AS s, sum(n * n) AS ss
  FROM hourly GROUP BY event_type
)
SELECT event_type, hr, n, z, abs(z) > 2 AS is_anomaly FROM (
  SELECT h.event_type, h.hr, h.n,
         round((h.n - CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
               / sqrt(CAST(k * ss - s * s AS DOUBLE)
                      / CAST(k * (k - 1) AS DOUBLE)), 4) AS z
  FROM hourly h JOIN stats USING (event_type)
)
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers grouped by first-order month; for
    each (cohort, months-since-first) cell, how many distinct customers
    ordered. Two aggregates over orders — the cohort assignment is a
    window-free groupBy+join (broadcastable: one row per customer)."""
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    return (
        orders.join(first, "o_custkey")
        .withColumn("m", F.date_trunc("month", "o_orderdate"))
        .groupBy(
            "cohort",
            (
                (F.year("m") - F.year("cohort")) * 12
                + (F.month("m") - F.month("cohort"))
            ).alias("month_offset"),
        )
        .agg(F.countDistinct("o_custkey").alias("n_active"))
    )


_RETENTION_SQL = """
WITH first AS (
  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey
)
SELECT cohort,
       CAST((year(m) - year(cohort)) * 12 + (month(m) - month(cohort))
            AS INTEGER) AS month_offset,
       count(DISTINCT o_custkey) AS n_active
FROM (
  SELECT o.o_custkey, f.cohort, date_trunc('month', o.o_orderdate) AS m
  FROM orders o JOIN first f ON f.o_custkey = o.o_custkey
)
GROUP BY 1, 2
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartiles of recency (days since last
    order), frequency (order count), monetary (exact-decimal spend) via
    ntile — rank-based, so quartile membership is deterministic with
    explicit key tie-breaks.

    Scale note: the global ntile windows serialize the per-customer
    rollup through one task. That rollup is orders-of-magnitude smaller
    than the fact table, but with billions of customers the scale path
    is approx_percentile thresholds (computed distributed, joined back
    as constants) instead of exact global ranking — same output
    contract minus exact boundary ties."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("monetary"),
    )
    wr = Window.orderBy(F.desc("last_order"), F.asc("o_custkey"))
    wf = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    wm = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    return per_cust.select(
        "o_custkey",
        "frequency",
        dec2double(F.col("monetary")).alias("monetary"),
        F.ntile(4).over(wr).alias("r_quartile"),
        F.ntile(4).over(wf).alias("f_quartile"),
        F.ntile(4).over(wm).alias("m_quartile"),
    )


_RFM_SQL = """
SELECT o_custkey, frequency,
       CAST(CAST(monetary AS VARCHAR) AS DOUBLE) AS monetary,
       CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey ASC)
            AS INTEGER) AS r_quartile,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC)
            AS INTEGER) AS f_quartile,
       CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC)
            AS INTEGER) AS m_quartile
FROM (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(30,2))) AS monetary
  FROM orders GROUP BY o_custkey
)
"""


def agg_sketch_epoch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting across ingest epochs: each
    epoch (orders before/after 1997-01-01) builds a per-priority HLL
    sketch of its customers (``hll_sketch_agg`` — Apache DataSketches,
    deterministic, no RNG); the refresh UNIONs yesterday's sketches
    with today's (``hll_union_agg``) instead of re-scanning history —
    the sketch twin of ``incremental_agg_merge``, and the only way
    COUNT(DISTINCT) stays incremental at 100 TB (exact distinct
    requires re-shuffling all history; the sketch merge is O(groups)).

    Output is a hash-grade SCORECARD (round-8 VERDICT #1): the exact
    distinct plus integer within-5% accuracy flags for the merged and
    single-pass estimates. No SQL engine reproduces the sketch binary,
    but the HLL union is order-independent, so the flags are
    partition-stable and the oracle asserts them (measured worst-case
    deviation 2.2% at sf0.1; default lgK leaves ~3x margin under the
    5% gate). ``_est_scorecard`` returns the raw-estimate frame for
    tests that want the underlying numbers.

    Production-vs-oracle split (round-9 VERDICT #6): the
    ``exact_distinct`` column exists to anchor the fixture-scale hash
    check; at corpus scale ship the sketch estimates alone — the whole
    point of the epoch merge is never re-scanning history for an exact
    count."""
    return _epoch_merge_raw(spark, sf_dir).select(
        "o_orderpriority",
        "exact_distinct",
        (
            F.abs(F.col("merged_est") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * 0.05
        )
        .cast("int")
        .alias("merged_within_5pct"),
        (
            F.abs(F.col("full_est") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * 0.05
        )
        .cast("int")
        .alias("full_within_5pct"),
    )


def agg_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET-INTERSECTION estimation by inclusion-exclusion:
    |A∩B| ≈ est(A) + est(B) − est(A ∪ B), with the union estimated by
    the scalar ``hll_union`` of the two per-priority customer sketches
    — the sketch-algebra companion to ``agg_sketch_epoch_merge``
    (which shows the union merge; this shows what the merge UNLOCKS:
    audience-overlap queries between any two segments from
    |segments| pre-built sketches, no re-scan of history — the 100 TB
    alternative to a distinct-count self-join per pair).

    Output is the hash-grade scorecard: per unordered priority pair,
    the exact intersection size plus a within-10% flag on the
    inclusion-exclusion estimate (measured worst deviation 2.4% at
    sf0.1 — inclusion-exclusion inflates the sketch's relative error
    because it differences large numbers, hence the wider gate than
    the 5% union-merge one). The exact side is one distinct-pair
    self-join bounded by |priorities|²; the oracle asserts it.

    Production-vs-oracle split (round-9 VERDICT #6): the exact
    intersection column is the fixture-scale anchor only; at corpus
    scale ship the inclusion-exclusion estimate alone — pre-built
    sketches exist precisely so overlap queries never pay a
    distinct-count self-join."""
    orders = load_table(spark, sf_dir, "orders")
    sk = orders.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk")
    )
    a = sk.select(F.col("o_orderpriority").alias("p1"), F.col("sk").alias("sk1"))
    b = sk.select(F.col("o_orderpriority").alias("p2"), F.col("sk").alias("sk2"))
    est = (
        a.join(b, F.col("p1") < F.col("p2"))
        .select(
            "p1",
            "p2",
            (
                F.expr("hll_sketch_estimate(sk1)")
                + F.expr("hll_sketch_estimate(sk2)")
                - F.expr("hll_sketch_estimate(hll_union(sk1, sk2))")
            ).alias("est_inter"),
        )
    )
    cp = orders.select("o_orderpriority", "o_custkey").distinct()
    e1 = cp.select(F.col("o_orderpriority").alias("p1"), "o_custkey")
    e2 = cp.select(F.col("o_orderpriority").alias("p2"), "o_custkey")
    exact = (
        e1.join(e2, "o_custkey")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return est.join(exact, ["p1", "p2"]).select(
        "p1",
        "p2",
        "exact_inter",
        (
            F.abs(F.col("est_inter") - F.col("exact_inter"))
            * 10 <= F.col("exact_inter")
        )
        .cast("int")
        .alias("within_10pct"),
    )


_SKETCH_INTERSECT_SQL = """
WITH cp AS (
  SELECT DISTINCT o_orderpriority AS p, o_custkey AS c FROM orders
)
SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS exact_inter,
       CAST(1 AS INTEGER) AS within_10pct
FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
GROUP BY 1, 2
"""


def _epoch_merge_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw epoch-merge frame: exact distinct + merged/single-pass HLL
    estimates per priority (the pre-round-9 output shape; kept for
    tests that assert on the estimates themselves)."""
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("timestamp")
    tagged = orders.select(
        "o_orderpriority",
        (F.col("o_orderdate") < split).alias("old_epoch"),
        "o_custkey",
    )
    per_epoch = tagged.groupBy("o_orderpriority", "old_epoch").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk")
    )
    merged = per_epoch.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("merged_est")
    )
    full = tagged.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").alias(
            "full_est"
        ),
    )
    return merged.join(full, "o_orderpriority").select(
        "o_orderpriority", "exact_distinct", "merged_est", "full_est"
    )


def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join, bucket-decomposed: per customer,
    pairs of orders whose 7-day fulfillment windows overlap, with the
    overlap length in days.

    The scale pattern: a raw overlap predicate (``s1 <= e2 AND s2 <=
    e1``) is a theta join — O(n·m) per customer and un-shuffleable. We
    instead explode each interval into the (at most 2) week-buckets it
    touches, equi-join on (custkey, bucket) — a plain hash shuffle —
    deduplicate candidate pairs, and apply the exact overlap predicate
    as a residual filter. Candidates per pair are bounded by
    intervals-per-bucket, not by table size; the same decomposition
    with coarser/finer buckets is how Spark range-join hints and
    interval libraries (e.g. genomics overlap joins) execute at 100 TB.

    Day arithmetic is integer (epoch-seconds div 86400) so the overlap
    length is exact in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("okey"),
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("s"),
        (F.expr("unix_timestamp(o_orderdate) div 86400") + 6).alias("e"),
    )
    buckets = base.select(
        "o_custkey", "okey", "s", "e",
        F.explode(
            F.array_distinct(
                F.array(F.expr("s div 7"), F.expr("e div 7"))
            )
        ).alias("bucket"),
    )
    a = buckets.select(
        "o_custkey", "bucket",
        F.col("okey").alias("o1"), F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = buckets.select(
        "o_custkey", "bucket",
        F.col("okey").alias("o2"), F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    return (
        a.join(b, ["o_custkey", "bucket"])
        .where(
            (F.col("o1") < F.col("o2"))
            & (F.col("s1") <= F.col("e2"))
            & (F.col("s2") <= F.col("e1"))
        )
        .select(
            "o_custkey", "o1", "o2",
            (
                F.least("e1", "e2") - F.greatest("s1", "s2") + 1
            ).alias("overlap_days"),
        )
        .distinct()
    )


_INTERVAL_SQL = """
WITH base AS (
  SELECT o_custkey, o_orderkey AS okey,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS s,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) + 6 AS e
  FROM orders
),
buckets AS (
  SELECT o_custkey, okey, s, e,
         unnest(list_distinct([s // 7, e // 7])) AS bucket
  FROM base
)
SELECT DISTINCT a.o_custkey, a.okey AS o1, b.okey AS o2,
       least(a.e, b.e) - greatest(a.s, b.s) + 1 AS overlap_days
FROM buckets a
JOIN buckets b
  ON a.o_custkey = b.o_custkey AND a.bucket = b.bucket
WHERE a.okey < b.okey AND a.s <= b.e AND b.s <= a.e
"""


def merge_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC upsert) expressed as one full-outer join — the
    snapshot-maintenance primitive behind every warehouse sink (Delta /
    Iceberg MERGE; the reference's event-journal -> state fold [R]).

    The CDC batch is derived deterministically from orders: each
    customer's latest in-flight order (window latest, one row per key)
    carries an op — D = delete, U = update balance, I = insert under a
    fresh key (offset past ``max(c_custkey)`` so synthetic inserts can
    never collide with real customers at any scale factor; a fixed
    +1e6 offset would silently alias real keys at sf >= ~7) — so all
    three MERGE branches execute. The merge itself
    is ``base FULL OUTER JOIN batch ON key`` + branch logic, excluding
    matched deletes: one shuffle on the merge key, linear in
    |base| + |batch|.

    100 TB shape: this is exactly how MERGE physically executes at
    scale — co-partition base and batch by key (bucketed layout makes
    the shuffle one-sided), or broadcast the batch when it is
    OLTP-sized; AQE handles the skewed-key case. No driver-side state.

    Round-11 join-strategy pick (guide §3.1): the full-outer join is
    hinted SHUFFLE_HASH with the CDC batch as the build side. The
    planner's default for a non-broadcastable full outer is sort-merge,
    which SORTS BOTH sides — at 100 TB that is a full sort of the base
    snapshot just to merge a batch orders of magnitude smaller. A
    shuffled-hash full outer (supported since Spark 3.1) builds a hash
    table from the batch partition and streams the base partition
    through it, no sort on either side; the per-partition build side
    is batch-sized, so the guide's OOM caveat does not bite. Same
    rows, same shuffle count (round-11 plans before/after:
    SortMergeJoin FullOuter + two Sorts -> ShuffledHashJoin FullOuter
    BuildRight, Exchanges unchanged).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    batch = (
        _top_per_key(
            orders.where(F.col("o_orderkey") % 7 < 4),
            "o_custkey",
            [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
        )
        .select(
            F.col("o_custkey"),
            F.col("o_totalprice").alias("new_bal"),
            F.when(F.col("o_orderkey") % 4 == 0, F.lit("D"))
            .when(F.col("o_orderkey") % 4 == 1, F.lit("I"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        .crossJoin(
            F.broadcast(cust.agg(F.max("c_custkey").alias("max_ck")))
        )
        .select(
            F.when(
                F.col("op") == "I", F.col("max_ck") + F.col("o_custkey")
            )
            .otherwise(F.col("o_custkey"))
            .alias("key"),
            "op",
            "new_bal",
        )
    )
    merged = cust.join(
        batch.hint("shuffle_hash"), cust.c_custkey == batch.key, "full_outer"
    )
    return merged.where(
        F.coalesce(F.col("op"), F.lit("")) != "D"
    ).select(
        F.coalesce(F.col("key"), F.col("c_custkey")).alias("custkey"),
        F.coalesce(
            F.col("c_name"),
            F.concat(F.lit("NEW#"), F.col("key").cast("string")),
        ).alias("name"),
        F.when(F.col("key").isNull(), F.col("c_acctbal"))
        .otherwise(F.col("new_bal"))
        .alias("acctbal"),
        F.coalesce(F.col("c_mktsegment"), F.lit("CDC")).alias("mktsegment"),
        F.when(F.col("key").isNull(), F.lit("unchanged"))
        .when(F.col("c_custkey").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("change_type"),
    )


_MERGE_SQL = """
WITH cdc AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
           CASE o_orderkey % 4 WHEN 0 THEN 'D' WHEN 1 THEN 'I' ELSE 'U' END AS op
    FROM orders WHERE o_orderkey % 7 < 4
  ) WHERE rn = 1
),
batch AS (
  SELECT CASE WHEN op = 'I'
              THEN (SELECT max(c_custkey) FROM customer) + o_custkey
              ELSE o_custkey END AS key,
         op, o_totalprice AS new_bal
  FROM cdc
)
SELECT
  COALESCE(b.key, c.c_custkey) AS custkey,
  COALESCE(c.c_name, 'NEW#' || CAST(b.key AS VARCHAR)) AS name,
  CASE WHEN b.key IS NULL THEN c.c_acctbal ELSE b.new_bal END AS acctbal,
  COALESCE(c.c_mktsegment, 'CDC') AS mktsegment,
  CASE WHEN b.key IS NULL THEN 'unchanged'
       WHEN c.c_custkey IS NULL THEN 'inserted'
       ELSE 'updated' END AS change_type
FROM customer c FULL OUTER JOIN batch b ON b.key = c.c_custkey
WHERE COALESCE(b.op, '') <> 'D'
"""


_SNAP_A = "1997-01-01"
_SNAP_B = "1999-01-01"


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel state diff: per-customer order state (count + exact
    spend) AS OF two snapshot cutoffs, full-outer joined into
    added / changed / unchanged rows — the audit query behind "what
    changed between yesterday's and today's snapshot" (and the batch
    analog of GraphDB's ``as_of_batch`` reads, api.py).

    Shape: one scan feeds both snapshot aggregates (the B aggregate is
    a superset filter, Catalyst prunes columns once), then a single
    full-outer join on the customer key — linear, no history replay.
    Spend compares in exact DECIMAL so 'changed' is never a float
    artifact."""
    orders = load_table(spark, sf_dir, "orders")

    def snap(cutoff: str):
        return (
            orders.where(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias(
                    "spend"
                ),
            )
        )
    a = snap(_SNAP_A).alias("a")
    b = snap(_SNAP_B).alias("b")
    joined = b.join(a, F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("b.o_custkey"), F.col("a.o_custkey")).alias(
            "custkey"
        ),
        F.coalesce(F.col("a.n_orders"), F.lit(0)).alias("n_orders_a"),
        F.coalesce(F.col("b.n_orders"), F.lit(0)).alias("n_orders_b"),
        dec2double(F.coalesce(F.col("a.spend"), F.lit(0).cast("decimal(30,2)"))).alias(
            "spend_a"
        ),
        dec2double(F.coalesce(F.col("b.spend"), F.lit(0).cast("decimal(30,2)"))).alias(
            "spend_b"
        ),
        F.when(F.col("a.o_custkey").isNull(), F.lit("added"))
        .when(
            (F.col("a.n_orders") != F.col("b.n_orders"))
            | (F.col("a.spend") != F.col("b.spend")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )


_SNAPSHOT_DIFF_SQL = f"""
WITH a AS (
  SELECT o_custkey, count(*) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS spend
  FROM orders WHERE o_orderdate < TIMESTAMP '{_SNAP_A}'
  GROUP BY o_custkey
),
b AS (
  SELECT o_custkey, count(*) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS spend
  FROM orders WHERE o_orderdate < TIMESTAMP '{_SNAP_B}'
  GROUP BY o_custkey
)
SELECT COALESCE(b.o_custkey, a.o_custkey) AS custkey,
       COALESCE(a.n_orders, 0) AS n_orders_a,
       COALESCE(b.n_orders, 0) AS n_orders_b,
       CAST(CAST(COALESCE(a.spend, 0) AS VARCHAR) AS DOUBLE) AS spend_a,
       CAST(CAST(COALESCE(b.spend, 0) AS VARCHAR) AS DOUBLE) AS spend_b,
       CASE WHEN a.o_custkey IS NULL THEN 'added'
            WHEN a.n_orders <> b.n_orders OR a.spend <> b.spend
              THEN 'changed'
            ELSE 'unchanged' END AS change_type
FROM b FULL OUTER JOIN a ON a.o_custkey = b.o_custkey
"""


def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style complex-event detection: each user's
    event stream becomes an ordered initial-letter string (v=view,
    c=click, p=purchase, s=signup, e=error; initials are distinct in
    the fixture taxonomy) and funnel/retry patterns are counted with
    regexes — ``vc*p`` (view, clicks, purchase — the strict funnel),
    ``v[^p]*p`` (view eventually converted), ``e+`` (error bursts).
    Both engines use leftmost non-overlapping regex semantics, so the
    counts hash-match.

    Shape: one groupBy(user) builds the sequence (sort inside the
    aggregated struct array, no global sort), then map-only regex —
    linear. At 100 TB, sessionize first (``sessionize_events``) so
    per-key strings stay bounded, and the same pattern pass runs per
    session."""
    events = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.col("ini"))
                )
            ),
            lambda t: t["ini"],
        ),
        "",
    )
    return (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.substring("event_type", 1, 1).alias("ini"),
        )
        .groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").alias("seq_len"),
            F.expr("regexp_count(seq, 'vc*p')").cast("long").alias(
                "n_strict_funnel"
            ),
            F.expr("regexp_count(seq, 'v[^p]*p')").cast("long").alias(
                "n_converted"
            ),
            F.expr("regexp_count(seq, 'e+')").cast("long").alias(
                "n_error_bursts"
            ),
            (F.expr("regexp_count(seq, 'v[^p]*p')") > 0).alias("converted"),
        )
    )


_PATTERN_SQL = """
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS INTEGER) AS seq_len,
       CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT)
         AS n_strict_funnel,
       CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT)
         AS n_converted,
       CAST(len(regexp_extract_all(seq, 'e+')) AS BIGINT)
         AS n_error_bursts,
       len(regexp_extract_all(seq, 'v[^p]*p')) > 0 AS converted
FROM seqs
"""


def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) profile: customers ranked by
    exact-decimal lifetime spend, cut into revenue deciles, each with
    its exact share and cumulative share of total revenue — the
    "do 20% of customers carry 80% of revenue" curve.

    The global ntile runs over the CUSTOMER aggregate (already reduced
    by the first groupBy), not the order fan — at 100 TB of orders the
    windowed side is |customers|; if that itself is billions, swap the
    ntile for approx-percentile range boundaries and keep the same
    decile aggregate. Shares divide exact decimal sums, so the curve
    is bit-stable."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("o_custkey"))
    deciles = (
        rev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").alias("d_rev"),
        )
    )
    tot = deciles.agg(F.sum("d_rev").alias("t_rev"))
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        deciles.crossJoin(F.broadcast(tot))
        .withColumn("c_rev", F.sum("d_rev").over(wc))
        .select(
            "decile",
            "n_customers",
            dec2double(F.col("d_rev")).alias("revenue"),
            (
                dec2double(F.col("d_rev")) / dec2double(F.col("t_rev"))
            ).alias("share"),
            (
                dec2double(F.col("c_rev")) / dec2double(F.col("t_rev"))
            ).alias("cum_share"),
        )
    )


_PARETO_SQL = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
  FROM orders GROUP BY o_custkey
),
dec AS (
  SELECT CAST(ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS INTEGER)
           AS decile, rev
  FROM rev
),
agg AS (
  SELECT decile, count(*) AS n_customers, SUM(rev) AS d_rev
  FROM dec GROUP BY decile
)
SELECT decile, n_customers,
       CAST(CAST(d_rev AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(d_rev AS VARCHAR) AS DOUBLE)
         / CAST(CAST((SELECT SUM(d_rev) FROM agg) AS VARCHAR) AS DOUBLE)
         AS share,
       CAST(CAST(SUM(d_rev) OVER (ORDER BY decile) AS VARCHAR) AS DOUBLE)
         / CAST(CAST((SELECT SUM(d_rev) FROM agg) AS VARCHAR) AS DOUBLE)
         AS cum_share
FROM agg
"""


# ------------------------------------------------- Count-Min sketch

_CM_D = 4  # hash rows
_CM_W = 64  # buckets per row
_CM_HEAVY_DIV = 50  # report items with est >= n/50


def _cm_bucket_spark() -> str:
    return (
        "CAST(conv(substring(md5(concat(CAST(item AS STRING), '|cm', "
        f"CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT) % {_CM_W}"
    )


def sketch_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over the event journal's user_id
    stream: a d×w counter grid (d={d} salted-md5 rows, w={w} buckets)
    where every counter is a SUM — and sums are commutative, so unlike
    Misra-Gries/SpaceSaving (whose state depends on arrival order)
    the CM sketch is bit-deterministic under ANY partitioning and
    merge order, which makes it the one frequency sketch that earns a
    full SQL-hash oracle (the HLL key stays rows-only for exactly
    this reason). Reported: every user whose ESTIMATE clears n/{div}
    (integer comparison — no float threshold), with the exact count
    and overcount alongside, so the key doubles as its own accuracy
    scorecard. CM guarantees est >= true always and
    est <= true + n·e/w with prob 1−e^−d; the test pins the one-sided
    bound and that no true heavy hitter is missed (monotone: est >=
    true means true-heavy implies est-heavy).

    100 TB shape: the sketch build is one groupBy over (row, bucket)
    — d·w = {d}·{w} cells regardless of item cardinality, the whole
    point of sketching a stream whose distinct-key set doesn't fit
    anywhere; the exact-count join exists only for the fixture
    scorecard and is dropped at scale."""
    e = load_table(spark, sf_dir, "events")
    items = e.select(F.col("user_id").alias("item"))
    hj = F.explode(
        F.array(*[F.lit(j) for j in range(_CM_D)])
    ).alias("j")
    rows = items.select("item", hj)
    cm = (
        rows.withColumn("b", F.expr(_cm_bucket_spark()))
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    est = (
        items.distinct()
        .select("item", hj)
        .withColumn("b", F.expr(_cm_bucket_spark()))
        .join(cm, ["j", "b"])
        .groupBy("item")
        .agg(F.min("c").alias("est"))
    )
    true = items.groupBy("item").agg(F.count(F.lit(1)).alias("true_n"))
    tot = items.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        est.join(true, "item")
        .crossJoin(F.broadcast(tot))
        .where(F.col("est") * _CM_HEAVY_DIV >= F.col("n_total"))
        .select(
            "item",
            "est",
            "true_n",
            (F.col("est") - F.col("true_n")).alias("overcount"),
            "n_total",
        )
    )


sketch_countmin_heavy.__doc__ = sketch_countmin_heavy.__doc__.format(
    d=_CM_D, w=_CM_W, div=_CM_HEAVY_DIV
)

_CM_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(item AS VARCHAR) || '|cm' || "
    f"CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % {_CM_W}"
)

_COUNTMIN_SQL = f"""
WITH items AS (SELECT user_id AS item FROM events),
hj AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(j)),
cm AS (
  SELECT j, {_CM_BUCKET_SQL} AS b, CAST(count(*) AS BIGINT) AS c
  FROM items CROSS JOIN hj GROUP BY 1, 2
),
est AS (
  SELECT d.item, CAST(min(cm.c) AS BIGINT) AS est
  FROM (SELECT DISTINCT item FROM items) d
  CROSS JOIN hj
  JOIN cm ON cm.j = hj.j
         AND cm.b = CAST('0x' || substr(md5(CAST(d.item AS VARCHAR)
             || '|cm' || CAST(hj.j AS VARCHAR)), 1, 15) AS BIGINT)
             % {_CM_W}
  GROUP BY d.item
),
tru AS (
  SELECT item, CAST(count(*) AS BIGINT) AS true_n FROM items GROUP BY item
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM items)
SELECT e.item, e.est, t.true_n, e.est - t.true_n AS overcount, n_total
FROM est e JOIN tru t ON t.item = e.item CROSS JOIN tot
WHERE e.est * {_CM_HEAVY_DIV} >= n_total
"""


# ------------------------------------------------- SCD type-2 history


def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE-2 build: the history-preserving
    twin of ``merge_cdc_upsert`` (which keeps only the latest state).
    Every change to a customer's balance becomes a VERSIONED row with
    a [valid_from, valid_to) interval and an is_current flag — the
    standard warehouse dimension shape for as-of joins and audits
    (``join_asof_nearest`` is the read-side query this layout serves).

    The change stream is the orders journal (each order sets the
    customer's balance to o_totalprice effective o_orderdate); the
    initial version is the customer master row at a floor date.
    Interval stitching is one window per key: valid_to =
    lead(valid_from), version = row_number, current = last. Ties
    within a day break on o_orderkey (the journal sequence), so the
    history is total-ordered and bit-deterministic.

    100 TB shape: one shuffle on the dimension key, then a linear
    window pass — the same plan whether the history is 10 rows or 10
    billion; no self-join, no driver state. Incremental maintenance
    at scale appends new versions and closes only the affected keys'
    previous current rows (the merge_cdc_upsert join shape scoped to
    the batch's keys)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("balance"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(0).cast("long").alias("chg_seq"),
    )
    chg = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("balance"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderkey").alias("chg_seq"),
    )
    w = Window.partitionBy("custkey").orderBy("valid_from", "chg_seq")
    return cust.unionByName(chg).select(
        "custkey",
        "balance",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


_SCD2_SQL = """
WITH hist AS (
  SELECT c_custkey AS custkey, c_acctbal AS balance,
         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
         CAST(0 AS BIGINT) AS chg_seq
  FROM customer
  UNION ALL
  SELECT o_custkey, o_totalprice, o_orderdate, o_orderkey FROM orders
)
SELECT custkey, balance, valid_from,
       lead(valid_from) OVER w AS valid_to,
       CAST(row_number() OVER w AS INTEGER) AS version,
       lead(valid_from) OVER w IS NULL AS is_current
FROM hist
WINDOW w AS (PARTITION BY custkey ORDER BY valid_from, chg_seq)
"""


_BASKET_MIN_PAIR = 3   # minimum co-occurrence support (absolute orders)
_BASKET_TOPK = 50


def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order line items: for part
    pairs co-purchased in ≥ ``_BASKET_MIN_PAIR`` orders, report
    support, both directional confidences, and lift — the Apriori-2
    output every recommender bootstrap starts from. All four measures
    are single IEEE divisions of exact integer counts.

    Scale shape: pairs are generated WITHIN each order (TPC-H orders
    hold ≤ 7 items, this fixture ≤ 13 — the per-order C(k,2) fanout is
    a constant, so the pair explode is linear in lineitems); item and
    pair supports are two hash aggregates; n_orders is a 1-row
    broadcast attach; top-k by lift is orderBy+limit
    (TakeOrderedAndProject) with the rank window over only the
    surviving ≤ ``_BASKET_TOPK`` rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c_i"))
    pairs = (
        baskets.select("l_orderkey", F.col("l_partkey").alias("a"))
        .join(
            baskets.select("l_orderkey", F.col("l_partkey").alias("b")),
            "l_orderkey",
        )
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= _BASKET_MIN_PAIR)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    scored = (
        pairs.join(item.select(F.col("l_partkey").alias("a"), F.col("c_i").alias("c_a")), "a")
        .join(item.select(F.col("l_partkey").alias("b"), F.col("c_i").alias("c_b")), "b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            "c_ab",
            (d("c_ab") / d("n_orders")).alias("support"),
            (d("c_ab") / d("c_a")).alias("conf_a_b"),
            (d("c_ab") / d("c_b")).alias("conf_b_a"),
            ((d("c_ab") * d("n_orders")) / (d("c_a") * d("c_b"))).alias("lift"),
        )
    )
    top = scored.orderBy(F.col("lift").desc(), "a", "b").limit(_BASKET_TOPK)
    w = Window.orderBy(F.col("lift").desc(), "a", "b")
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


_BASKET_SQL = f"""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM baskets),
item AS MATERIALIZED (
  SELECT l_partkey, count(*) AS c_i FROM baskets GROUP BY l_partkey
),
pairs AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS c_ab
  FROM baskets x JOIN baskets y
    ON y.l_orderkey = x.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_BASKET_MIN_PAIR}
)
SELECT a, b, c_ab, support, conf_a_b, conf_b_a, lift,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT p.a, p.b, p.c_ab,
         CAST(p.c_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
         CAST(p.c_ab AS DOUBLE) / CAST(ia.c_i AS DOUBLE) AS conf_a_b,
         CAST(p.c_ab AS DOUBLE) / CAST(ib.c_i AS DOUBLE) AS conf_b_a,
         (CAST(p.c_ab AS DOUBLE) * CAST(n_orders AS DOUBLE))
           / (CAST(ia.c_i AS DOUBLE) * CAST(ib.c_i AS DOUBLE)) AS lift,
         row_number() OVER (ORDER BY
           (CAST(p.c_ab AS DOUBLE) * CAST(n_orders AS DOUBLE))
             / (CAST(ia.c_i AS DOUBLE) * CAST(ib.c_i AS DOUBLE)) DESC,
           p.a, p.b) AS rnk
  FROM pairs p
  JOIN item ia ON ia.l_partkey = p.a
  JOIN item ib ON ib.l_partkey = p.b, tot
) WHERE rnk <= {_BASKET_TOPK}
"""


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per part: the smallest extended price
    whose cumulative quantity reaches half the part's total quantity —
    the quantile that ``approx_percentile`` cannot give you exactly
    and unweighted ``median`` gets wrong whenever line quantities
    differ. Selection is pure integer arithmetic (2·cumw ≥ totw on
    BIGINT quantities), so the picked row is engine-exact; the price
    itself is the stored decimal converted once.

    Scale shape: the window partitions by l_partkey — group sizes are
    BOUNDED (lineitems per part is a constant ~30 in TPC-H-shaped data
    at any scale factor), so per-group sorting is embarrassingly
    parallel and skew-free; one shuffle on the part key, then a
    map-side pick. This is the honest exact-quantile regime: bounded
    groups exact, corpus-wide quantiles via agg_percentiles' sketch.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_partkey",
        F.col("l_extendedprice").cast("decimal(30,2)").alias("price"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "price", "l_orderkey", "l_linenumber"
    )
    cum = rows.select(
        "l_partkey",
        "price",
        "qty",
        F.sum("qty").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cumw"),
        F.sum("qty").over(
            Window.partitionBy("l_partkey").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("totw"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        _top_per_key(
            cum.where(F.lit(2) * F.col("cumw") >= F.col("totw")), "l_partkey", "rn"
        )
        .select(
            "l_partkey",
            dec2double(F.col("price")).alias("weighted_median_price"),
            F.col("totw").alias("total_qty"),
        )
    )


_WEIGHTED_MEDIAN_SQL = """
WITH cum AS (
  SELECT l_partkey,
         CAST(l_extendedprice AS DECIMAL(30,2)) AS price,
         CAST(l_quantity AS BIGINT) AS qty,
         SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_partkey
           ORDER BY CAST(l_extendedprice AS DECIMAL(30,2)),
                    l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_partkey) AS totw,
         row_number() OVER (
           PARTITION BY l_partkey
           ORDER BY CAST(l_extendedprice AS DECIMAL(30,2)),
                    l_orderkey, l_linenumber) AS rn
  FROM lineitem
)
SELECT l_partkey,
       CAST(CAST(price AS VARCHAR) AS DOUBLE) AS weighted_median_price,
       CAST(totw AS BIGINT) AS total_qty
FROM (
  SELECT *, row_number() OVER (PARTITION BY l_partkey ORDER BY rn) AS pick_rn
  FROM cum WHERE 2 * cumw >= totw
) WHERE pick_rn = 1
"""


# --------------------------------------------------- bloom-prefiltered join

_BLOOM_BITS = 8192  # m: bitmap width (128 longs)
_BLOOM_HASHES = 3   # k: hash functions per key


def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join with an explicit bloom-filter pre-pass: build an
    m=8192-bit / k=3 bloom bitmap over the small side's join keys,
    broadcast it as a 128-long literal array, and row-filter the big
    side map-side BEFORE the join — the runtime row-level filtering
    pattern (Spark's own spark.sql.optimizer.runtime.bloomFilter does
    this inside the engine; here it is explicit so the plan shape is
    inspectable and portable). Blooms have no false negatives, so the
    result is EXACTLY the plain inner join — which is the oracle: the
    optimization must be invisible in the answer.

    The bitmap build is one distinct + explode over the SMALL side and
    one bounded collect (<= m set-bit positions, same O(constant)
    driver discipline as pack_lpt_shards' O(shards) collect). At 100 TB
    the big-side scan drops non-matching rows at the scan/filter stage
    — no shuffle of rows that would die in the join; the join itself
    then broadcasts the small side.

    Output is an exact-count/decimal-sum aggregate per order priority,
    so the key's hash is insensitive to row order and join physical
    strategy."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    small = cust.where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    ).select("c_custkey", "c_name")

    def positions(key):
        return [
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(_BLOOM_BITS))
            for i in range(_BLOOM_HASHES)
        ]

    bits = sorted(
        r.p
        for r in small.select(
            F.explode(F.array(*positions(F.col("c_custkey")))).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * (_BLOOM_BITS // 64)
    for p in bits:
        words[p // 64] |= 1 << (p % 64)
    # two's-complement into signed int64 for the literal array
    bitmap = F.array(
        *[F.lit(w - (1 << 64) if w >= (1 << 63) else w) for w in words]
    )
    probe = orders.withColumn("_bm", bitmap)
    member = None
    for i in range(_BLOOM_HASHES):
        pos = f"pmod(xxhash64(o_custkey, {i}), {_BLOOM_BITS})"
        hit = F.expr(
            f"(shiftright(element_at(_bm, cast({pos} / 64 AS INT) + 1), "
            f"cast({pos} % 64 AS INT)) % 2) != 0"
        )
        member = hit if member is None else (member & hit)
    filtered = probe.where(member).drop("_bm")
    return (
        filtered.join(
            F.broadcast(small),
            filtered["o_custkey"] == small["c_custkey"],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec2double(
                F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            ).alias("sum_price"),
        )
    )


# the bloom pre-filter must be answer-invisible: the oracle is the
# PLAIN inner join (no false negatives by construction)
_BLOOM_JOIN_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS VARCHAR)
            AS DOUBLE) AS sum_price
FROM orders
JOIN (SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000) s
  ON o_custkey = s.c_custkey
GROUP BY o_orderpriority
"""


# --------------------------------------------------- entity resolution

_ER_MASK_WIDTH = 6  # masked neighborhood covers the last 6 characters


def _er_mask_expr(col: str, k: int) -> str:
    """SQL for ``col`` with the character ``k`` positions from the end
    replaced by '#' (k=0 masks the last character). Shared verbatim by
    both engines — Spark and DuckDB agree on concat/substring here."""
    return (
        f"concat(substring({col}, 1, length({col}) - {k} - 1), '#', "
        f"substring({col}, length({col}) - {k} + 1))"
    )


def _er_sides_sql() -> tuple[str, str]:
    """(master, dirty-batch) derivation SQL, engine-shared.

    The dirty batch models a registration feed: every 5th customer
    re-enters the system under a new id, and every 3rd of those has a
    single-character typo planted at a deterministic position within
    the last ``_ER_MASK_WIDTH`` characters (the high-entropy tail of
    the name — where real-world id-like keys carry their signal)."""
    edit = (
        "concat(substring(c_name, 1, length(c_name) - (c_custkey % 6) - 1),"
        " 'x', substring(c_name, length(c_name) - (c_custkey % 6) + 1))"
    )
    master = "SELECT c_custkey, c_name FROM customer"
    dirty = f"""SELECT c_custkey + 1000000 AS r_id,
       CASE WHEN c_custkey % 3 = 0 THEN {edit} ELSE c_name END AS r_name
FROM customer WHERE c_custkey % 5 = 0"""
    return master, dirty


def entity_resolve_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: match a dirty registration batch against the
    customer master by masked-neighborhood blocking + exact edit-
    distance verify — the SymSpell/deletion-neighborhood family of
    blocking, specialized to substitution typos. Each side expands a
    name into ``_ER_MASK_WIDTH + 1`` variants (itself, plus each of
    the last 6 positions masked with '#'); records sharing ANY variant
    become a candidate pair; candidates are verified with
    levenshtein <= 1 and the best match per dirty record wins
    (min distance, then min master key — ambiguity between digit-
    neighbors is resolved deterministically, and the ``correct``
    column scores it, making the key its own accuracy report).

    Recall is structural, not probabilistic: a substitution at tail
    position k leaves the mask-at-k variant of the dirty name EQUAL to
    the master's mask-at-k variant, so every planted edit is
    guaranteed a candidate — the verify join never misses, it only
    prunes. (Real deployments widen the neighborhood to deletions /
    transpositions; the plumbing is identical.)

    100 TB shape: variant explode is a 7x map; the candidate join
    shuffles on the variant string, whose blocks are alphabet-bounded
    (one masked position -> at most |alphabet| collisions), so no
    quadratic block ever forms — unlike prefix blocking, which on
    id-like names degenerates into one giant block. Levenshtein runs
    only on candidates. The dirty batch is small by nature; the
    master side is the 100 TB table and everything on it is linear.
    """
    cust = load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer")
    master_sql, dirty_sql = _er_sides_sql()
    return er_match_frame(spark.sql(master_sql), spark.sql(dirty_sql))


def er_match_frame(master: DataFrame, dirty: DataFrame) -> DataFrame:
    """Frame-level matcher (the mis_frame pattern): ``master`` is
    (c_custkey, c_name), ``dirty`` is (r_id, r_name); returns the
    best-match rows of :func:`entity_resolve_blocked`. Per-r_id
    independence: the candidate set and the best-match window both key
    on r_id alone, so matching ANY partition of the dirty batch and
    unioning equals matching the whole batch — the property the
    streaming twin (stream_entity_resolve) relies on."""
    variants = [F.expr("name")] + [
        F.expr(_er_mask_expr("name", k)) for k in range(_ER_MASK_WIDTH)
    ]
    lvar = master.select(
        "c_custkey", F.col("c_name").alias("name")
    ).select(
        "c_custkey", "name", F.explode(F.array(*variants)).alias("v")
    )
    rvar = dirty.select(
        "r_id", F.col("r_name").alias("name")
    ).select("r_id", "name", F.explode(F.array(*variants)).alias("v"))
    cand = (
        lvar.join(rvar.withColumnRenamed("name", "rname"), "v")
        .select("c_custkey", "name", "r_id", "rname")
        .distinct()
    )
    verified = cand.withColumn(
        "dist", F.levenshtein("name", "rname").cast("long")
    ).where(F.col("dist") <= 1)
    return _top_per_key(verified, "r_id", ["dist", "c_custkey"]).select(
        "r_id",
        F.col("c_custkey").alias("match_key"),
        "dist",
        (F.col("c_custkey") == F.col("r_id") - 1000000).cast("int").alias("correct"),
    )


def _er_oracle_sql() -> str:
    master_sql, dirty_sql = _er_sides_sql()
    masks = ", ".join(
        _er_mask_expr("name", k) for k in range(_ER_MASK_WIDTH)
    )
    return f"""
WITH master AS ({master_sql}),
dirty AS ({dirty_sql}),
lvar AS (
  SELECT c_custkey, name, unnest([name, {masks}]) AS v
  FROM (SELECT c_custkey, c_name AS name FROM master)
),
rvar AS (
  SELECT r_id, name AS rname, unnest([name, {masks}]) AS v
  FROM (SELECT r_id, r_name AS name FROM dirty)
),
cand AS (
  SELECT DISTINCT l.c_custkey, l.name, r.r_id, r.rname
  FROM lvar l JOIN rvar r USING (v)
),
verified AS (
  SELECT c_custkey, r_id,
         CAST(levenshtein(name, rname) AS BIGINT) AS dist,
         name, rname
  FROM cand
  WHERE levenshtein(name, rname) <= 1
)
SELECT r_id, c_custkey AS match_key, dist,
       CAST(c_custkey = r_id - 1000000 AS INTEGER) AS correct
FROM (SELECT *, row_number() OVER (PARTITION BY r_id
                                   ORDER BY dist, c_custkey) AS rn
      FROM verified)
WHERE rn = 1
"""


_ER_SQL = _er_oracle_sql()


_GRID_EPS_Q = 50_000  # eps = 0.05 in 1e-6 coordinate units
_GRID_SHIFT = 1 << 30  # keeps cell division on non-negatives


def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-neighborhood SELF-JOIN via grid bucketing over the
    embedding corpus's first two coordinates — the canonical
    distributed spatial join: points land in ε-sized cells, the probe
    side replicates to its 3×3 cell neighborhood, and the join runs on
    the CELL KEY (an equi-join Catalyst can hash-partition) instead of
    an O(n²) theta join on the distance predicate. Each qualifying
    pair (|Δx| ≤ ε ∧ |Δy| ≤ ε, L∞) is found exactly once — in the
    anchor point's home cell — because exactly one of the probe's 9
    replicas shares it. Output is the per-cell density report
    (points homed, pairs anchored), bounded by |occupied cells|.

    Exact-integer discipline: coordinates quantize to 1e-6 BIGINTs;
    cells use a +2^30 shift so Spark ``div`` and DuckDB ``//`` agree
    on negative coordinates; every distance test is a BIGINT
    comparison. At 100 TB the probe replication is a constant 9× on
    the (narrow) point stream, the join shuffles once on the cell key,
    and hot cells are exactly the AQE skew-join case."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1_000_000)
        .cast("long")
        .alias("x"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1_000_000)
        .cast("long")
        .alias("y"),
    )
    cell = lambda c: F.expr(f"({c} + {_GRID_SHIFT}) div {_GRID_EPS_Q}")  # noqa: E731
    home = pts.select(
        "vec_id", "x", "y",
        cell("x").alias("cx"), cell("y").alias("cy"),
    )
    probe = (
        home.select(
            F.col("vec_id").alias("b_id"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.explode(
                F.array(*[F.col("cx") + d for d in (-1, 0, 1)])
            ).alias("cx"),
            "cy",
        )
        .select(
            "b_id", "bx", "by", "cx",
            F.explode(
                F.array(*[F.col("cy") + d for d in (-1, 0, 1)])
            ).alias("cy"),
        )
    )
    pairs = home.join(probe, ["cx", "cy"]).where(
        (F.col("vec_id") < F.col("b_id"))
        & (F.abs(F.col("x") - F.col("bx")) <= _GRID_EPS_Q)
        & (F.abs(F.col("y") - F.col("by")) <= _GRID_EPS_Q)
    )
    n_pts = home.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n_pts")
    )
    n_pairs = pairs.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return (
        n_pts.join(n_pairs, ["cx", "cy"], "left")
        .select(
            "cx",
            "cy",
            "n_pts",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        )
    )


_SPATIAL_SQL = f"""
WITH pts AS (
  SELECT vec_id,
         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS x,
         CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS y
  FROM embeddings
),
home AS (
  SELECT vec_id, x, y,
         (x + {_GRID_SHIFT}) // {_GRID_EPS_Q} AS cx,
         (y + {_GRID_SHIFT}) // {_GRID_EPS_Q} AS cy
  FROM pts
),
probe AS (
  SELECT vec_id AS b_id, x AS bx, y AS by,
         cx + dx.d AS cx, cy + dy.d AS cy
  FROM home,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
),
pairs AS (
  SELECT h.cx, h.cy, CAST(count(*) AS BIGINT) AS n_pairs
  FROM home h JOIN probe p USING (cx, cy)
  WHERE h.vec_id < p.b_id
    AND abs(h.x - p.bx) <= {_GRID_EPS_Q}
    AND abs(h.y - p.by) <= {_GRID_EPS_Q}
  GROUP BY h.cx, h.cy
)
SELECT h.cx, h.cy,
       CAST(count(*) AS BIGINT) AS n_pts,
       COALESCE(max(pr.n_pairs), 0) AS n_pairs
FROM home h LEFT JOIN pairs pr USING (cx, cy)
GROUP BY h.cx, h.cy
"""


_FK_RELATIONS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def data_quality_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every foreign key in the
    star schema: per relationship, the child row count and the number
    of ORPHANS (child keys with no parent) — the ingest gate that
    catches a truncated dimension load before a day of downstream
    joins silently drops rows.

    Each relationship audits against the DISTINCT parent key set (the
    natural broadcast side: dimension keys are orders of magnitude
    smaller than facts); the six audits are independent branches
    unioned into one report — at 100 TB they run in parallel and each
    scans only its two key columns (pruned parquet reads).

    Round-11 shape fix (guide §1.2 — don't compute things twice): the
    old plan scanned every CHILD table twice per relationship (once
    for count(*), once under a left-anti join, 12 fact scans total
    in the round-11 plan). One broadcast LEFT
    OUTER join against the distinct parent keys folds both measures
    into a single aggregate over a single scan: n_child = count(*),
    n_orphans = count of rows whose parent key failed to match.
    Identical numbers — the parent side is distinct so the left join
    multiplies nothing, and an unmatched row is precisely what the
    anti join counted."""
    out = None
    for child, ck, parent, pk in _FK_RELATIONS:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        row = (
            c.join(F.broadcast(p), "k", "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.count(F.when(F.col("hit").isNull(), 1)).alias(
                    "n_orphans"
                ),
            )
            .select(
                F.lit(f"{child}.{ck}").alias("fk"),
                F.lit(f"{parent}.{pk}").alias("pk"),
                "n_child",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


_FK_AUDIT_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{child}.{ck}' AS fk, '{parent}.{pk}' AS pk,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
       (SELECT CAST(count(*) AS BIGINT) FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                          WHERE p.{pk} = c.{ck})) AS n_orphans"""
    for child, ck, parent, pk in _FK_RELATIONS
)


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the view -> purchase funnel:
    per user, the seconds from FIRST view to the FIRST purchase after
    it; reported per user-cohort (user_id % 10) as exact discrete
    median / p90 / max — the latency companion to
    ``funnel_conversion``'s stage counts (conversion RATE without
    conversion TIME hides a dying funnel whose conversions are
    drifting later).

    Percentiles are DISCRETE order statistics picked by row_number at
    ceil(q·n) (ties broken by user_id), not interpolated — integer
    seconds in, integer seconds out, so the hash oracle is exact on
    both engines (no quantile_cont IEEE-midpoint coupling). Shape: two
    filtered per-user aggregates joined on user_id (the journal's
    bucket key), then a window over the cohort-sized converted set —
    linear at 100 TB, no self-join of raw events."""
    ev = load_table(spark, sf_dir, "events")
    first_view = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    first_buy = (
        ev.where(F.col("event_type") == "purchase")
        .join(first_view, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"), F.min("t_view").alias("t_view"))
    )
    deltas = first_buy.select(
        "user_id",
        F.pmod(F.col("user_id"), F.lit(10)).alias("cohort"),
        # exact micros first, ONE division after the subtraction —
        # unix_timestamp() would floor each side separately and drift
        # a second against the oracle's subtract-then-truncate
        F.expr(
            "(unix_micros(t_buy) - unix_micros(t_view)) div 1000000"
        ).alias("delta_s"),
    )
    w = Window.partitionBy("cohort").orderBy("delta_s", "user_id")
    ranked = deltas.select(
        "cohort",
        "delta_s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("cohort")).alias("n"),
    )
    return ranked.groupBy("cohort").agg(
        F.max("n").alias("n_converted"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") / 2), F.col("delta_s"))
        ).alias("median_s"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 9 / 10), F.col("delta_s")
            )
        ).alias("p90_s"),
        F.max("delta_s").alias("max_s"),
    )


_FUNNEL_TIME_SQL = """
WITH first_view AS (
  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
first_buy AS (
  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_buy,
         min(v.t_view) AS t_view
  FROM events e JOIN first_view v USING (user_id)
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > v.t_view
  GROUP BY e.user_id
),
deltas AS (
  SELECT user_id, user_id % 10 AS cohort,
         (epoch_us(t_buy) - epoch_us(t_view)) // 1000000 AS delta_s
  FROM first_buy
),
ranked AS (
  SELECT cohort, delta_s, user_id,
         row_number() OVER (PARTITION BY cohort
                            ORDER BY delta_s, user_id) AS rn,
         count(*) OVER (PARTITION BY cohort) AS n
  FROM deltas
)
SELECT cohort,
       CAST(max(n) AS BIGINT) AS n_converted,
       max(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT)
                THEN delta_s END) AS median_s,
       max(CASE WHEN rn = CAST(ceil(n * 9 / 10.0) AS BIGINT)
                THEN delta_s END) AS p90_s,
       max(delta_s) AS max_s
FROM ranked
GROUP BY cohort
"""


_AGING_BUCKETS_D = (30, 90, 365)  # aging thresholds in days


def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging report: non-finished orders bucketed
    by age (days from o_orderdate to the corpus's max order date —
    the deterministic as-of point), per (priority, bucket): order
    count and exact-decimal value at risk. The receivables/backlog
    report every ops dashboard has, and a deliberately
    broadcast-scalar shape: the as-of date is ONE row joined back via
    crossJoin(broadcast), so the whole report is a single pruned scan
    + one groupBy — no window, no self-join, linear at 100 TB.

    Ages are exact integer days ((as_of_us − order_us) div 86400e6,
    both sides non-negative); bucket edges are closed-open
    [0,30) [30,90) [90,365) [365,∞) labeled by their lower edge."""
    orders = load_table(spark, sf_dir, "orders")
    as_of = orders.agg(F.max("o_orderdate").alias("as_of"))
    open_orders = orders.where(F.col("o_orderstatus") != "F").crossJoin(
        F.broadcast(as_of)
    )
    # o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC, so the
    # cast to TIMESTAMP is the identity and unix_micros stays exact
    age_d = F.expr(
        "(unix_micros(cast(as_of as timestamp))"
        " - unix_micros(cast(o_orderdate as timestamp))) div 86400000000"
    )
    lo, mid, hi = _AGING_BUCKETS_D
    bucket = (
        F.when(age_d < lo, F.lit(0))
        .when(age_d < mid, F.lit(lo))
        .when(age_d < hi, F.lit(mid))
        .otherwise(F.lit(hi))
    )
    return (
        open_orders.select(
            "o_orderpriority",
            bucket.cast("long").alias("age_bucket_d"),
            "o_totalprice",
        )
        .groupBy("o_orderpriority", "age_bucket_d")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("value_at_risk"),
        )
    )


_BACKLOG_SQL = f"""
WITH as_of AS (SELECT max(o_orderdate) AS as_of FROM orders),
open_orders AS (
  SELECT o_orderpriority, o_totalprice,
         (epoch_us(a.as_of) - epoch_us(o_orderdate)) // 86400000000
           AS age_d
  FROM orders, as_of a
  WHERE o_orderstatus <> 'F'
)
SELECT o_orderpriority,
       CAST(CASE WHEN age_d < {_AGING_BUCKETS_D[0]} THEN 0
                 WHEN age_d < {_AGING_BUCKETS_D[1]}
                   THEN {_AGING_BUCKETS_D[0]}
                 WHEN age_d < {_AGING_BUCKETS_D[2]}
                   THEN {_AGING_BUCKETS_D[1]}
                 ELSE {_AGING_BUCKETS_D[2]} END AS BIGINT) AS age_bucket_d,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS value_at_risk
FROM open_orders
GROUP BY 1, 2
"""


def skyline_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-BRAND Pareto frontier (min price, max size) — the grouped
    twin of ``skyline_pareto`` with a deliberately different physical
    shape: inside a group the 2D skyline is two window functions, no
    self-join at all. A point survives iff its size strictly exceeds
    the max size over all STRICTLY cheaper same-brand points (RANGE
    frame ending 1 cent before current) AND it has the max size at
    its exact price (same-price domination; exact duplicates tie and
    all survive). At 100 TB the brand is the partition key — each
    group's frontier computes independently with zero cross-group
    traffic, the shape a window gets for free and a self-join never
    does.

    Exact-integer discipline: prices in DECIMAL-derived cents, sizes
    BIGINT — dominance is pure integer comparison on both engines."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_brand",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    w_below = (
        Window.partitionBy("p_brand")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_brand", "price_c")
    return (
        p.withColumn("best_below", F.max("size").over(w_below))
        .withColumn("best_same", F.max("size").over(w_same))
        .where(
            (
                F.col("best_below").isNull()
                | (F.col("size") > F.col("best_below"))
            )
            & (F.col("size") == F.col("best_same"))
        )
        .select("p_brand", "p_partkey", "price_c", "size")
    )


_SKY_GROUPED_SQL = """
WITH p AS (
  SELECT p_partkey, p_brand,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_c,
         CAST(p_size AS BIGINT) AS size
  FROM part
),
scored AS (
  SELECT p_brand, p_partkey, price_c, size,
         max(size) OVER (PARTITION BY p_brand ORDER BY price_c
                         RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS best_below,
         max(size) OVER (PARTITION BY p_brand, price_c) AS best_same
  FROM p
)
SELECT p_brand, p_partkey, price_c, size
FROM scored
WHERE (best_below IS NULL OR size > best_below) AND size = best_same
"""


_REC_SCALE = 1_000_000_000  # 1e9 cosine² quantization
_REC_TOPK = 5


def recommend_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: for every
    part, the top-``_REC_TOPK`` co-purchased parts by cosine similarity
    cooc(i,j)/√(deg(i)·deg(j)) — the classic "customers who bought
    this also bought" recommender (Linden et al., item-to-item CF).

    No square root anywhere: cosine is RANKED via its square,
    score_q = (1e9·cooc²) div (deg_i·deg_j), a single integer division
    of BIGINTs (monotone in cosine since all terms are positive), so
    the ranking is engine- and partition-proof. Headroom: 1e9·cooc²
    needs cooc ≤ 3e4 (fixture max is tiny; a 100 TB run with hotter
    pairs widens to DECIMAL(38,0) — the PageRank/zipf recipe).

    Scale shape: baskets are distinct (order, part) rows; the pair
    join is an equi-join on order key, output Σ_orders k²/2 with
    k ≈ 4 items per TPC-H order — LINEAR in orders, not quadratic in
    parts (a hot basket at 100 TB is capped upstream the same way
    ``bipartite_copurchase`` caps hot parts). Degrees join back via
    broadcast of the |parts|-row degree table; top-k is one window
    over the pair aggregate."""
    from graph_database_akkatyped_spark.caching import cut

    li = load_table(spark, sf_dir, "lineitem")
    # cut: the distinct basket frame feeds THREE consumers (both pair
    # sides + the degree table); checkpointing it makes the dedup
    # shuffle run once instead of three times (30 -> 14 Exchanges)
    oi = cut(li.select("l_orderkey", "l_partkey").distinct())
    deg = oi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("deg"))
    a, b = oi.alias("a"), oi.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pi"),
            F.col("b.l_partkey").alias("pj"),
        )
        .agg(F.count(F.lit(1)).alias("cooc"))
    )
    sym = _sym(pairs, "pi", "pj", "cooc")
    scored = (
        sym.join(
            F.broadcast(deg.select(F.col("l_partkey").alias("pi"),
                                   F.col("deg").alias("di"))),
            "pi",
        )
        .join(
            F.broadcast(deg.select(F.col("l_partkey").alias("pj"),
                                   F.col("deg").alias("dj"))),
            "pj",
        )
        .select(
            "pi",
            "pj",
            "cooc",
            F.expr(f"({_REC_SCALE} * cooc * cooc) div (di * dj)").alias(
                "score_q"
            ),
        )
    )
    order = [F.col("score_q").desc(), F.col("cooc").desc(), "pj"]
    return _top_per_key(scored, "pi", order, _REC_TOPK, rank="rnk").select(
        "pi", "pj", "cooc", "score_q", "rnk"
    )


_RECOMMEND_SQL = f"""
WITH oi AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
deg AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS deg FROM oi GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS pi, b.l_partkey AS pj,
         CAST(count(*) AS BIGINT) AS cooc
  FROM oi a JOIN oi b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
sym AS (
  SELECT pi, pj, cooc FROM pairs
  UNION ALL
  SELECT pj, pi, cooc FROM pairs
),
scored AS (
  SELECT pi, pj, cooc,
         ({_REC_SCALE} * cooc * cooc) // (di.deg * dj.deg) AS score_q
  FROM sym
  JOIN deg di ON di.l_partkey = pi
  JOIN deg dj ON dj.l_partkey = pj
)
SELECT pi, pj, cooc, score_q, rnk FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY pi ORDER BY score_q DESC, cooc DESC, pj
  ) AS INTEGER) AS rnk
  FROM scored)
WHERE rnk <= {_REC_TOPK}
"""


_SKY_BUCKET_C = 100  # price-bucket width in cents (1 dollar)


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline over the part catalog: minimize retail price,
    maximize size — the "no other part is both cheaper and larger"
    frontier, the classic multi-criteria OLAP operator (Börzsönyi et
    al., ICDE 2001) that no single ORDER BY can express.

    Distributed shape (the textbook two-phase skyline): (1) a LINEAR
    bucket prefilter — group prices into ``_SKY_BUCKET_C``-cent
    buckets, take each bucket's max size (map-side partial agg), and
    prefix-max that tiny |buckets|-row frame so each point keeps only
    ``best size in any strictly-cheaper bucket``; a point survives iff
    its size strictly exceeds that (20 000 parts -> ~200 candidates at
    sf0.1). (2) exact dominance anti-join on the candidate set only,
    broadcast both sides. Soundness: any dominator of a candidate is
    either in a strictly-cheaper bucket (then the prefix max already
    pruned the candidate) or in the SAME bucket — in which case the
    dominator's size >= the candidate's makes it a candidate too, so
    the anti-join sees every dominator it needs. At 100 TB the
    expensive pass is the one groupBy (linear, partial-agg friendly);
    the window runs on |buckets| rows and the quadratic finish on the
    frontier-sized candidate set.

    Exact-integer discipline: prices become cents via DECIMAL(18,2)
    (exact in both engines), so every comparison is BIGINT — no float
    dominance ties anywhere. Ties: identical (price, size) points
    don't dominate each other, so true duplicates all stay on the
    frontier (strict-in-one dominance)."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        "p_size",
    ).withColumn("pb", F.expr(f"price_c div {_SKY_BUCKET_C}"))
    b = p.groupBy("pb").agg(F.max("p_size").alias("bmax"))
    wb = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    pref = b.select("pb", F.max("bmax").over(wb).alias("below"))
    cand = (
        p.join(F.broadcast(pref), "pb")
        .where(F.col("below").isNull() | (F.col("p_size") > F.col("below")))
        .select("p_partkey", "price_c", "p_size")
    )
    i, j = cand.alias("i"), cand.alias("j")
    frontier = i.join(
        F.broadcast(j),
        (F.col("j.price_c") <= F.col("i.price_c"))
        & (F.col("j.p_size") >= F.col("i.p_size"))
        & (
            (F.col("j.price_c") < F.col("i.price_c"))
            | (F.col("j.p_size") > F.col("i.p_size"))
        ),
        "left_anti",
    )
    return frontier.select("p_partkey", "price_c", "p_size").orderBy(
        "price_c", "p_partkey"
    )


_SKYLINE_SQL = f"""
WITH p AS (
  SELECT p_partkey,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_c,
         p_size
  FROM part
),
b AS (
  SELECT price_c // {_SKY_BUCKET_C} AS pb, max(p_size) AS bmax
  FROM p GROUP BY 1
),
pref AS (
  SELECT pb,
         max(bmax) OVER (ORDER BY pb
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS below
  FROM b
),
cand AS (
  SELECT p_partkey, price_c, p_size
  FROM p JOIN pref ON p.price_c // {_SKY_BUCKET_C} = pref.pb
  WHERE below IS NULL OR p_size > below
)
SELECT i.p_partkey, i.price_c, i.p_size
FROM cand i
WHERE NOT EXISTS (
  SELECT 1 FROM cand j
  WHERE j.price_c <= i.price_c AND j.p_size >= i.p_size
    AND (j.price_c < i.price_c OR j.p_size > i.p_size))
ORDER BY i.price_c, i.p_partkey
"""


QUERIES = {
    "entity_resolve_blocked": entity_resolve_blocked,
    "join_bloom_prefilter": join_bloom_prefilter,
    "agg_weighted_median": agg_weighted_median,
    "basket_association_rules": basket_association_rules,
    "revenue_pareto": revenue_pareto,
    "merge_scd2": merge_scd2,
    "sketch_countmin_heavy": sketch_countmin_heavy,
    "events_pattern_match": events_pattern_match,
    "snapshot_diff": snapshot_diff,
    "merge_cdc_upsert": merge_cdc_upsert,
    "window_distribution": window_distribution,
    "join_interval_bucketed": join_interval_bucketed,
    # hash-grade since round 9: the sketch BINARY is not
    # SQL-reproducible, so both sketch keys emit scorecards (exact
    # column + accuracy flags) whose oracles are registered in ORACLES
    "agg_sketch_epoch_merge": agg_sketch_epoch_merge,
    "agg_sketch_intersection": agg_sketch_intersection,
    "retention_cohorts": retention_cohorts,
    "rfm_segmentation": rfm_segmentation,
    "sample_hash": sample_hash,
    "agg_filtered": agg_filtered,
    "journal_intervals": journal_intervals,
    "journal_compact_replay": journal_compact_replay,
    "funnel_conversion": funnel_conversion,
    "events_anomaly_hours": events_anomaly_hours,
    "skyline_pareto": skyline_pareto,
    "recommend_item_cosine": recommend_item_cosine,
    "funnel_time_to_convert": funnel_time_to_convert,
    "join_spatial_grid": join_spatial_grid,
    "data_quality_fk_audit": data_quality_fk_audit,
    "skyline_grouped": skyline_grouped,
    "orders_backlog_aging": orders_backlog_aging,
}

_EPOCH_MERGE_SQL = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
       CAST(1 AS INTEGER) AS merged_within_5pct,
       CAST(1 AS INTEGER) AS full_within_5pct
FROM orders GROUP BY o_orderpriority
"""

ORACLES = {
    "agg_sketch_epoch_merge": _EPOCH_MERGE_SQL,
    "agg_sketch_intersection": _SKETCH_INTERSECT_SQL,
    "funnel_time_to_convert": _FUNNEL_TIME_SQL,
    "join_spatial_grid": _SPATIAL_SQL,
    "data_quality_fk_audit": _FK_AUDIT_SQL,
    "skyline_grouped": _SKY_GROUPED_SQL,
    "orders_backlog_aging": _BACKLOG_SQL,
    "skyline_pareto": _SKYLINE_SQL,
    "recommend_item_cosine": _RECOMMEND_SQL,
    "entity_resolve_blocked": _ER_SQL,
    "join_bloom_prefilter": _BLOOM_JOIN_SQL,
    "agg_weighted_median": _WEIGHTED_MEDIAN_SQL,
    "basket_association_rules": _BASKET_SQL,
    "revenue_pareto": _PARETO_SQL,
    "merge_scd2": _SCD2_SQL,
    "sketch_countmin_heavy": _COUNTMIN_SQL,
    "events_pattern_match": _PATTERN_SQL,
    "snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "merge_cdc_upsert": _MERGE_SQL,
    "window_distribution": _WINDOW_DIST_SQL,
    "join_interval_bucketed": _INTERVAL_SQL,
    "retention_cohorts": _RETENTION_SQL,
    "rfm_segmentation": _RFM_SQL,
    "sample_hash": _SAMPLE_SQL,
    "agg_filtered": _AGG_FILTERED_SQL,
    "journal_intervals": _JOURNAL_SQL,
    "journal_compact_replay": _JOURNAL_COMPACT_SQL,
    "funnel_conversion": _FUNNEL_SQL,
    "events_anomaly_hours": _ANOMALY_SQL,
}
