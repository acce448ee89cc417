"""Exactly-once streaming sink: idempotent ``foreachBatch`` MERGE.

The one production streaming surface every deployment writes first:
Structured Streaming gives at-least-once batch delivery to
``foreachBatch`` (after a failure the SAME batch id is re-run), so an
exactly-once sink = an idempotent MERGE — commit each micro-batch's
partial aggregate into the snapshot store together with its batch id,
and skip batches whose id is already in the ledger. Delta/Iceberg users
get this from ``txnAppId``/``txnVersion`` MERGE metadata; this module
implements the same contract against an in-memory store so the whole
loop (stream -> partials -> ledger-gated MERGE -> replay-is-a-no-op) is
testable and oracle-checkable without a table format dependency.

Key design points for 100 TB:
- each micro-batch is reduced to a PARTIAL AGGREGATE before the merge
  (O(touched keys) state update per trigger, never O(history));
- all mergeable components are associative and exact: max_by over
  (ts, event_id) for last-event, integer counts, DECIMAL(30,2) value
  sums (doubles would drift with merge order — the final
  decimal->double conversion happens once, at read time);
- the REPLAY of the final batch happens inside the registered query
  itself, so the driver's value-hash oracle IS the idempotence check:
  a broken ledger double-counts and the hash mismatches.

The batch twin (same fold over the static table) is the registered
oracle; tests/test_streaming.py replays batches explicitly and pins
ledger behavior.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_database_akkatyped_spark.caching import (
    _unpersist_ids,
    cut,
    cut_block_ids,
    layout_dir,
    memoized_checkpoint,
)
from graph_database_akkatyped_spark.catalog import load_table
from graph_database_akkatyped_spark.operators.graph_build import _degrees, _sym
from graph_database_akkatyped_spark.numerics import dec2double, sql_dsum

_N_SPLITS = 4  # micro-batches the fixture is replayed as


def partial_snapshot(df: DataFrame) -> DataFrame:
    """Per-user mergeable partial of one micro-batch: last event
    (max_by over (ts, event_id) — event_id kept for the merge
    tie-break), count, exact-decimal value sum."""
    return df.groupBy("user_id").agg(
        F.max_by("event_type", F.struct("ts", "event_id")).alias(
            "last_event_type"
        ),
        F.max_by("event_id", F.struct("ts", "event_id")).alias(
            "last_event_id"
        ),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,2)"))
        .cast("decimal(30,2)")
        .alias("total_value_dec"),
    )


def merge_partials(cur: DataFrame | None, partial: DataFrame) -> DataFrame:
    """Associative MERGE of a batch partial into the stored state —
    union + re-aggregate with the merge form of each component. Exact
    arithmetic end to end, so any batch order (and any replay-free
    subset grouping) folds to the identical state."""
    if cur is None:
        return partial
    both = cur.unionByName(partial)
    return both.groupBy("user_id").agg(
        F.max_by(
            "last_event_type", F.struct("last_ts", "last_event_id")
        ).alias("last_event_type"),
        F.max_by(
            "last_event_id", F.struct("last_ts", "last_event_id")
        ).alias("last_event_id"),
        F.max("last_ts").alias("last_ts"),
        F.sum("n_events").alias("n_events"),
        F.sum("total_value_dec").cast("decimal(30,2)").alias(
            "total_value_dec"
        ),
    )


class IdempotentSnapshotStore:
    """In-memory stand-in for a transactional MERGE target. ``applied``
    is the batch-id ledger; a real deployment commits the MERGE and the
    ledger row in ONE transaction (Delta txnAppId/txnVersion, or an
    Iceberg snapshot property) — here both mutations happen in the same
    driver-side critical section, which models the same atomicity."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.applied: set[int] = set()
        self.state: DataFrame | None = None
        self.last: tuple[DataFrame, int] | None = None
        self.n_skipped_replays = 0
        self._state_block_ids: set[int] = set()

    def upsert(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch entry point. The partial is cut eagerly while
        the micro-batch frame is still valid; the merge itself goes
        through the ledger-gated :meth:`apply`. Only the latest partial
        is retained (for failure-replay) — the previous one's blocks
        are freed once it is no longer the replay candidate."""
        partial = cut(partial_snapshot(batch_df))
        new_ids = cut_block_ids(partial)
        prev = getattr(self, "_partial_block_ids", set())
        self.last = (partial, batch_id)
        self.apply(partial, batch_id)
        _unpersist_ids(self.spark, prev)
        self._partial_block_ids = new_ids

    def apply(self, partial: DataFrame, batch_id: int) -> None:
        if batch_id in self.applied:  # replayed batch: already committed
            self.n_skipped_replays += 1
            return
        self.state = cut(merge_partials(self.state, partial))
        new_ids = cut_block_ids(self.state)
        # the superseded state generation's blocks are dead once the
        # new cut materializes — free them so a long stream holds O(1)
        # state generations, not O(batches) (same discipline as the
        # Pregel kernel)
        _unpersist_ids(self.spark, self._state_block_ids)
        self._state_block_ids = new_ids
        self.applied.add(batch_id)

    def snapshot(self) -> DataFrame:
        """Read view of the store: drop the merge-internal tie-break
        column, convert the exact decimal once."""
        assert self.state is not None, "no batch was ever applied"
        return self.state.select(
            "user_id",
            "last_event_type",
            "last_ts",
            "n_events",
            dec2double(F.col("total_value_dec")).alias("total_value"),
        )


def _split_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """events rewritten as ``_N_SPLITS`` parquet files (hash-split on
    user_id) so the file stream source with maxFilesPerTrigger=1 yields
    a genuine multi-micro-batch run; ts is normalized at write time so
    the stream read needs no nanos handling. Cached per sf_dir via
    ``caching.layout_dir`` (evicted + rmtree'd by clear_frame_cache)."""
    return layout_dir(
        "split",
        sf_dir,
        lambda d: load_table(spark, sf_dir, "events")
        .repartition(_N_SPLITS, "user_id")
        .write.mode("overwrite")
        .parquet(d),
    )


def run_sink_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full exactly-once run: events replayed as ``_N_SPLITS``
    micro-batches through ``foreachBatch`` into the ledger-gated
    store, then the FINAL batch is replayed (what Spark does after a
    sink failure) — the ledger makes it a no-op. Returns the snapshot
    frame still backed by the store's cut blocks; callers must
    materialize (or re-cut) it before the store is released."""
    split_dir = _split_events_dir(spark, sf_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    store = IdempotentSnapshotStore(spark)
    ckpt = tempfile.mkdtemp(prefix="spark_graft_sink_ckpt_")
    q = (
        stream.writeStream.foreachBatch(store.upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    assert store.last is not None and len(store.applied) >= 2
    store.apply(*store.last)  # failure-replay of the final batch
    assert store.n_skipped_replays == 1
    snap = store.snapshot()
    snap._sink_store = store  # keep the store alive until materialized
    snap._sink_ckpt = ckpt
    return snap


def stream_sink_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered exactly-once sink key: the driver's value-hash oracle
    IS the idempotence check (a broken ledger double-counts the
    replayed batch and the hash mismatches).

    Resource discipline (round-6 fix): the result is memoized via
    ``memoized_checkpoint`` like every other expensive key, so a bench
    loop re-invoking it costs one memo fetch, not a fresh streaming
    run; and after the snapshot is cut, the store's internal state +
    partial blocks are unpersisted and the run's streaming checkpoint
    temp dir is deleted — a full run leaves behind exactly one
    evictable cut frame (``clear_frame_cache`` frees it), zero stray
    blocks, zero stray temp dirs."""
    holder: dict = {}

    def build() -> DataFrame:
        snap = run_sink_idempotent(spark, sf_dir)
        holder["store"] = snap._sink_store
        holder["ckpt"] = snap._sink_ckpt
        return snap

    out = memoized_checkpoint(spark, "sink_idempotent", sf_dir, build)
    store = holder.get("store")
    if store is not None:  # fresh build: release the run's resources
        _unpersist_ids(
            spark,
            store._state_block_ids
            | getattr(store, "_partial_block_ids", set()),
        )
        shutil.rmtree(holder["ckpt"], ignore_errors=True)
    return out


_SINK_IDEMPOTENT_SQL = f"""
WITH last AS (
  SELECT user_id, event_type, event_id FROM (
    SELECT user_id, event_type, event_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1
),
agg AS (
  SELECT user_id, CAST(max(ts) AS TIMESTAMP) AS last_ts,
         count(*) AS n_events,
         {sql_dsum('value', 2)} AS total_value
  FROM events GROUP BY user_id
)
SELECT a.user_id, l.event_type AS last_event_type, a.last_ts,
       a.n_events, a.total_value
FROM agg a JOIN last l USING (user_id)
"""


class IncrementalDegreeStore:
    """Incremental graph maintenance from the event journal — the
    reference's journal-replay identity [R] made INCREMENTAL instead of
    rebuild-the-world: each micro-batch MERGEs its new bipartite edges
    (user — (event_type, hour) slot, the same slot definition as
    ``build_user_graph``) into the maintained edge set, and the degree
    aggregate advances by exactly the genuinely-new edges.

    Two state frames, two scale regimes:
    - ``edges`` (distinct user/slot pairs) is the BIG state; a batch
      touches it only through a left-anti equi-join on the full edge
      key — at 100 TB this is a keyed MERGE into a bucketed table,
      O(batch) lookups, never an O(history) rescan. The union that
      follows appends the new rows (at scale: MERGE INSERT).
    - ``degrees`` is the small per-vertex aggregate, advanced by a
      union + groupBy-sum of the per-batch delta — O(users).

    Idempotence comes in TWO layers: the batch-id ledger skips known
    batches without work, and the merge itself is NATURALLY idempotent
    (a replayed batch's pairs all anti-join away, so degrees are
    unchanged even with the ledger bypassed) — set-union maintenance
    is self-healing under at-least-once delivery. The driver's
    value-hash oracle (batch twin: distinct-slot count per user over
    the whole journal) is the end-to-end check of both.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.applied: set[int] = set()
        self.edges: DataFrame | None = None
        self.degrees: DataFrame | None = None
        self._edge_blocks: set[int] = set()
        self._deg_blocks: set[int] = set()

    @staticmethod
    def _batch_pairs(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
        ).distinct()

    def upsert(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.applied:  # ledger layer: replay is free
            return
        self.apply(self._batch_pairs(batch_df), batch_id)

    def apply(self, batch_pairs: DataFrame, batch_id: int) -> None:
        from graph_database_akkatyped_spark.caching import cut_block_ids

        key = ["user_id", "event_type", "hour"]
        if self.edges is None:
            new_pairs = batch_pairs
        else:
            new_pairs = batch_pairs.join(self.edges, key, "left_anti")
        merged = (
            new_pairs
            if self.edges is None
            else self.edges.unionByName(new_pairs)
        )
        edges_cut = cut(merged)
        delta = _degrees(new_pairs, "user_id", "user_id", "degree")
        new_deg = (
            delta
            if self.degrees is None
            else self.degrees.unionByName(delta)
            .groupBy("user_id")
            .agg(F.sum("degree").alias("degree"))
        )
        deg_cut = cut(new_deg)
        # supersede previous generations (same O(1)-generations
        # discipline as the Pregel kernel and the snapshot store)
        _unpersist_ids(self.spark, self._edge_blocks | self._deg_blocks)
        self.edges, self._edge_blocks = edges_cut, cut_block_ids(edges_cut)
        self.degrees, self._deg_blocks = deg_cut, cut_block_ids(deg_cut)
        self.applied.add(batch_id)

    def snapshot(self) -> DataFrame:
        assert self.degrees is not None, "no batch was ever applied"
        return self.degrees.select("user_id", "degree")


def run_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full incremental-maintenance run over the journal replayed
    as micro-batches, ending with a ledger-BYPASSED replay of the
    final batch — which must be a no-op purely through the anti-join
    (the natural-idempotence layer), or the driver's value hash
    catches the double count."""
    split_dir = _split_events_dir(spark, sf_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    store = IncrementalDegreeStore(spark)
    last_pairs: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        pairs = cut(IncrementalDegreeStore._batch_pairs(batch_df))
        last_pairs.append((pairs, batch_id))
        store.apply(pairs, batch_id)

    ckpt = tempfile.mkdtemp(prefix="spark_graft_deg_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    assert len(store.applied) >= 2
    pairs, batch_id = last_pairs[-1]
    store.apply(pairs, batch_id + 1000)  # ledger-BYPASSED replay: no-op
    snap = store.snapshot()
    snap._deg_store = store
    snap._deg_ckpt = ckpt
    snap._deg_partials = last_pairs
    return snap


def stream_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental-graph-maintenance key; memoized with the
    same leak hygiene as ``stream_sink_idempotent`` (one evictable cut
    frame per run, store/partial blocks freed, checkpoint dir
    removed)."""
    from graph_database_akkatyped_spark.caching import cut_block_ids

    holder: dict = {}

    def build() -> DataFrame:
        snap = run_graph_degree(spark, sf_dir)
        holder["store"] = snap._deg_store
        holder["ckpt"] = snap._deg_ckpt
        holder["partials"] = snap._deg_partials
        return snap

    out = memoized_checkpoint(spark, "graph_degree", sf_dir, build)
    store = holder.get("store")
    if store is not None:
        stray = store._edge_blocks | store._deg_blocks
        for pairs, _bid in holder["partials"]:
            stray |= cut_block_ids(pairs)
        _unpersist_ids(spark, stray)
        shutil.rmtree(holder["ckpt"], ignore_errors=True)
    return out


_GRAPH_DEGREE_SQL = """
SELECT user_id,
       CAST(count(DISTINCT event_type || '|' ||
                  CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR))
            AS BIGINT) AS degree
FROM events
GROUP BY user_id
"""


class IncrementalCooccurStore:
    """Incremental maintenance of the user co-occurrence GRAPH itself —
    one step past ``IncrementalDegreeStore`` (which maintains a
    per-vertex aggregate): per micro-batch, the genuinely-new
    (slot, user) memberships join ONLY against their own slots'
    current members to emit new canonical user-user edges, which merge
    into the maintained pair set by anti-join. The full journal is
    never rescanned; the final pair set provably equals the batch
    builder's (the registered key runs fixed-iteration PageRank over
    it and hash-matches the BATCH PageRank oracle end-to-end).

    Per-batch cost is O(batch x slot-occupancy) — the same hot-slot
    k² the batch builder has, bounded per batch by the ts slice; a
    production run caps it exactly like ``build_user_graph_capped``
    (slot_capped_users before the member join). Replay is free twice
    over: the ledger skips known batch ids, and every merge is an
    anti-join set union — naturally idempotent under at-least-once
    delivery.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.applied: set[int] = set()
        self.members: DataFrame | None = None   # (event_type, hour, user_id)
        self.pairs: DataFrame | None = None     # canonical a<b user pairs
        self._m_blocks: set[int] = set()
        self._p_blocks: set[int] = set()

    @staticmethod
    def _batch_members(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
            "user_id",
        ).distinct()

    def apply(self, batch_members: DataFrame, batch_id: int) -> None:
        from graph_database_akkatyped_spark.caching import cut_block_ids

        key = ["event_type", "hour", "user_id"]
        if self.members is None:
            new = batch_members
        else:
            new = batch_members.join(self.members, key, "left_anti")
        new = cut(new)
        universe = (
            new if self.members is None else self.members.unionByName(new)
        )
        fresh_pairs = (
            new.select(
                "event_type", "hour", F.col("user_id").alias("u")
            )
            .join(
                universe.select(
                    "event_type", "hour", F.col("user_id").alias("v")
                ),
                ["event_type", "hour"],
            )
            .where(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("a"),
                F.greatest("u", "v").alias("b"),
            )
            .distinct()
        )
        if self.pairs is not None:
            fresh_pairs = fresh_pairs.join(self.pairs, ["a", "b"], "left_anti")
        merged_pairs = (
            fresh_pairs
            if self.pairs is None
            else self.pairs.unionByName(fresh_pairs)
        )
        members_cut = cut(universe)
        pairs_cut = cut(merged_pairs)
        _unpersist_ids(self.spark, self._m_blocks | self._p_blocks)
        self.members, self._m_blocks = members_cut, cut_block_ids(members_cut)
        self.pairs, self._p_blocks = pairs_cut, cut_block_ids(pairs_cut)
        self.applied.add(batch_id)

    def snapshot_rank(self) -> DataFrame:
        """Fixed-10-iteration integer-µ-unit PageRank over the
        MAINTAINED graph — uniform init, so the result is a pure
        function of the final pair set and hash-matches the batch
        PageRank oracle iff incremental maintenance converged to the
        batch-built graph."""
        from graph_database_akkatyped_spark.operators.algos import (
            pagerank_frame,
        )
        assert self.pairs is not None, "no batch was ever applied"
        verts = self.members.select(
            F.col("user_id").alias("id")
        ).distinct()
        return pagerank_frame(verts, _sym(self.pairs, "a", "b"), 10).select(
            F.col("id").alias("user_id"), "rank_e12", "rank"
        )


def run_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journal replayed as micro-batches through the co-occurrence
    store, ledger-BYPASSED replay of the final batch (must be a no-op
    purely via the anti-joins), then PageRank over the maintained
    graph."""
    split_dir = _split_events_dir(spark, sf_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    store = IncrementalCooccurStore(spark)
    last_members: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        members = cut(IncrementalCooccurStore._batch_members(batch_df))
        last_members.append((members, batch_id))
        store.apply(members, batch_id)

    ckpt = tempfile.mkdtemp(prefix="spark_graft_pr_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    assert len(store.applied) >= 2
    members, batch_id = last_members[-1]
    store.apply(members, batch_id + 1000)  # bypassed replay: no-op
    snap = store.snapshot_rank()
    snap._pr_store = store
    snap._pr_ckpt = ckpt
    snap._pr_partials = last_members
    return snap


def stream_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental-PageRank key; memoized with the same leak
    hygiene as ``stream_graph_degree``. The oracle is the BATCH
    PageRank SQL (same graph definition, same 10 integer iterations) —
    a hash match proves the incrementally maintained edge set equals
    the batch-built one, edge for edge."""
    from graph_database_akkatyped_spark.caching import cut_block_ids

    holder: dict = {}

    def build() -> DataFrame:
        snap = run_graph_pagerank(spark, sf_dir)
        holder["store"] = snap._pr_store
        holder["ckpt"] = snap._pr_ckpt
        holder["partials"] = snap._pr_partials
        return snap

    out = memoized_checkpoint(spark, "graph_pagerank_inc", sf_dir, build)
    store = holder.get("store")
    if store is not None:
        stray = store._m_blocks | store._p_blocks
        for members, _bid in holder["partials"]:
            stray |= cut_block_ids(members)
        _unpersist_ids(spark, stray)
        shutil.rmtree(holder["ckpt"], ignore_errors=True)
    return out


# ------------------------------------------ incremental SCD2 maintenance


def _scd2_stitch(src: DataFrame) -> DataFrame:
    """Interval stitching over raw versions (custkey, balance,
    valid_from, chg_seq): the same window pass as the batch
    ``merge_scd2``, kept separate so the incremental store can apply
    it to ONLY the affected keys of a micro-batch."""
    from pyspark.sql import Window

    w = Window.partitionBy("custkey").orderBy("valid_from", "chg_seq")
    return src.select(
        "custkey",
        "balance",
        "valid_from",
        "chg_seq",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


class IncrementalScd2Store:
    """Ledger-gated incremental SCD2 history: per micro-batch, only
    the AFFECTED keys' histories are re-stitched (their raw versions +
    the batch's new versions through one scoped window pass); every
    untouched key's rows pass through by anti-join. This realizes the
    claim in merge_scd2's docstring — at scale a batch closes only the
    affected keys' current rows, O(touched history) per trigger, never
    O(all history). Raw (balance, valid_from, chg_seq) stays alongside
    the stitched columns so a re-stitch is lossless. Re-stitching is
    NOT naturally idempotent (re-applying a batch would duplicate
    versions), hence the same batch-id ledger as
    IdempotentSnapshotStore."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.applied: set[int] = set()
        self.history: DataFrame | None = None
        self.n_skipped_replays = 0
        self._block_ids: set[int] = set()

    def apply(self, changes: DataFrame, batch_id: int) -> None:
        """``changes``: cut frame of raw versions (custkey, balance,
        valid_from, chg_seq)."""
        if batch_id in self.applied:
            self.n_skipped_replays += 1
            return
        if self.history is None:
            new_hist = _scd2_stitch(changes)
        else:
            affected = changes.select("custkey").distinct()
            keep = self.history.join(affected, "custkey", "left_anti")
            redo_src = self.history.join(
                affected, "custkey", "left_semi"
            ).select("custkey", "balance", "valid_from", "chg_seq")
            new_hist = keep.unionByName(
                _scd2_stitch(redo_src.unionByName(changes))
            )
        cut_hist = cut(new_hist)
        _unpersist_ids(self.spark, self._block_ids)
        self.history, self._block_ids = cut_hist, cut_block_ids(cut_hist)
        self.applied.add(batch_id)

    def snapshot(self) -> DataFrame:
        assert self.history is not None, "no batch was ever applied"
        return self.history.select(
            "custkey",
            "balance",
            "valid_from",
            "valid_to",
            "version",
            "is_current",
        )


def _split_orders_dir(spark: SparkSession, sf_dir: str) -> str:
    """orders rewritten as ``_N_SPLITS`` parquet files (hash-split on
    o_custkey) for a genuine multi-micro-batch replay. Cached."""
    return layout_dir(
        "osplit",
        sf_dir,
        lambda d: load_table(spark, sf_dir, "orders")
        .repartition(_N_SPLITS, "o_custkey")
        .write.mode("overwrite")
        .parquet(d),
    )


def run_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full incremental SCD2 run: the store seeds from the
    customer master (version-1 rows at the floor date), the orders
    journal replays as micro-batches through ``foreachBatch``, and the
    final batch is replayed through the ledger (the post-failure path)
    — a broken ledger would double the affected keys' versions and the
    driver's value hash would catch it."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("balance"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(0).cast("long").alias("chg_seq"),
    )
    store = IncrementalScd2Store(spark)
    seed = cut(cust)
    last: list = [(seed, -1)]  # tracked so cleanup frees the seed cut
    store.apply(seed, -1)  # seed = the dimension's initial load
    split_dir = _split_orders_dir(spark, sf_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        changes = cut(
            batch_df.select(
                F.col("o_custkey").alias("custkey"),
                F.col("o_totalprice").alias("balance"),
                F.col("o_orderdate").alias("valid_from"),
                F.col("o_orderkey").alias("chg_seq"),
            )
        )
        last.append((changes, batch_id))
        store.apply(changes, batch_id)

    ckpt = tempfile.mkdtemp(prefix="spark_graft_scd2_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    assert len(store.applied) >= 3  # seed + >= 2 micro-batches
    changes, batch_id = last[-1]
    store.apply(changes, batch_id)  # post-failure replay: ledger no-op
    assert store.n_skipped_replays >= 1
    snap = store.snapshot()
    snap._scd2_store = store
    snap._scd2_ckpt = ckpt
    snap._scd2_partials = last
    return snap


def stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental-SCD2 key; memoized with the same leak
    hygiene as stream_graph_degree (one evictable cut frame per run,
    store/partial blocks freed, checkpoint dir removed). The oracle is
    the BATCH merge_scd2 SQL — the incremental path must land on the
    identical versioned history."""
    from graph_database_akkatyped_spark.caching import cut_block_ids

    holder: dict = {}

    def build() -> DataFrame:
        snap = run_stream_scd2(spark, sf_dir)
        holder["store"] = snap._scd2_store
        holder["ckpt"] = snap._scd2_ckpt
        holder["partials"] = snap._scd2_partials
        return snap

    out = memoized_checkpoint(spark, "stream_scd2", sf_dir, build)
    store = holder.get("store")
    if store is not None:
        stray = set(store._block_ids)
        for changes, _bid in holder["partials"]:
            stray |= cut_block_ids(changes)
        _unpersist_ids(spark, stray)
        shutil.rmtree(holder["ckpt"], ignore_errors=True)
    return out


# ---------------------------------------- streaming IVF maintenance

def _emb_split_dir(spark: SparkSession, sf_dir: str) -> str:
    """The APPENDED embedding slice (label >= the rebalance base, i.e.
    the vectors that arrive after the index freeze) rewritten as
    ``_N_SPLITS`` parquet files hash-split on vec_id, so the stream
    replays a genuine multi-micro-batch ingest. Cached like
    ``_split_events_dir``."""
    from graph_database_akkatyped_spark.operators.llm import (
        _REBAL_BASE_LABELS,
    )

    return layout_dir(
        "embsplit",
        sf_dir,
        lambda d: load_table(spark, sf_dir, "embeddings")
        .where(F.col("label") >= _REBAL_BASE_LABELS)
        .repartition(_N_SPLITS, "vec_id")
        .write.mode("overwrite")
        .parquet(d),
    )


class IncrementalIvfStore:
    """Streaming IVF index maintenance — the stream twin of
    ``simsearch_ivf_append``: each micro-batch of arriving vectors is
    assigned to its argmax-cosine cell of a FROZEN broadcast centroid
    table (never recluster on ingest; the monitored escape hatch is
    ``simsearch_ivf_rebalance``), and the assignment table advances by
    exactly the batch — O(batch × cells) per trigger, the history is
    never rescanned. At 100 TB the merge is an INSERT into the
    cell-partitioned layout ``simsearch_ivf_partitioned`` probes.

    Batches are key-disjoint (hash-split on vec_id), so the merge is a
    pure append — NOT naturally idempotent under replay, hence the
    same batch-id ledger as ``IncrementalScd2Store``; the run replays
    the final batch through the ledger and the driver's value hash
    would catch a double-assignment."""

    def __init__(self, spark: SparkSession, cells: DataFrame):
        self.spark = spark
        self.cells = cells  # cut (cell, centroid, cnrm)
        self.applied: set[int] = set()
        self.assigned: DataFrame | None = None
        self.n_skipped_replays = 0
        self._block_ids: set[int] = set()

    def apply(self, batch_vecs: DataFrame, batch_id: int) -> None:
        """``batch_vecs``: cut frame (vec_id, label, embedding, nrm)."""
        from graph_database_akkatyped_spark.operators.llm import (
            _nearest_cell,
        )

        if batch_id in self.applied:
            self.n_skipped_replays += 1
            return
        assign = _nearest_cell(batch_vecs, self.cells).select(
            "vec_id", "label", "cell"
        )
        merged = (
            assign
            if self.assigned is None
            else self.assigned.unionByName(assign)
        )
        new_state = cut(merged)
        _unpersist_ids(self.spark, self._block_ids)
        self.assigned, self._block_ids = new_state, cut_block_ids(new_state)
        self.applied.add(batch_id)

    def snapshot(self) -> DataFrame:
        assert self.assigned is not None, "no batch was ever applied"
        return self.assigned.select(
            "vec_id",
            "label",
            "cell",
            (F.col("cell") != F.col("label")).alias("drifted"),
        )


def run_stream_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full streaming-ingest run: frozen centroids from the base
    corpus (labels below the rebalance split), the appended slice
    replayed as micro-batches through ``foreachBatch``, final batch
    replayed through the ledger (the post-failure path)."""
    from graph_database_akkatyped_spark.operators.llm import (
        _REBAL_BASE_LABELS,
        _cell_means,
        _vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("label") < _REBAL_BASE_LABELS).select(
        F.col("label").cast("long").alias("cell"), "embedding"
    )
    cells = cut(_cell_means(base, "cell"))
    store = IncrementalIvfStore(spark, cells)
    split_dir = _emb_split_dir(spark, sf_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    last: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        vecs = cut(
            _vectors(batch_df, F.col("label").cast("long").alias("label"))
        )
        last.append((vecs, batch_id))
        store.apply(vecs, batch_id)

    ckpt = tempfile.mkdtemp(prefix="spark_graft_ivf_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    assert len(store.applied) >= 2
    vecs, batch_id = last[-1]
    store.apply(vecs, batch_id)  # ledger replay: must be skipped
    assert store.n_skipped_replays >= 1
    snap = store.snapshot()
    snap._ivf_store = store
    snap._ivf_ckpt = ckpt
    snap._ivf_partials = last
    return snap


def stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered streaming-IVF-maintenance key; memoized with the
    same leak hygiene as ``stream_graph_degree`` (store/partial/cell
    blocks freed, checkpoint dir removed). The oracle is the BATCH
    assignment of the full appended slice — the hash match proves the
    incremental ingest converges to the batch answer."""
    holder: dict = {}

    def build() -> DataFrame:
        snap = run_stream_ivf(spark, sf_dir)
        holder["store"] = snap._ivf_store
        holder["ckpt"] = snap._ivf_ckpt
        holder["partials"] = snap._ivf_partials
        return snap

    out = memoized_checkpoint(spark, "stream_ivf", sf_dir, build)
    store = holder.get("store")
    if store is not None:
        stray = set(store._block_ids) | cut_block_ids(store.cells)
        for vecs, _bid in holder["partials"]:
            stray |= cut_block_ids(vecs)
        _unpersist_ids(spark, stray)
        shutil.rmtree(holder["ckpt"], ignore_errors=True)
    return out


def _stream_ivf_oracle() -> str:
    from graph_database_akkatyped_spark.operators.llm import (
        _REBAL_BASE_LABELS,
        _sql_dot,
    )

    return f"""
WITH corpus AS MATERIALIZED (
  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
         {_sql_dot('embedding', 'embedding')} AS nrm
  FROM embeddings
),
fdims AS (
  SELECT label AS cell, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS val
  FROM corpus WHERE label < {_REBAL_BASE_LABELS}
),
fcd AS (
  SELECT cell, pos,
         CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1e8) AS BIGINT)) AS DOUBLE)
           / (count(*) * 1e8) AS cval
  FROM fdims GROUP BY cell, pos
),
frozen AS MATERIALIZED (
  SELECT cell, centroid, {_sql_dot('centroid', 'centroid')} AS cnrm FROM (
    SELECT cell, list(cval ORDER BY pos) AS centroid FROM fcd GROUP BY cell)
)
SELECT vec_id, label, cell, cell <> label AS drifted FROM (
  SELECT c.vec_id, c.label, f.cell,
         row_number() OVER (
           PARTITION BY c.vec_id
           ORDER BY {_sql_dot('c.embedding', 'f.centroid')}
                     / (sqrt(c.nrm) * sqrt(f.cnrm)) DESC, f.cell) AS rnk
  FROM corpus c CROSS JOIN frozen f
  WHERE c.label >= {_REBAL_BASE_LABELS}
) WHERE rnk = 1
"""


# ---------------------------------------- batch backfill + stream tail

_BACKFILL_DAYS = 15  # cutoff = day0 + 15 d — splits the 30-day journal


class BackfillMergeStore:
    """Batch-backfill + streaming-tail merge — the pattern that
    retires a lambda architecture: ONE aggregation definition, applied
    once to the history (a batch job over everything before the
    cutoff) and incrementally to the tail (micro-batches at/after the
    cutoff), with the merged table required to equal a from-scratch
    batch recompute over the whole journal. The oracle is exactly that
    recompute — cutoff-free BY DESIGN: if any event were double-counted
    across the seam (or a replayed batch re-applied), the value hash
    breaks.

    State is a list of per-batch partial aggregates (each cut
    eagerly); the snapshot re-aggregates backfill + partials — the
    standard partial/final split, so each trigger costs O(batch) and
    the history is never rescanned. Replay-safe via the same batch-id
    ledger as ``IncrementalScd2Store``."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.applied: set[int] = set()
        self.partials: list[DataFrame] = []
        self.n_skipped_replays = 0

    def apply(self, batch_agg: DataFrame, batch_id: int) -> None:
        """``batch_agg``: cut partial (user_id, event_type, n, cents)."""
        if batch_id in self.applied:
            self.n_skipped_replays += 1
            return
        self.partials.append(batch_agg)
        self.applied.add(batch_id)


def run_stream_backfill_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full backfill+tail run: history aggregated in one batch
    pass, the tail replayed as genuine micro-batches through
    ``foreachBatch``, the final batch replayed through the ledger (the
    post-failure path), then the merged per-(user, type) table."""
    import datetime

    ev = load_table(spark, sf_dir, "events")
    day0 = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0")).collect()[0][
        "d0"
    ]
    cutoff = day0 + datetime.timedelta(days=_BACKFILL_DAYS)
    cents = F.floor(F.col("value") * 100).cast("long")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents"),
        )

    backfill = cut(agg(ev.where(F.col("ts") < F.lit(cutoff))))
    store = BackfillMergeStore(spark)
    split_dir = _split_events_dir(spark, sf_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    last: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        part = cut(agg(batch_df.where(F.col("ts") >= F.lit(cutoff))))
        last.append((part, batch_id))
        store.apply(part, batch_id)

    ckpt = tempfile.mkdtemp(prefix="spark_graft_backfill_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    assert len(store.applied) >= 2
    part, batch_id = last[-1]
    store.apply(part, batch_id)  # ledger replay: must be skipped
    assert store.n_skipped_replays >= 1
    merged = backfill
    for p in store.partials:
        merged = merged.unionByName(p)
    snap = merged.groupBy("user_id", "event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("total_cents"),
    )
    snap._bf_ckpt = ckpt
    snap._bf_partials = [backfill, *store.partials]
    return snap


def stream_backfill_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered backfill+tail key; memoized with the same leak
    hygiene as the other stream stores (partial blocks freed,
    checkpoint dir removed). The oracle is the cutoff-free batch
    recompute over the full journal."""
    holder: dict = {}

    def build() -> DataFrame:
        snap = run_stream_backfill_merge(spark, sf_dir)
        holder["ckpt"] = snap._bf_ckpt
        holder["partials"] = snap._bf_partials
        return snap

    out = memoized_checkpoint(spark, "stream_backfill", sf_dir, build)
    if "ckpt" in holder:
        stray: set[int] = set()
        for p in holder["partials"]:
            stray |= cut_block_ids(p)
        _unpersist_ids(spark, stray)
        shutil.rmtree(holder["ckpt"], ignore_errors=True)
    return out


_BACKFILL_MERGE_SQL = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY user_id, event_type
"""


# ---------------------------------------- streaming entity resolution


def _er_split_dir(spark: SparkSession, sf_dir: str) -> str:
    """The dirty registration batch (entity_resolve_blocked's right
    side) rewritten as ``_N_SPLITS`` parquet files hash-split on r_id,
    so the stream replays a genuine multi-micro-batch feed."""
    from graph_database_akkatyped_spark.operators.relational_extras import (
        _er_sides_sql,
    )

    def build(d: str) -> None:
        load_table(spark, sf_dir, "customer").createOrReplaceTempView(
            "customer"
        )
        _, dirty_sql = _er_sides_sql()
        spark.sql(dirty_sql).repartition(
            _N_SPLITS, "r_id"
        ).write.mode("overwrite").parquet(d)

    return layout_dir("ersplit", sf_dir, build)


def run_stream_entity_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming entity resolution against a static master: the dirty
    registration feed arrives in micro-batches; each batch runs the
    masked-neighborhood match (er_match_frame) against the full
    customer master and appends its matches, ledgered by batch id so a
    replayed batch is skipped rather than double-matched.

    Correctness is structural, not approximate: the matcher's
    candidate set and best-match window key on r_id alone, and the
    feed is hash-split on r_id — so the union of per-batch matches IS
    the batch answer, and the oracle is entity_resolve_blocked's
    oracle verbatim. This is the production ER shape: a master too
    big to re-match arrives once; registrations trickle in."""
    from graph_database_akkatyped_spark.operators.relational_extras import (
        _er_sides_sql,
        er_match_frame,
    )

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    master_sql, _ = _er_sides_sql()
    master = cut(spark.sql(master_sql))
    split_dir = _er_split_dir(spark, sf_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    parts: list = []
    applied: set[int] = set()
    skipped = [0]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in applied:  # ledger: replay must be a no-op
            skipped[0] += 1
            return
        applied.add(batch_id)
        parts.append((cut(er_match_frame(master, batch_df)), batch_id))

    ckpt = tempfile.mkdtemp(prefix="spark_graft_er_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    assert len(parts) >= 2, "feed did not split into micro-batches"
    sink(parts[-1][0], parts[-1][1])  # ledger replay: must be skipped
    assert skipped[0] >= 1
    out = parts[0][0]
    for frame, _bid in parts[1:]:
        out = out.unionByName(frame)
    snap = cut(out)
    snap._er_parts = parts
    snap._er_master = master
    snap._er_ckpt = ckpt
    return snap


def stream_entity_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered streaming-ER key; memoized with the same leak
    hygiene as stream_ivf_assign (per-batch cut blocks and the master
    cut freed, checkpoint dir removed). Oracle: the BATCH
    entity_resolve_blocked SQL — the hash match proves the ledgered
    incremental feed converges to the batch answer."""
    holder: dict = {}

    def build() -> DataFrame:
        snap = run_stream_entity_resolve(spark, sf_dir)
        holder["parts"] = snap._er_parts
        holder["master"] = snap._er_master
        holder["ckpt"] = snap._er_ckpt
        return snap

    out = memoized_checkpoint(spark, "stream_er", sf_dir, build)
    if "parts" in holder:
        stray = cut_block_ids(holder["master"])
        for frame, _bid in holder["parts"]:
            stray |= cut_block_ids(frame)
        _unpersist_ids(spark, stray)
        shutil.rmtree(holder["ckpt"], ignore_errors=True)
    return out


def _stream_er_oracle() -> str:
    from graph_database_akkatyped_spark.operators.relational_extras import (
        _ER_SQL,
    )

    return _ER_SQL


# ---------------------------------------------- streaming Holt smoother

_HOLT_SPLITS = 3  # sequential 10-day journal slices


def _holt_split_dir(spark: SparkSession, sf_dir: str) -> str:
    """The 30-day journal rewritten as ``_HOLT_SPLITS`` SEQUENTIAL
    time-range parquet files (days [1,10], [11,20], [21,30]) with
    ascending modification times, so the file stream replays history
    in order — an ORDER-SENSITIVE replay layout, unlike the hash
    splits every other stream key uses (their folds are commutative;
    a smoothing recursion is not)."""
    import os
    import time as _time

    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        lo = ev.agg(F.min("ts")).collect()[0][0]
        bounds = [10, 20, 10_000]  # days per slice boundary (open top)
        prev = 0
        for i, hi in enumerate(bounds):
            part = ev.where(
                (F.datediff(F.col("ts"), F.lit(lo)) >= prev)
                & (F.datediff(F.col("ts"), F.lit(lo)) < hi)
            )
            tmp = tempfile.mkdtemp(prefix="spark_graft_holtslice_")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            dst = f"{d}/slice_{i:03d}.parquet"
            shutil.move(f"{tmp}/{src}", dst)
            shutil.rmtree(tmp, ignore_errors=True)
            # ascending mtimes pin FileStreamSource's oldest-first order
            t = _time.time() - 300 + i * 10
            os.utime(dst, (t, t))
            prev = hi

    return layout_dir("holtsplit", sf_dir, build)


class StreamingHoltStore:
    """Driver-held Holt state per event_type: (last day index, level,
    trend) in exact milli-units plus the emitted fitted rows and a
    batch-id ledger. Each micro-batch is REDUCED to its (type, day,
    count) partial aggregate before it reaches the store — O(types ×
    days-in-batch) state per trigger, never O(history) — and the
    recursion advances only through days CONTIGUOUS with what was
    already processed (an out-of-order slice fails loudly instead of
    silently smoothing a permuted series). Replayed batch ids are
    skipped (the idempotent-MERGE ledger contract of
    ``stream_sink_idempotent``)."""

    def __init__(self) -> None:
        from graph_database_akkatyped_spark.operators.behavior import (
            _HOLT_SHIFT,
        )

        self._shift = _HOLT_SHIFT
        self.state: dict[str, tuple] = {}  # type -> (day, l, b)
        self.pending: dict[str, tuple] = {}  # type -> (day0, x0, n0)
        self.rows: list[tuple] = []
        self.applied: set[int] = set()
        self.n_skipped_replays = 0

    def apply(self, pdf, batch_id: int) -> None:
        if batch_id in self.applied:
            self.n_skipped_replays += 1
            return
        self.applied.add(batch_id)
        s = self._shift
        for et, g in pdf.groupby("event_type"):
            g = g.sort_values("day")
            for day, n in zip(g["day"], g["n"]):
                x = int(n) * 1000
                if et in self.state:
                    last_day, l, b = self.state[et]
                    assert day > last_day, (
                        f"out-of-order day {day} after {last_day} for {et}"
                    )
                    l_new = (x + 3 * (l + b) + 4 * s) // 4 - s
                    b = ((l_new - l) + b + 2 * s) // 2 - s
                    l = l_new
                    self.state[et] = (day, l, b)
                    self.rows.append((et, day.to_pydatetime(), int(n), l, b))
                elif et in self.pending:
                    day0, x0, n0 = self.pending.pop(et)
                    assert day > day0, "out-of-order first pair"
                    l, b = x0, x - x0  # classic init l1=x1, b1=x2-x1
                    self.rows.append((et, day0.to_pydatetime(), n0, l, b))
                    l_new = (x + 3 * (l + b) + 4 * s) // 4 - s
                    b = ((l_new - l) + b + 2 * s) // 2 - s
                    l = l_new
                    self.state[et] = (day, l, b)
                    self.rows.append((et, day.to_pydatetime(), int(n), l, b))
                else:
                    # first observation: the init trend needs day 2,
                    # so day 1 is buffered, not emitted
                    self.pending[et] = (day, x, int(n))


def run_stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full ordered streaming run of the Holt smoother over the
    journal replay; returns the fitted (event_type, day, n, level_q,
    trend_q) table, which must hash-match the BATCH recursion
    (``timeseries_holt``'s oracle) — the convergence proof that the
    incremental state machine equals the from-scratch smoother."""
    split_dir = _holt_split_dir(spark, sf_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    store = StreamingHoltStore()
    last: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        pdf = (
            batch_df.groupBy(
                "event_type", F.date_trunc("day", "ts").alias("day")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .toPandas()
        )
        last.append((pdf, batch_id))
        store.apply(pdf, batch_id)

    ckpt = tempfile.mkdtemp(prefix="spark_graft_holt_ckpt_")
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    assert len(store.applied) >= _HOLT_SPLITS
    pdf, batch_id = last[-1]
    store.apply(pdf, batch_id)  # ledger replay: must be a no-op
    assert store.n_skipped_replays >= 1
    assert not store.pending, "a series never saw its second day"
    out = spark.createDataFrame(
        store.rows,
        "event_type string, day timestamp, n long, level_q long, "
        "trend_q long",
    )
    return out


def stream_holt_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered streaming-Holt key (memoized). The oracle is the
    batch recursive-CTE smoother — hash equality proves the ordered
    incremental replay converges to the from-scratch answer, including
    the two-day init buffering and the ledger-gated replay skip."""
    return memoized_checkpoint(
        spark, "stream_holt", sf_dir, lambda: run_stream_holt(spark, sf_dir)
    )


def _stream_holt_oracle() -> str:
    from graph_database_akkatyped_spark.operators.behavior import _HOLT_SQL

    return _HOLT_SQL


QUERIES = {
    "stream_sink_idempotent": stream_sink_idempotent,
    "stream_graph_degree": stream_graph_degree,
    "stream_scd2": stream_scd2,
    "stream_graph_pagerank": stream_graph_pagerank,
    "stream_ivf_assign": stream_ivf_assign,
    "stream_backfill_merge": stream_backfill_merge,
    "stream_entity_resolve": stream_entity_resolve,
    "stream_holt_state": stream_holt_state,
}

ORACLES = {
    "stream_sink_idempotent": _SINK_IDEMPOTENT_SQL,
    "stream_backfill_merge": _BACKFILL_MERGE_SQL,
    "stream_graph_degree": _GRAPH_DEGREE_SQL,
    "stream_ivf_assign": _stream_ivf_oracle(),
    "stream_entity_resolve": _stream_er_oracle(),
    "stream_holt_state": _stream_holt_oracle(),
}


def _scd2_oracle() -> str:
    from graph_database_akkatyped_spark.operators.relational_extras import (
        _SCD2_SQL,
    )

    return _SCD2_SQL


ORACLES["stream_scd2"] = _scd2_oracle()


def _pagerank_oracle() -> str:
    from graph_database_akkatyped_spark.operators.algos import _pagerank_sql

    return _pagerank_sql(10)


ORACLES["stream_graph_pagerank"] = _pagerank_oracle()
