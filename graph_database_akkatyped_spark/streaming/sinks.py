"""Exactly-once streaming sinks: idempotent ``foreachBatch`` MERGE.

The one production streaming surface every deployment writes first:
Structured Streaming gives at-least-once batch delivery to
``foreachBatch`` (after a failure the SAME batch id is re-run), so an
exactly-once sink = an idempotent MERGE — commit each micro-batch's
partial aggregate into the snapshot store together with its batch id,
and skip batches whose id is already in the ledger. Delta/Iceberg users
get this from ``txnAppId``/``txnVersion`` MERGE metadata; this module
implements the same contract against in-memory stores so the whole
loop (stream -> partials -> ledger-gated MERGE -> replay-is-a-no-op) is
testable and oracle-checkable without a table format dependency.

Every key here is one ``runner.ledgered_run`` over one store. The run
replays a split-file layout as micro-batches, reduces each batch to
the store's partial, merges it, then redelivers the FINAL batch (what
Spark does after a sink failure), and memoizes the store's snapshot.
The runner's contract:
- it owns the run's temp checkpoint dir, every cut it recorded (the
  per-batch partials and the frames the store reads for the whole
  run) and the store's live blocks (``blocks``);
- it frees all of them in one ``finally``: after the snapshot is cut
  on success, and before re-raising when the stream or a check fails,
  so a full run leaves exactly one evictable cut frame and no temp dir;
- its run-shape checks raise ``RuntimeError`` (never ``assert``, which
  ``python -O`` strips): too few applied micro-batches, or a final
  replay that was not a no-op.
What stays per store: ledger replay versus the ledger-bypassed
``batch_id + 1000`` replay of the set-union stores, the minimum batch
count, and how the snapshot is assembled.

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

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from graph_database_akkatyped_spark.caching import (
    _unpersist_ids,
    cut,
    cut_block_ids,
    layout_dir,
    read_block_ids,
    release_cut,
)
from graph_database_akkatyped_spark.catalog import load_table
from graph_database_akkatyped_spark.operators.graph_build import _degrees, _sym
from graph_database_akkatyped_spark.numerics import dec2double, sql_dsum
from graph_database_akkatyped_spark.streaming.runner import ledgered_run

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


class _LedgerStore:
    """What every store of a ledgered run shares. ``applied`` is the
    batch-id ledger: an id enters it once its merge has committed, so
    a batch that failed mid-merge is merged again on redelivery.
    ``blocks`` are the cut blocks the current state lives in: a commit
    frees the superseded generation's, the run frees the last ones
    (plus anything else the store adds to them). ``min_batches`` is
    the fewest applied batches a full run must show."""

    min_batches = 2

    def __init__(self, spark: SparkSession | None):
        self.spark = spark
        self.applied: set[int] = set()
        self.n_skipped_replays = 0
        self.blocks: set[int] = set()

    def _replayed(self, batch_id: int) -> bool:
        """True, and counted, when ``batch_id`` already committed."""
        if batch_id in self.applied:
            self.n_skipped_replays += 1
            return True
        return False

    def _commit(self, batch_id: int, *state: DataFrame) -> None:
        """Swap in the new state cuts: the superseded generation's
        blocks are dead once they materialized, so a long stream holds
        O(1) state generations, not O(batches) (the Pregel kernel's
        discipline) — then ledger the batch."""
        _unpersist_ids(self.spark, self.blocks)
        self.blocks = set().union(*map(cut_block_ids, state))
        self.applied.add(batch_id)

    @staticmethod
    def _built(state):
        if state is None:
            raise RuntimeError("no batch was ever applied")
        return state

    def replay(self, partial, batch_id: int) -> bool:
        """Redeliver a batch through the ledger; True when it was
        skipped."""
        skipped = self.n_skipped_replays
        self.apply(partial, batch_id)
        return self.n_skipped_replays > skipped


class _SetUnionStore(_LedgerStore):
    """A store whose every merge is an anti-join set union, so
    re-applying a batch is a no-op even with the ledger bypassed —
    set-union maintenance is self-healing under at-least-once
    delivery."""

    def _new_rows(
        self, batch: DataFrame, state: DataFrame | None, key: list[str]
    ) -> DataFrame:
        """The rows of ``batch`` not yet in ``state`` (an anti-join on
        ``key``). Their count rides the frame as an observed metric,
        ``self.added``, read when the merge's own cut runs: no extra
        job."""
        if state is not None:
            batch = batch.join(state, key, "left_anti")
        self.added = Observation()
        return batch.observe(self.added, F.count(F.lit(1)).alias("n"))

    def replay(self, partial: DataFrame, batch_id: int) -> bool:
        """Redeliver with the ledger BYPASSED (a fresh id): only the
        anti-joins can make it a no-op, so it is one when they let no
        row through."""
        self.apply(partial, batch_id + 1000)
        return self.added.get["n"] == 0


class IdempotentSnapshotStore(_LedgerStore):
    """In-memory stand-in for a transactional MERGE target. ``applied``
    is the batch-id ledger; a real deployment commits the MERGE and the
    ledger row in ONE transaction (Delta txnAppId/txnVersion, or an
    Iceberg snapshot property) — here both mutations happen in the same
    driver-side critical section, which models the same atomicity."""

    def __init__(self, spark: SparkSession):
        super().__init__(spark)
        self.state: DataFrame | None = None

    partial = staticmethod(partial_snapshot)

    def apply(self, partial: DataFrame, batch_id: int) -> None:
        if self._replayed(batch_id):  # replayed batch: already committed
            return
        self.state = cut(merge_partials(self.state, partial))
        self._commit(batch_id, self.state)

    def snapshot(self) -> DataFrame:
        """Read view of the store: drop the merge-internal tie-break
        column, convert the exact decimal once."""
        return self._built(self.state).select(
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


def stream_sink_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered exactly-once sink key: events replayed as
    ``_N_SPLITS`` micro-batches into the ledger-gated store, then the
    FINAL batch is replayed through the ledger, which must skip it.
    The driver's value-hash oracle IS the idempotence check (a broken
    ledger double-counts the replayed batch and the hash mismatches).
    Memoized like every other expensive key, so a bench loop
    re-invoking it costs one memo fetch, not a fresh streaming run."""
    return ledgered_run(
        spark,
        "sink_idempotent",
        sf_dir,
        lambda _run_cut: (
            IdempotentSnapshotStore(spark),
            _split_events_dir(spark, sf_dir),
        ),
    )


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


class IncrementalDegreeStore(_SetUnionStore):
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
    unchanged even with the ledger bypassed). The driver's value-hash
    oracle (batch twin: distinct-slot count per user over the whole
    journal) is the end-to-end check of both.
    """

    def __init__(self, spark: SparkSession):
        super().__init__(spark)
        self.edges: DataFrame | None = None
        self.degrees: DataFrame | None = None

    @staticmethod
    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
        ).distinct()

    def upsert(self, batch_df: DataFrame, batch_id: int) -> None:
        """``foreachBatch`` entry point: the ledger layer, then the
        merge."""
        if not self._replayed(batch_id):
            self.apply(self.partial(batch_df), batch_id)

    def apply(self, batch_pairs: DataFrame, batch_id: int) -> None:
        new_pairs = self._new_rows(
            batch_pairs, self.edges, ["user_id", "event_type", "hour"]
        )
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
        self.edges, self.degrees = edges_cut, cut(new_deg)
        self._commit(batch_id, self.edges, self.degrees)

    def snapshot(self) -> DataFrame:
        return self._built(self.degrees).select("user_id", "degree")


def stream_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental-graph-maintenance key: the journal
    replayed as micro-batches, ending with a ledger-BYPASSED replay of
    the final batch — which must be a no-op purely through the
    anti-join (the natural-idempotence layer), or the run raises."""
    return ledgered_run(
        spark,
        "graph_degree",
        sf_dir,
        lambda _run_cut: (
            IncrementalDegreeStore(spark),
            _split_events_dir(spark, sf_dir),
        ),
    )


_GRAPH_DEGREE_SQL = """
SELECT user_id,
       CAST(count(DISTINCT event_type || '|' ||
                  CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR))
            AS BIGINT) AS degree
FROM events
GROUP BY user_id
"""


class IncrementalCooccurStore(_SetUnionStore):
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
        super().__init__(spark)
        self.members: DataFrame | None = None   # (event_type, hour, user_id)
        self.pairs: DataFrame | None = None     # canonical a<b user pairs

    @staticmethod
    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
            "user_id",
        ).distinct()

    def apply(self, batch_members: DataFrame, batch_id: int) -> None:
        key = ["event_type", "hour", "user_id"]
        new = cut(self._new_rows(batch_members, self.members, key))
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
        self.members, self.pairs = cut(universe), cut(merged_pairs)
        release_cut(new)  # both new generations materialized from it
        self._commit(batch_id, self.members, self.pairs)

    def snapshot(self) -> DataFrame:
        """Fixed-10-iteration integer-µ-unit PageRank over the
        MAINTAINED graph — uniform init, so the result is a pure
        function of the final pair set and hash-matches the batch
        PageRank oracle iff incremental maintenance converged to the
        batch-built graph. The kernel's final generation is added to
        ``blocks``: nothing reads it once the snapshot is cut."""
        from graph_database_akkatyped_spark.operators.algos import (
            pagerank_frame,
        )

        verts = self._built(self.members).select(
            F.col("user_id").alias("id")
        ).distinct()
        rank = pagerank_frame(verts, _sym(self.pairs, "a", "b"), 10)
        self.blocks |= read_block_ids(rank)
        return rank.select(F.col("id").alias("user_id"), "rank_e12", "rank")


def stream_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental-PageRank key: the journal replayed as
    micro-batches through the co-occurrence store, a ledger-BYPASSED
    replay of the final batch (a no-op purely via the anti-joins),
    then PageRank over the maintained graph. The oracle is the BATCH
    PageRank SQL (same graph definition, same 10 integer iterations) —
    a hash match proves the incrementally maintained edge set equals
    the batch-built one, edge for edge."""
    return ledgered_run(
        spark,
        "graph_pagerank_inc",
        sf_dir,
        lambda _run_cut: (
            IncrementalCooccurStore(spark),
            _split_events_dir(spark, sf_dir),
        ),
    )


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


class IncrementalScd2Store(_LedgerStore):
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
    IdempotentSnapshotStore. A run seeds the store as batch -1, so it
    must show the seed plus at least two micro-batches."""

    min_batches = 3

    def __init__(self, spark: SparkSession):
        super().__init__(spark)
        self.history: DataFrame | None = None

    @staticmethod
    def partial(batch_df: DataFrame) -> DataFrame:
        """An orders micro-batch as raw versions."""
        return batch_df.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("balance"),
            F.col("o_orderdate").alias("valid_from"),
            F.col("o_orderkey").alias("chg_seq"),
        )

    def apply(self, changes: DataFrame, batch_id: int) -> None:
        """``changes``: cut frame of raw versions (custkey, balance,
        valid_from, chg_seq)."""
        if self._replayed(batch_id):
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
        self.history = cut(new_hist)
        self._commit(batch_id, self.history)

    def snapshot(self) -> DataFrame:
        return self._built(self.history).select(
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


def stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental-SCD2 key: the store seeds from the
    customer master (version-1 rows at the floor date), the orders
    journal replays as micro-batches, and the final batch is replayed
    through the ledger (the post-failure path) — a broken ledger would
    double the affected keys' versions and the driver's value hash
    would catch it. The oracle is the BATCH merge_scd2 SQL — the
    incremental path must land on the identical versioned history."""

    def start(run_cut):
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("balance"),
            F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
            F.lit(0).cast("long").alias("chg_seq"),
        )
        store = IncrementalScd2Store(spark)
        store.apply(run_cut(cust), -1)  # seed = the dimension's initial load
        return store, _split_orders_dir(spark, sf_dir)

    return ledgered_run(spark, "stream_scd2", sf_dir, start)


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


class IncrementalIvfStore(_LedgerStore):
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
        super().__init__(spark)
        self.cells = cells  # cut (cell, centroid, cnrm)
        self.assigned: DataFrame | None = None

    @staticmethod
    def partial(batch_df: DataFrame) -> DataFrame:
        from graph_database_akkatyped_spark.operators.llm import _vectors

        return _vectors(batch_df, F.col("label").cast("long").alias("label"))

    def apply(self, batch_vecs: DataFrame, batch_id: int) -> None:
        """``batch_vecs``: cut frame (vec_id, label, embedding, nrm)."""
        from graph_database_akkatyped_spark.operators.llm import (
            _nearest_cell,
        )

        if self._replayed(batch_id):
            return
        assign = _nearest_cell(batch_vecs, self.cells).select(
            "vec_id", "label", "cell"
        )
        merged = (
            assign
            if self.assigned is None
            else self.assigned.unionByName(assign)
        )
        self.assigned = cut(merged)
        self._commit(batch_id, self.assigned)

    def snapshot(self) -> DataFrame:
        return self._built(self.assigned).select(
            "vec_id",
            "label",
            "cell",
            (F.col("cell") != F.col("label")).alias("drifted"),
        )


def stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered streaming-IVF-maintenance key: frozen centroids from
    the base corpus (labels below the rebalance split), the appended
    slice replayed as micro-batches, the final batch replayed through
    the ledger (the post-failure path). The oracle is the BATCH
    assignment of the full appended slice — the hash match proves the
    incremental ingest converges to the batch answer."""
    from graph_database_akkatyped_spark.operators.llm import (
        _REBAL_BASE_LABELS,
        _cell_means,
    )

    def start(run_cut):
        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.where(F.col("label") < _REBAL_BASE_LABELS).select(
            F.col("label").cast("long").alias("cell"), "embedding"
        )
        cells = run_cut(_cell_means(base, "cell"))
        return IncrementalIvfStore(spark, cells), _emb_split_dir(spark, sf_dir)

    return ledgered_run(spark, "stream_ivf", sf_dir, start)


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


class _PartialsStore(_LedgerStore):
    """A store whose state is the list of its batches' partials (each
    a cut the run owns), reassembled at snapshot time — the standard
    partial/final split, so each trigger costs O(batch) and the
    history is never rescanned. Appending is NOT naturally idempotent,
    hence the batch-id ledger."""

    def __init__(self, spark: SparkSession):
        super().__init__(spark)
        self.partials: list[DataFrame] = []

    def apply(self, partial: DataFrame, batch_id: int) -> None:
        if self._replayed(batch_id):
            return
        self.partials.append(partial)
        self.applied.add(batch_id)


class BackfillMergeStore(_PartialsStore):
    """Batch-backfill + streaming-tail merge — the pattern that
    retires a lambda architecture: ONE aggregation definition, applied
    once to the history (a batch job over everything before the
    cutoff) and incrementally to the tail (micro-batches at/after the
    cutoff), with the merged table required to equal a from-scratch
    batch recompute over the whole journal. The oracle is exactly that
    recompute — cutoff-free BY DESIGN: if any event were double-counted
    across the seam (or a replayed batch re-applied), the value hash
    breaks."""

    def __init__(self, spark: SparkSession, backfill: DataFrame, cutoff):
        super().__init__(spark)
        self.backfill = backfill  # cut partial of the history
        self.cutoff = cutoff

    @staticmethod
    def agg(df: DataFrame) -> DataFrame:
        """(user_id, event_type, n, cents): the one aggregation."""
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )

    def partial(self, batch_df: DataFrame) -> DataFrame:
        return self.agg(batch_df.where(F.col("ts") >= F.lit(self.cutoff)))

    def snapshot(self) -> DataFrame:
        merged = self.backfill
        for p in self.partials:
            merged = merged.unionByName(p)
        return merged.groupBy("user_id", "event_type").agg(
            F.sum("n").alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )


def stream_backfill_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered backfill+tail key: history aggregated in one batch
    pass, the tail replayed as genuine micro-batches, the final batch
    replayed through the ledger (the post-failure path), then the
    merged per-(user, type) table. The oracle is the cutoff-free batch
    recompute over the full journal."""
    import datetime

    def start(run_cut):
        ev = load_table(spark, sf_dir, "events")
        day0 = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0")).collect()
        cutoff = day0[0]["d0"] + datetime.timedelta(days=_BACKFILL_DAYS)
        history = ev.where(F.col("ts") < F.lit(cutoff))
        store = BackfillMergeStore(
            spark, run_cut(BackfillMergeStore.agg(history)), cutoff
        )
        return store, _split_events_dir(spark, sf_dir)

    return ledgered_run(spark, "stream_backfill", sf_dir, start)


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


class EntityResolveStore(_PartialsStore):
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

    def __init__(self, spark: SparkSession, master: DataFrame):
        super().__init__(spark)
        self.master = master  # cut master side

    def partial(self, batch_df: DataFrame) -> DataFrame:
        from graph_database_akkatyped_spark.operators.relational_extras import (
            er_match_frame,
        )

        return er_match_frame(self.master, batch_df)

    def snapshot(self) -> DataFrame:
        """The lazy union of the batches' (cut) matches; the run's
        ``memoized_checkpoint`` cuts it once."""
        out = self.partials[0]
        for part in self.partials[1:]:
            out = out.unionByName(part)
        return out


def stream_entity_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered streaming-ER key (see ``EntityResolveStore``).
    Oracle: the BATCH entity_resolve_blocked SQL — the hash match
    proves the ledgered incremental feed converges to the batch
    answer."""
    from graph_database_akkatyped_spark.operators.relational_extras import (
        _er_sides_sql,
    )

    def start(run_cut):
        load_table(spark, sf_dir, "customer").createOrReplaceTempView(
            "customer"
        )
        master_sql, _ = _er_sides_sql()
        master = run_cut(spark.sql(master_sql))
        return EntityResolveStore(spark, master), _er_split_dir(spark, sf_dir)

    return ledgered_run(spark, "stream_er", sf_dir, start)


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


class StreamingHoltStore(_LedgerStore):
    """Driver-held Holt state per event_type: (last day index, level,
    trend) in exact milli-units plus the emitted fitted rows and a
    batch-id ledger. Each micro-batch is REDUCED to its (type, day,
    count) partial aggregate before it reaches the store — O(types ×
    days-in-batch) state per trigger, never O(history) — and the
    recursion advances only through days CONTIGUOUS with what was
    already processed (an out-of-order slice raises ``ValueError``
    instead of silently smoothing a permuted series). Replayed batch
    ids are skipped (the idempotent-MERGE ledger contract of
    ``stream_sink_idempotent``). A run must see every slice."""

    min_batches = _HOLT_SPLITS

    def __init__(self, spark: SparkSession | None = None) -> None:
        from graph_database_akkatyped_spark.operators.behavior import (
            _HOLT_SHIFT,
        )

        super().__init__(spark)
        self._shift = _HOLT_SHIFT
        self.state: dict[str, tuple] = {}  # type -> (day, l, b)
        self.pending: dict[str, tuple] = {}  # type -> (day0, x0, n0)
        self.rows: list[tuple] = []

    @staticmethod
    def partial(batch_df: DataFrame):
        """The batch's (event_type, day, n) counts, on the driver."""
        return (
            batch_df.groupBy(
                "event_type", F.date_trunc("day", "ts").alias("day")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .toPandas()
        )

    def apply(self, pdf, batch_id: int) -> None:
        if self._replayed(batch_id):
            return
        s = self._shift
        for et, g in pdf.groupby("event_type"):
            g = g.sort_values("day")
            for day, n in zip(g["day"], g["n"]):
                x = int(n) * 1000
                if et in self.state:
                    last_day, l, b = self.state[et]
                    if day <= last_day:
                        raise ValueError(
                            f"out-of-order day {day} after {last_day} for {et}"
                        )
                    l_new = (x + 3 * (l + b) + 4 * s) // 4 - s
                    b = ((l_new - l) + b + 2 * s) // 2 - s
                    l = l_new
                    self.state[et] = (day, l, b)
                    self.rows.append((et, day.to_pydatetime(), int(n), l, b))
                elif et in self.pending:
                    day0, x0, n0 = self.pending.pop(et)
                    if day <= day0:
                        raise ValueError("out-of-order first pair")
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
        self.applied.add(batch_id)

    def snapshot(self) -> DataFrame:
        """The fitted (event_type, day, n, level_q, trend_q) table."""
        if self.pending:
            raise RuntimeError("a series never saw its second day")
        return self.spark.createDataFrame(
            self.rows,
            "event_type string, day timestamp, n long, level_q long, "
            "trend_q long",
        )


def stream_holt_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered streaming-Holt key: one ordered streaming run of the
    Holt smoother over the journal replay. The oracle is the batch
    recursive-CTE smoother (``timeseries_holt``'s) — hash equality
    proves the ordered incremental replay converges to the
    from-scratch answer, including the two-day init buffering and the
    ledger-gated replay skip."""
    return ledgered_run(
        spark,
        "stream_holt",
        sf_dir,
        lambda _run_cut: (
            StreamingHoltStore(spark),
            _holt_split_dir(spark, sf_dir),
        ),
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
