"""User-facing GraphDB API — the reference's command surface on Spark.

Reference lifecycle [R]: clients send AddNode/AddEdge commands; each
vertex actor persists events to a journal (event sourcing) and answers
GetNode / Traverse asks from replayed state. The Spark-native analog is
the lakehouse event-log pattern:

- **mutations append** one parquet file per command to a journal
  directory (append-only, partition-friendly). A command holds a few
  rows, so the driver writes the file itself with pyarrow — no Spark
  job — under a dot-prefixed temp name, then renames it into place:
  readers see the whole file or nothing;
- **state is a replay**: latest event per key wins (window by batch
  id; ids are taken under the write lock and rise strictly within a
  writer, and duplicate keys inside one command collapse to their last
  row before the write), tombstones drop deleted entities;
- **compaction** folds the journal into a snapshot so replay cost stays
  O(live data), the Spark analog of Akka Persistence snapshots. Its
  files are named ``snapshot-…`` and the journal stream reads only
  ``part-…`` files, so, as in Akka, a snapshot is never replayed into
  the event stream.

Point asks (:meth:`GraphDB.get_vertex`, :meth:`GraphDB.neighbors`,
:meth:`GraphDB.history`) are driver reads: pyarrow reads the few journal
rows of one key, replays them, and the ask returns a DataFrame over that
local Arrow table (a LocalRelation plan: collecting it runs no Spark
job and never reads the journal again), the analog of answering GetNode
from one actor's state. Bulk reads and analytics are plain DataFrame
plans over the replayed state, so everything composes with the
operators/ modules (Pregel, BFS, ...).

Example::

    db = GraphDB(spark, "/tmp/mydb")
    db.add_vertices([("c:1", "customer", "Customer#1")])
    db.add_edges([("c:1", "p:9", "bought", 42.0)])
    db.get_vertex("c:1").show()
    db.pagerank().show()
"""

from __future__ import annotations

import functools
import os
import shutil
import time
import uuid
from collections.abc import Iterable
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from graph_database_akkatyped_spark.operators.algos import (
    bfs_frame,
    cc_frame,
    pagerank_frame,
)
from graph_database_akkatyped_spark.operators.graph_build import (
    _degrees,
    _mirror,
    _sym,
    _top_per_key,
)

_V_SCHEMA = "id string, kind string, name string, op string, batch long"
_E_SCHEMA = "src string, dst string, rel string, weight double, op string, batch long"
_V_KEY = ["id"]
_E_KEY = ["src", "dst", "rel"]


@functools.cache
def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow twin of a journal's DDL schema (one definition each)."""
    return to_arrow_schema(StructType.fromDDL(ddl))


def _journal_files(dest: str) -> list[str]:
    """The journal's committed parquet files; Spark skips "." / "_"
    names too (in-flight temp files, markers)."""
    return [
        os.path.join(dest, f)
        for f in os.listdir(dest)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _scan(dest: str, ddl: str, predicate: pc.Expression) -> pa.Table:
    """The journal rows matching ``predicate``, read on the driver
    (committed files only). pyarrow reads every file's footer, then
    only the row groups whose statistics can hold a match, so a point
    ask reads a few rows."""
    journal = ds.dataset(_journal_files(dest), schema=_arrow_schema(ddl), format="parquet")
    return journal.to_table(filter=predicate)


def _replay(rows: pa.Table, keys: list[str]) -> pa.Table:
    """:meth:`GraphDB._latest` over a few driver-read rows: the latest
    batch per key wins, tombstones drop, and the event columns go."""
    rows = rows.sort_by("batch")
    last = {k: i for i, k in enumerate(zip(*(rows[c].to_pylist() for c in keys)))}
    latest = rows.take(pa.array(sorted(last.values()), pa.int64()))
    return latest.filter(pc.field("op") != "delete").drop_columns(["op", "batch"])


def _max_batch(path: str) -> int:
    """The largest ``batch`` in one journal file, from its footer's
    row-group statistics (empty row groups carry none)."""
    meta = pq.read_metadata(path)
    col = meta.schema.names.index("batch")
    groups = (meta.row_group(i) for i in range(meta.num_row_groups))
    stats = (g.column(col).statistics for g in groups)
    return max((st.max for st in stats if st is not None and st.has_min_max), default=0)


def _last_commit(checkpoint: str) -> int:
    """Id of the last batch committed to a streaming ``checkpoint``
    (-1 before its first batch)."""
    path = os.path.join(checkpoint, "commits")
    names = os.listdir(path) if os.path.isdir(path) else []
    return max((int(n) for n in names if n.isdigit()), default=-1)


def _name_snapshot(tmp_dir: str) -> None:
    """Rename the Spark-written ``part-*`` files of a compaction snapshot,
    and their ``.part-*.crc`` sidecars, to ``snapshot-*``: the journal
    stream skips them, while every batch read still lists them."""
    for name in os.listdir(tmp_dir):
        if name.lstrip(".").startswith("part-"):
            os.rename(
                os.path.join(tmp_dir, name),
                os.path.join(tmp_dir, name.replace("part-", "snapshot-", 1)),
            )


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted a mutation while another held the
    journal write lock."""


class GraphDB:
    """Concurrency model — SINGLE WRITER, many readers.

    In the reference pattern, each vertex actor's mailbox serializes its
    mutations; the journal analog here serializes at the whole-DB level:
    ``batch`` ids order events, and replay takes the latest batch per
    key, which is only correct if batches never interleave. Every
    mutation (add/remove/compact) therefore takes an exclusive lock file
    (O_CREAT|O_EXCL — atomic on POSIX and on object-store FUSE mounts
    that honor exclusive create) for the duration of the append; a
    concurrent mutation raises :class:`ConcurrentWriterError` instead of
    silently corrupting batch order. The batch id is taken under that
    lock, from the wall clock but strictly above the previous id this
    instance issued, so it rises even if the clock stalls or steps
    back. Opening a GraphDB seeds that previous id with the journal's
    largest batch (read from parquet footer statistics — no Spark job),
    so a reopen after the clock stepped back still writes after every
    event already in the journal. Two writer instances open at once,
    with clocks apart, are not guarded against (single writer). Inside
    one command, duplicate keys (``id``; ``(src, dst, rel)``) collapse
    to their last row, so replay never has to break a tie.

    Each command writes exactly one parquet file per journal it touches
    (an empty command writes none): the driver writes it with pyarrow
    to a dot-prefixed temp name in the journal directory and renames it
    to ``part-….parquet`` while still holding the lock. Spark's file
    listing, the driver-side ask reads and the journal stream skip
    dot-prefixed names, so readers never lock: a read sees a consistent
    prefix of the journal, and a temp file left by a crashed writer is
    never read. The point asks return a snapshot taken at call time (a
    DataFrame over a local Arrow table), so no later command or
    ``compact()`` can change or break one. ``compact()`` requires that
    no bulk read or analytic (:meth:`vertices`, :meth:`edges`,
    :meth:`pagerank`, ...) holds an unexecuted plan over the journal
    while it swaps directories — schedule it off-path, as its docstring
    says. If a writer dies holding the lock, remove the stale
    ``journal/.write_lock`` manually (:meth:`force_unlock`)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._vdir = os.path.join(path, "journal", "vertices")
        self._edir = os.path.join(path, "journal", "edges")
        self._lock_path = os.path.join(path, "journal", ".write_lock")
        for live in (self._vdir, self._edir):
            # a compact() that died mid-swap left its live directory aside
            if not os.path.isdir(live) and os.path.isdir(live + ".old"):
                os.rename(live + ".old", live)
            os.makedirs(live, exist_ok=True)
        # last batch id issued (see _next_batch), seeded from the journal
        files = _journal_files(self._vdir) + _journal_files(self._edir)
        self._batch = max(map(_max_batch, files), default=0)

    # ------------------------------------------------------------ commands

    @contextmanager
    def _write_lock(self):
        try:
            fd = os.open(self._lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentWriterError(
                f"another writer holds {self._lock_path}; GraphDB is "
                "single-writer (see class docstring). If the previous "
                "writer crashed, call force_unlock()."
            ) from None
        try:
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            yield
        finally:
            os.unlink(self._lock_path)

    def force_unlock(self) -> None:
        """Remove a stale write lock left by a crashed writer. Only call
        when you KNOW no other writer is alive."""
        if os.path.exists(self._lock_path):
            os.unlink(self._lock_path)

    def _next_batch(self) -> int:
        """A batch id strictly above the last one this writer issued.
        Call with the write lock held."""
        self._batch = max(time.time_ns(), self._batch + 1)
        return self._batch

    def _append_unlocked(
        self, rows: list[tuple], batch: int, schema: str, keys: list[str], dest: str
    ) -> None:
        """Write one command's rows (all columns but ``batch``) as one
        parquet file; the last row per key wins."""
        last = {r[: len(keys)]: r for r in rows}
        if not last:
            return
        arrow = _arrow_schema(schema)
        cols = zip(*[(*r, batch) for r in last.values()])
        table = pa.table(
            [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
        name = f"part-{batch:020d}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(dest, "." + name)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(dest, name))

    def _append(
        self, rows: list[tuple], schema: str, keys: list[str], dest: str
    ) -> None:
        with self._write_lock():
            self._append_unlocked(rows, self._next_batch(), schema, keys, dest)

    def add_vertices(self, rows: Iterable[tuple]) -> None:
        """rows: (id, kind, name). Reference: AddNode command."""
        self._append(
            [(i, k, n, "upsert") for i, k, n in rows], _V_SCHEMA, _V_KEY, self._vdir
        )

    def remove_vertex(self, vid: str) -> None:
        """Tombstone a vertex AND its incident edges.

        Adjacency dies with the vertex (it is vertex-actor state in the
        reference), and that must hold in the *journal*, not just the
        read path: if only the read path filtered by live endpoints, a
        later re-add of the same id would silently resurrect old edges —
        unless compact() had run in between, which would drop them
        permanently. Appending explicit edge deletes makes replay
        compaction-invariant. Incident edges come from the raw edge
        replay, not :meth:`edges`: an edge whose other endpoint is not
        (yet) live is still incident and would otherwise come back once
        both endpoints exist. The lookup is a driver-side read of the
        edge events that name the vertex (see :func:`_scan`), so the
        command starts no Spark job."""
        with self._write_lock():  # one lock spans both appends: the
            # edge-tombstone + vertex-tombstone pair must not interleave
            # with another writer's re-add of the same id
            hit = (pc.field("src") == vid) | (pc.field("dst") == vid)
            incident = _replay(_scan(self._edir, _E_SCHEMA, hit), _E_KEY)
            batch = self._next_batch()
            self._append_unlocked(
                [
                    (r["src"], r["dst"], r["rel"], None, "delete")
                    for r in incident.to_pylist()
                ],
                batch,
                _E_SCHEMA,
                _E_KEY,
                self._edir,
            )
            self._append_unlocked(
                [(vid, None, None, "delete")], batch, _V_SCHEMA, _V_KEY, self._vdir
            )

    def add_edges(self, rows: Iterable[tuple]) -> None:
        """rows: (src, dst, rel, weight). Reference: AddEdge command."""
        self._append(
            [(s, d, r, float(w), "upsert") for s, d, r, w in rows],
            _E_SCHEMA,
            _E_KEY,
            self._edir,
        )

    def remove_edge(self, src: str, dst: str, rel: str) -> None:
        self._append(
            [(src, dst, rel, None, "delete")], _E_SCHEMA, _E_KEY, self._edir
        )

    # -------------------------------------------------------------- replay

    @staticmethod
    def _latest(df: DataFrame, keys: list[str]) -> DataFrame:
        return (
            _top_per_key(df, keys, F.col("batch").desc())
            .where(F.col("op") != "delete")
            .drop("op", "batch")
        )

    def _read_journal(self, dest: str, schema: str) -> DataFrame:
        if _journal_files(dest):
            return self.spark.read.schema(schema).parquet(dest)
        return self.spark.createDataFrame([], schema)

    @staticmethod
    def _as_of(df: DataFrame, as_of_batch: int | None) -> DataFrame:
        return df if as_of_batch is None else df.where(
            F.col("batch") <= as_of_batch
        )

    def vertices(self, as_of_batch: int | None = None) -> DataFrame:
        """Live vertices; with ``as_of_batch`` set, the state as it was
        after that journal batch — time travel is just replay with the
        suffix filtered out, the event-sourcing feature the journal
        layout buys for free. NOTE: ``compact()`` rewrites history into
        one snapshot batch, so as-of points older than the last
        compaction are gone (same contract as Akka snapshot deletion)."""
        return self._latest(
            self._as_of(self._read_journal(self._vdir, _V_SCHEMA), as_of_batch),
            _V_KEY,
        )

    def edges(self, as_of_batch: int | None = None) -> DataFrame:
        """Live edges (optionally as of a journal batch). Both endpoints
        must be live vertices — in the reference, adjacency is
        vertex-actor state and dies with the vertex, so a tombstoned
        vertex implicitly drops its edges."""
        return self._live_edges(self.vertices(as_of_batch), as_of_batch)

    def _edge_replay(self, as_of_batch: int | None) -> DataFrame:
        """Latest event per edge key, endpoints not checked."""
        return self._latest(
            self._as_of(self._read_journal(self._edir, _E_SCHEMA), as_of_batch),
            _E_KEY,
        )

    def _live_edges(self, live: DataFrame, as_of_batch: int | None) -> DataFrame:
        """Edge replay restricted to endpoints in ``live`` (the vertex
        replay at the same as-of point, built once by the caller)."""
        live = live.select("id")
        return (
            self._edge_replay(as_of_batch)
            .join(live.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(live.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst", "rel", "weight")
        )

    def batches(self) -> DataFrame:
        """Distinct journal batch ids with event counts — the valid
        as-of points for :meth:`vertices` / :meth:`edges` time travel."""
        v = self._read_journal(self._vdir, _V_SCHEMA).select("batch")
        e = self._read_journal(self._edir, _E_SCHEMA).select("batch")
        return (
            v.unionByName(e)
            .groupBy("batch")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .orderBy("batch")
        )

    def history(self, vid: str) -> DataFrame:
        """Full event history of one vertex (the event-sourced audit
        ask: every upsert/tombstone in batch order, with ``op`` and
        ``batch``). A driver-side point read like :meth:`get_vertex`;
        at scale, bucket the journal by id so footers prune files."""
        events = _scan(self._vdir, _V_SCHEMA, pc.field("id") == vid)
        return self.spark.createDataFrame(events.sort_by("batch"))

    def compact(self) -> None:
        """Fold the journal into a single latest-state batch (snapshot).

        At scale this is the maintenance job that keeps replay cost
        O(live state); run it partition-by-partition off the write path.
        Holds the write lock for its whole duration (snapshot + swap):
        a mutation landing between the snapshot read and the directory
        swap would be silently dropped.

        The swap is crash-safe: each live directory ``X`` moves aside to
        ``X.old`` before its snapshot is renamed in, and the ``.old``
        directories are deleted last. A crash at any point leaves each
        journal either whole or aside; opening the GraphDB moves an
        ``X.old`` back when ``X`` is missing, and any mix of compacted
        and uncompacted journals replays to the same state.

        Snapshot files are not streamed (see :meth:`edge_journal_stream`),
        so refresh a journal view before compacting: commands folded
        into a snapshot before the view read them are not counted.
        """
        with self._write_lock():
            batch = self._next_batch()
            v = self.vertices().withColumn("op", F.lit("upsert")).withColumn(
                "batch", F.lit(batch)
            )
            e = self.edges().withColumn("op", F.lit("upsert")).withColumn(
                "batch", F.lit(batch)
            )
            vtmp, etmp = self._vdir + ".tmp", self._edir + ".tmp"
            v.select("id", "kind", "name", "op", "batch").write.mode(
                "overwrite"
            ).parquet(vtmp)
            e.select("src", "dst", "rel", "weight", "op", "batch").write.mode(
                "overwrite"
            ).parquet(etmp)
            swaps = ((vtmp, self._vdir), (etmp, self._edir))
            for tmp, live in swaps:
                _name_snapshot(tmp)
                # left by a crash after its snapshot was swapped in
                shutil.rmtree(live + ".old", ignore_errors=True)
            for tmp, live in swaps:
                os.rename(live, live + ".old")
                os.rename(tmp, live)
            for _tmp, live in swaps:
                shutil.rmtree(live + ".old")

    # ---------------------------------------------------------------- asks

    def get_vertex(self, vid: str) -> DataFrame:
        """Reference: ask(GetNode) — point read, replayed on the driver
        from the events of one id (same rows as ``vertices()`` filtered
        on ``id``)."""
        events = _scan(self._vdir, _V_SCHEMA, pc.field("id") == vid)
        return self.spark.createDataFrame(_replay(events, _V_KEY))

    def neighbors(self, vid: str) -> DataFrame:
        """Out-neighbors with edge attributes (adjacency read), replayed
        on the driver: the edge events out of ``vid``, then the vertex
        events of ``vid`` and of each target. As in :meth:`edges`, both
        endpoints must be live."""
        out = _replay(_scan(self._edir, _E_SCHEMA, pc.field("src") == vid), _E_KEY)
        ids = [vid, *out["dst"].to_pylist()]
        live = _replay(_scan(self._vdir, _V_SCHEMA, pc.field("id").isin(ids)), _V_KEY)
        out = out.filter(pc.field("src").isin(live["id"].combine_chunks()))
        nb = out.join(live, "dst", right_keys="id", join_type="inner", use_threads=False)
        cols = ["src", "dst", "rel", "weight", "kind", "name"]
        return self.spark.createDataFrame(nb.select(cols))

    def degrees(self) -> DataFrame:
        e = self.edges()
        out_d = _degrees(e, "src", "id", "out_degree")
        in_d = _degrees(e, "dst", "id", "in_degree")
        return (
            self.vertices()
            .select("id")
            .join(out_d, "id", "left")
            .join(in_d, "id", "left")
            .na.fill(0, ["out_degree", "in_degree"])
        )

    # ------------------------------------------------- journal as a stream

    def edge_journal_stream(self) -> DataFrame:
        """The edge journal as a Structured Streaming source: every
        mutation batch appended by add_edges/remove_edge becomes a
        micro-batch — the Spark analog of subscribing to the reference's
        Akka Persistence event journal [R]. Only ``part-*`` files stream
        (command files and bulk appends); ``compact()``'s
        ``snapshot-*`` files hold no new event and are skipped."""
        return (
            self.spark.readStream.schema(_E_SCHEMA)
            .option("pathGlobFilter", "part-*")
            .parquet(self._edir)
        )

    def run_incremental_edge_counts(
        self, checkpoint: str, sink_name: str
    ) -> DataFrame:
        """Incremental per-(rel, op) event counts over the journal.

        With a persistent ``checkpoint``, successive AvailableNow runs
        consume ONLY journal files appended since the last run and fold
        them into the checkpointed state — O(new mutations) per refresh,
        which is what keeps a materialized graph view cheap at 100 TB.
        Compaction snapshots are not read, so the counts stay exact
        across ``compact()``, and a fresh checkpoint counts the command
        files present at its first run and after, not the events a
        snapshot already folded. The checkpoint's state store keeps the
        shuffle-partition count of the session that created it. A
        refresh that finds no new command file runs no batch, so it
        reads the counts back from the checkpoint's state store.
        """
        last = _last_commit(checkpoint)
        q = (
            self.edge_journal_stream()
            .groupBy("rel", "op")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("complete")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if last >= 0 and _last_commit(checkpoint) == last:
            state = self.spark.read.format("statestore").load(checkpoint)
            return state.select(
                "key.rel", "key.op", F.col("value.count").alias("n_events")
            )
        return self.spark.table(sink_name)

    # ----------------------------------------------------------- analytics

    def _sym_edges(self) -> DataFrame:
        e = self.edges().select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return _sym(e, "a", "b").distinct()

    def bfs(self, source: str, max_level: int = 20) -> DataFrame:
        """Reference: Traverse(depth) from a seed vertex."""
        seed = self.spark.createDataFrame([(source,)], "id string")
        return bfs_frame(self._sym_edges(), seed, max_level)

    def connected_components(self) -> DataFrame:
        return cc_frame(self.vertices().select("id"), self._sym_edges())

    def pagerank(self, iters: int = 10) -> DataFrame:
        return pagerank_frame(self.vertices().select("id"), self._sym_edges(), iters)

    def find(self, pattern: str) -> DataFrame:
        """Motif pattern match over the live edge state (the graph-DB
        structural ask: ``db.find("(a)-[:bought]->(p); (b)-[:bought]->(p)")``).
        Compiles to DataFrame joins — see operators.motif."""
        from graph_database_akkatyped_spark.operators.motif import find

        return find(self.edges(), pattern)

    def hits(self, iters: int = 3) -> DataFrame:
        """HITS hubs/authorities over the live directed edge state."""
        from graph_database_akkatyped_spark.operators.centrality import (
            hits_frame,
        )

        return hits_frame(
            self.vertices().select("id"),
            self.edges().select("src", "dst"),
            iters,
        )

    def scc(self) -> DataFrame:
        """Strongly connected components of the live directed graph."""
        from graph_database_akkatyped_spark.operators.graph_extras import (
            scc_frame,
        )

        return scc_frame(
            self.vertices().select("id"), self.edges().select("src", "dst")
        )

    def shortest_path_len(self, src: str, dst: str, half: int = 4) -> DataFrame:
        """Point-to-point distance by bidirectional BFS (1-row frame
        with dist = -1 beyond 2·half or disconnected)."""
        from graph_database_akkatyped_spark.operators.graph_extras import (
            bidirectional_dist_frame,
        )

        seed = lambda v: self.spark.createDataFrame(  # noqa: E731
            [(v,)], "id string"
        )
        return bidirectional_dist_frame(
            self._sym_edges(), seed(src), seed(dst), half
        )

    def reciprocity(self) -> DataFrame:
        """Follow-back rate of the live directed edge state (1 row)."""
        e = self.edges().select("src", "dst")
        tot = e.agg(F.count(F.lit(1)).alias("m_edges"))
        rec = e.join(_mirror(e, "src", "dst"), ["src", "dst"], "left_semi").agg(
            F.count(F.lit(1)).alias("m_reciprocal")
        )
        return tot.crossJoin(F.broadcast(rec)).select(
            "m_edges",
            "m_reciprocal",
            (
                F.col("m_reciprocal").cast("double")
                / F.col("m_edges").cast("double")
            ).alias("reciprocity"),
        )
