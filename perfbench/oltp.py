"""``oltp_journal``: the reference's command/ask path on ``api.GraphDB``.

One closed-loop client issues a seeded op stream against a GraphDB
whose journal is bulk-loaded from the sf0.01-sized property graph
(``graph_build.build_vertices`` / ``build_edges``). Each cycle holds
one of each command and twelve asks (3 asks per command) in seeded
order on Zipf-skewed vertex ids, then the background work: a view
refresh (``run_incremental_edge_counts``) and a ``compact()``.

A client-side model applies every command; each ask's rows and the
final replayed vertex and edge sets are checked against it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import duckdb
import numpy as np

from perfbench import datagen

SF = 0.01
ZIPF_S = 1.1
EDGES_PER_ADD = 20
VERTICES_PER_ADD = 5
READS = ("get_vertex", "neighbors", "history")
WRITES = ("add_edges", "add_vertices", "remove_edge", "remove_vertex")
ASKS_PER_COMMAND = 3
WARM_ROUNDS = 2
STREAM_CYCLES = 24  # warm-up rounds, then the measured ones
COLD = 500  # remove_vertex draws from the coldest targets
SINK = "perfbench_edge_counts"


# ------------------------------------------------------------------ model


class Model:
    """What the journal must replay to: live vertices, and journalled
    edges (an edge is visible when both endpoints are live)."""

    def __init__(self, vertices: dict, edges: dict):
        self.v = dict(vertices)  # id -> (kind, name)
        self.e = dict(edges)  # (src, dst, rel) -> weight

    def copy(self) -> Model:
        return Model(self.v, self.e)

    def visible(self, key) -> bool:
        return key[0] in self.v and key[1] in self.v

    def visible_edges(self) -> dict:
        return {k: w for k, w in self.e.items() if self.visible(k)}

    def apply(self, op: tuple) -> None:
        kind, arg = op
        if kind == "add_edges":
            for s, d, r, w in arg:
                self.e[(s, d, r)] = w
        elif kind == "add_vertices":
            for i, k, n in arg:
                self.v[i] = (k, n)
        elif kind == "remove_edge":
            self.e.pop(arg, None)
        elif kind == "remove_vertex":
            for key in [k for k in self.e if vid_in(arg, k) and self.visible(k)]:
                del self.e[key]
            self.v.pop(arg, None)

    def compact(self) -> None:
        self.e = self.visible_edges()

    def answer(self, op: tuple) -> list:
        kind, vid = op
        if kind == "get_vertex":
            return [(vid, *self.v[vid])] if vid in self.v else []
        if kind == "neighbors":
            return sorted(
                (s, d, r, w, *self.v[d])
                for (s, d, r), w in self.e.items()
                if s == vid and self.visible((s, d, r))
            )
        raise ValueError(kind)


def vid_in(vid: str, key: tuple) -> bool:
    return key[0] == vid or key[1] == vid


# --------------------------------------------------------------- op stream


class Zipf:
    """Draws items with probability proportional to rank ** -ZIPF_S."""

    def __init__(self, items: list):
        self.items = items
        w = np.arange(1, len(items) + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(w / w.sum())

    def pick(self, rng):
        return self.items[min(int(np.searchsorted(self.cdf, rng.random())), len(self.items) - 1)]


def op_stream(model: Model, seed: int, cycles: int = STREAM_CYCLES) -> list[list[tuple]]:
    """``cycles`` lists of ops, drawn against a simulated copy of
    ``model`` so every remove hits a live key. No command repeats a
    key within itself."""
    rng = np.random.default_rng([seed, 4])
    sim = model.copy()
    hot = sorted(sim.v)
    rng.shuffle(hot)
    hot_any = Zipf(hot)
    hot_customers = Zipf([v for v in hot if v.startswith("c:")])
    targets = [v for v in hot if not v.startswith("c:")]
    next_id = 0
    stream = []
    for _ in range(cycles):
        ops: list[tuple] = []
        for kind in WRITES:
            if kind == "add_edges":
                src = hot_customers.pick(rng)
                dsts = rng.choice(len(targets), EDGES_PER_ADD, replace=False)
                op = (kind, tuple(
                    (src, targets[j], "bought" if targets[j].startswith("p:") else "sourced",
                     float(rng.integers(1, 10**6)) / 100)
                    for j in dsts
                ))
            elif kind == "add_vertices":
                rows = []
                for _ in range(VERTICES_PER_ADD):
                    next_id += 1
                    vid = f"c:new{seed}_{next_id}"
                    rows.append((vid, "customer", f"Customer#new{next_id}"))
                op = (kind, tuple(rows))
            elif kind == "remove_edge":
                src = hot_customers.pick(rng)
                out = sorted(k for k in sim.e if k[0] == src and sim.visible(k))
                if not out:
                    out = sorted(k for k in sim.e if sim.visible(k))
                op = (kind, out[rng.integers(len(out))])
            else:  # remove_vertex: a cold part or supplier, so it has edges
                cold = [v for v in targets[-COLD:] if v in sim.v]
                op = (kind, cold[rng.integers(len(cold))])
            sim.apply(op)
            ops.append(op)
        for kind in READS * (ASKS_PER_COMMAND * len(WRITES) // len(READS)):
            pool = hot_customers if kind == "neighbors" else hot_any
            ops.append((kind, pool.pick(rng)))
        order = rng.permutation(len(ops))
        stream.append([ops[i] for i in order])
        sim.compact()
    return stream


def stream_hash(stream: list[list[tuple]]) -> str:
    return hashlib.sha256(repr(stream).encode()).hexdigest()[:16]


def check_generator(model: Model, seed: int) -> list[str]:
    """Same seed -> same stream; another seed -> another stream; no
    key repeats inside one command."""
    problems = []
    a = op_stream(model, seed, 2)
    if stream_hash(a) != stream_hash(op_stream(model, seed, 2)):
        problems.append("same seed gave two op streams")
    if stream_hash(a) == stream_hash(op_stream(model, seed + 1, 2)):
        problems.append("two seeds gave one op stream")
    for cycle in a:
        for kind, arg in cycle:
            if kind in ("add_edges", "add_vertices"):
                keys = [row[:3] if kind == "add_edges" else row[0] for row in arg]
                if len(set(keys)) != len(keys):
                    problems.append(f"{kind} repeats a key")
    return problems


# ---------------------------------------------------------------- workload


def journal_stats(db_path: str) -> tuple[int, int]:
    """(parquet files, bytes) under the GraphDB's journal."""
    files = size = 0
    for root, _dirs, names in os.walk(os.path.join(db_path, "journal")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def bulk_load(spark, base: str, seed: int, rec):
    """Write the sf0.01 tables under ``base`` and load the property
    graph into a new GraphDB journal as one bulk batch; returns the
    GraphDB and the table row counts."""
    from pyspark.sql import functions as F

    from graph_database_akkatyped_spark.api import GraphDB
    from graph_database_akkatyped_spark.operators.graph_build import (
        build_edges,
        build_vertices,
    )

    shutil.rmtree(base, ignore_errors=True)
    tables = os.path.join(base, "tables")
    rows = datagen.write_graph_tables(tables, SF, seed)
    with rec.span("setup.seed"):
        db = GraphDB(spark, os.path.join(base, "db"))
        tag = [F.lit("upsert").alias("op"), F.lit(1).cast("long").alias("batch")]
        build_vertices(spark, tables).select("*", *tag).write.mode("append").parquet(db._vdir)
        build_edges(spark, tables).select("*", *tag).write.mode("append").parquet(db._edir)
    return db, rows


class Workload:
    name = "oltp_journal"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs: dict = {}

    def setup(self, rep: int, rec) -> None:
        """Generate the tables and bulk-load a fresh GraphDB journal."""
        base = os.path.join(self.work, f"setup{rep}")
        self.db, rows = bulk_load(self.spark, base, self.seed, rec)
        if rep > 0:
            shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"), ignore_errors=True)
        self.inputs = {"sf": SF, **{f"{k}_rows": v for k, v in rows.items()}}

    def prepare(self) -> list[str]:
        """Build the model from the journal (DuckDB reads the parquet
        the program wrote) and the op stream; returns generator
        self-check problems."""
        con = duckdb.connect()
        try:
            v = con.execute(
                f"SELECT id, kind, name FROM read_parquet('{self.db._vdir}/*.parquet')"
            ).fetchall()
            e = con.execute(
                "SELECT src, dst, rel, weight FROM "
                f"read_parquet('{self.db._edir}/*.parquet')"
            ).fetchall()
        finally:
            con.close()
        self.model = Model({i: (k, n) for i, k, n in v}, {(s, d, r): w for s, d, r, w in e})
        self.inputs.update(vertices=len(v), edges=len(e))
        self.snapshot, self.events = set(self.model.v), {}
        self.stream = op_stream(self.model, self.seed)
        self.inputs["op_stream"] = stream_hash(self.stream)
        return check_generator(self.model, self.seed)

    def _ask(self, op: tuple, rec):
        kind, vid = op
        with rec.span(kind) as sp:
            t0 = time.perf_counter()
            df = getattr(self.db, kind)(vid)
            t1 = time.perf_counter()
            rows = df.collect()
            sp.counts["build_ms"] = (t1 - t0) * 1e3
            sp.counts["exec_ms"] = (time.perf_counter() - t1) * 1e3
            sp.counts["rows"] = len(rows)
        rec.phases(sp, df)
        if kind == "history":
            return len(rows) == int(vid in self.snapshot) + self.events.get(vid, 0)
        got = sorted(tuple(r) for r in rows)
        return got == self.model.answer(op)

    def warm(self, rec) -> dict:
        """Run the stream's first WARM_ROUNDS rounds untimed on the real
        journal, so the measured rounds do not pay one-time planning,
        code generation and JIT compilation of each ask, refresh and
        compaction; their failures still count."""
        out = self._new_out()
        for cycle in self.stream[:WARM_ROUNDS]:
            self._round(cycle, rec, out)
        return out

    def measure(self, seconds: float, rec) -> dict:
        out = self._new_out()
        t_end = time.perf_counter() + seconds
        for cycle in self.stream[WARM_ROUNDS:]:
            if out["cycles"] and time.perf_counter() >= t_end:
                break
            self._round(cycle, rec, out)
        return out

    def _new_out(self) -> dict:
        return {"failed_ops": [], "cycles": [], "compact_bytes": [], "files_written": [],
                "round_ops": []}

    def _round(self, cycle: list[tuple], rec, out: dict) -> None:
        """One compaction cycle: the round's ops, a view refresh and a
        compact(). Appends the round's wall time and the spans of its
        foreground ops to ``out``."""
        db = self.db
        c0 = time.perf_counter()
        first = len(rec.spans)
        files0 = journal_stats(db.path)[0]
        for op in cycle:
            kind = op[0]
            if kind in READS:
                if not self._ask(op, rec):
                    out["failed_ops"].append(op[0])
                continue
            with rec.span(kind):
                if kind == "add_edges":
                    db.add_edges(op[1])
                elif kind == "add_vertices":
                    db.add_vertices(op[1])
                elif kind == "remove_edge":
                    db.remove_edge(*op[1])
                else:
                    db.remove_vertex(op[1])
            self.model.apply(op)
            for vid in _vertex_events(op):
                self.events[vid] = self.events.get(vid, 0) + 1
        out["round_ops"].append(rec.spans[first:])
        with rec.span("refresh") as sp:
            sp.counts["rows"] = len(
                db.run_incremental_edge_counts(os.path.join(self.work, "view_ckpt"), SINK).collect()
            )
        files, before = journal_stats(db.path)
        out["files_written"].append(files - files0)
        with rec.span("compact"):
            db.compact()
        size = journal_stats(db.path)[1]
        out["compact_bytes"].append(size)
        out["journal"] = (files, before, before / size)
        self._compacted()
        out["cycles"].append(time.perf_counter() - c0)

    def _compacted(self) -> None:
        """Mirror compact(): the snapshot holds one event per live
        vertex and only the visible edges."""
        self.model.compact()
        self.snapshot = set(self.model.v)
        self.events = {}

    def finish(self) -> tuple[int, int]:
        """(checks, failed): the op-stream self-check and the replayed
        state against the model."""
        v = {(r.id, r.kind, r.name) for r in self.db.vertices().collect()}
        e = {tuple(r) for r in self.db.edges().collect()}
        ok_v = v == {(i, *kn) for i, kn in self.model.v.items()}
        ok_e = e == {(*k, w) for k, w in self.model.e.items()}
        return 3, int(not ok_v) + int(not ok_e)


def _vertex_events(op: tuple) -> list[str]:
    kind, arg = op
    if kind == "add_vertices":
        return [row[0] for row in arg]
    if kind == "remove_vertex":
        return [arg]
    return []
