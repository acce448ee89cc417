"""Graph half of ``batch_analytics``: the asks over a multi-batch journal.

The journal holds a bulk batch of the sf0.01-sized property graph
plus delta batches with overwrites, edge deletes, vertex deletes (with
their incident-edge tombstones, as ``remove_vertex`` writes them) and
new edges. Each round runs ``connected_components()`` and
``pagerank(10)``, each timed cold from the call to the last row;
every ask replays the journal itself. ``bfs`` is left out to keep a
run short (see perfbench/README.md).

Expected answers come from an independent path computed in setup:
DuckDB replays the journal parquet and plain Python runs union-find
and integer PageRank over the result.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.oltp import SF, bulk_load

DELTA_BATCHES = 4
PR_ITERS = 10
ASKS = ("connected_components", "pagerank")

_V_SCHEMA = pa.schema([("id", pa.string()), ("kind", pa.string()), ("name", pa.string()),
                       ("op", pa.string()), ("batch", pa.int64())])
_E_SCHEMA = pa.schema([("src", pa.string()), ("dst", pa.string()), ("rel", pa.string()),
                       ("weight", pa.float64()), ("op", pa.string()), ("batch", pa.int64())])


def _replay_sql(vdir: str, edir: str) -> tuple[str, str]:
    live_v = f"""
        SELECT id, kind, name FROM read_parquet('{vdir}/*.parquet')
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY batch DESC) = 1
            AND op <> 'delete'"""
    live_e = f"""
        WITH e AS (
            SELECT src, dst, rel, weight FROM read_parquet('{edir}/*.parquet')
            QUALIFY row_number() OVER (PARTITION BY src, dst, rel ORDER BY batch DESC) = 1
                AND op <> 'delete'),
        v AS ({live_v})
        SELECT src, dst, rel, weight FROM e
        WHERE src IN (SELECT id FROM v) AND dst IN (SELECT id FROM v)"""
    return live_v, live_e


def write_deltas(db, seed: int) -> int:
    """Append ``DELTA_BATCHES`` batches to the journal; returns the
    number of events written."""
    rng = np.random.default_rng([seed, 5])
    con = duckdb.connect()
    try:
        edges = con.execute(
            f"SELECT src, dst, rel FROM read_parquet('{db._edir}/*.parquet') ORDER BY 1, 2, 3"
        ).fetchall()
        verts = con.execute(
            f"SELECT id FROM read_parquet('{db._vdir}/*.parquet') ORDER BY 1"
        ).fetchall()
    finally:
        con.close()
    verts = [v[0] for v in verts]
    targets = [v for v in verts if not v.startswith("c:")]
    customers = [v for v in verts if v.startswith("c:")]
    n_events = 0
    for b in range(2, 2 + DELTA_BATCHES):
        n = len(edges)
        upd = rng.choice(n, n // 20, replace=False)
        dele = np.setdiff1d(rng.choice(n, n // 50, replace=False), upd)
        gone = set(rng.choice(len(verts), len(verts) // 200, replace=False).tolist())
        gone_ids = {verts[i] for i in gone}
        # one event per key and batch: a key repeated inside a batch
        # would replay by an arbitrary tie-break
        rows: dict[tuple, tuple] = {}
        for k in edges:
            if k[0] in gone_ids or k[1] in gone_ids:
                rows[k] = (None, "delete")
        for i in dele:
            rows.setdefault(edges[i], (None, "delete"))
        for i in upd:
            rows.setdefault(edges[i], (float(rng.integers(1, 10**7)) / 100, "upsert"))
        n_new = 0
        while n_new < n // 100:
            t = targets[rng.integers(len(targets))]
            k = (customers[rng.integers(len(customers))], t,
                 "bought" if t.startswith("p:") else "sourced")
            if k not in rows:
                rows[k] = (float(rng.integers(1, 10**7)) / 100, "upsert")
                n_new += 1
        e_rows = [(*k, *v) for k, v in rows.items()]
        v_rows = [(v, None, None, "delete") for v in sorted(gone_ids)]
        _write(db._edir, b, _E_SCHEMA, e_rows)
        _write(db._vdir, b, _V_SCHEMA, v_rows)
        n_events += len(e_rows) + len(v_rows)
    return n_events


def _write(dest: str, batch: int, schema: pa.Schema, rows: list[tuple]) -> None:
    cols = list(zip(*[(*r, batch) for r in rows]))
    table = pa.table([pa.array(c, t.type) for c, t in zip(cols, schema)], schema=schema)
    pq.write_table(table, os.path.join(dest, f"part-delta-{batch:05d}.parquet"))


# ------------------------------------------------------- independent answers


def replay(db) -> tuple[list, list]:
    """Live (vertices, edges) of the journal, replayed by DuckDB."""
    live_v, live_e = _replay_sql(db._vdir, db._edir)
    con = duckdb.connect()
    try:
        return sorted(con.execute(live_v).fetchall()), sorted(con.execute(live_e).fetchall())
    finally:
        con.close()


def expected(verts: list, edges: list) -> dict:
    from graph_database_akkatyped_spark.operators.algos import _BASE, _UNIT

    ids = [v[0] for v in verts]
    index = {v: i for i, v in enumerate(ids)}
    adj = [set() for _ in ids]
    for s, d, _r, _w in edges:
        adj[index[s]].add(index[d])
        adj[index[d]].add(index[s])
    # connected components, labelled by their smallest id
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, nbrs in enumerate(adj):
        for b in nbrs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    cc = {ids[i]: ids[find(i)] for i in range(len(ids))}
    # PageRank in integer units, exactly as algos.pagerank_frame defines it
    src = np.array([a for a, nbrs in enumerate(adj) for _ in nbrs], dtype=np.int64)
    dst = np.array([b for nbrs in adj for b in nbrs], dtype=np.int64)
    deg = np.array([len(n) for n in adj], dtype=np.int64)
    state = np.full(len(ids), _UNIT, dtype=np.int64)
    for _ in range(PR_ITERS):
        acc = np.zeros(len(ids), dtype=np.int64)
        np.add.at(acc, dst, state[src] // deg[src])
        state = _BASE + (85 * acc) // 100
    pr = dict(zip(ids, state.tolist()))
    return {
        "vertices": {tuple(v) for v in verts},
        "edges": {tuple(e) for e in edges},
        "connected_components": cc,
        "pagerank": pr,
    }


def rank_hash(pr: dict) -> str:
    return hashlib.sha256(repr(sorted(pr.items())).encode()).hexdigest()[:16]


# ---------------------------------------------------------------- workload


class GraphAsks:
    """The graph half of a batch round: one journal, two cold asks."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs: dict = {}

    def setup(self, rep: int, rec) -> None:
        base = os.path.join(self.work, f"setup{rep}")
        self.db, rows = bulk_load(self.spark, base, self.seed, rec)
        with rec.span("setup.deltas"):
            n_delta = write_deltas(self.db, self.seed)
        if rep > 0:
            shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"), ignore_errors=True)
        self.inputs = {"sf": SF, "delta_batches": DELTA_BATCHES, "delta_events": n_delta,
                       **{f"{k}_rows": v for k, v in rows.items()}}

    def prepare(self) -> None:
        verts, edges = replay(self.db)
        self.want = expected(verts, edges)
        self.inputs.update(
            live_vertices=len(verts),
            live_edges=len(edges),
            components=len(set(self.want["connected_components"].values())),
            rank_e12_hash=rank_hash(self.want["pagerank"]),
        )

    def round(self, rec, out: dict) -> None:
        """Run each ask to its last row (``toArrow``) and check it."""
        from graph_database_akkatyped_spark.caching import persistent_rdd_ids

        db = self.db
        runs = {
            "connected_components": (db.connected_components, "component"),
            "pagerank": (lambda: db.pagerank(PR_ITERS), "rank_e12"),
        }
        for ask, (call, col) in runs.items():
            with rec.span(ask):
                t = call().toArrow()
            got = dict(zip(t.column("id").to_pylist(), t.column(col).to_pylist()))
            if got != self.want[ask]:
                out["failed_ops"].append(ask)
            out["persisted"].setdefault(ask, []).append(len(persistent_rdd_ids(self.spark)))
