"""The fixpoint driver and the DataFrame Pregel kernel built on it
(SURVEY.md §2-C, §4.3).

The reference [R] runs traversals as actor message hops (vertex actor
receives messages, updates state, forwards to neighbors). One Pregel
superstep IS that pattern as a dataflow: join edges with source-vertex
state (message send), ``groupBy(dst).agg`` (mailbox combine), join back
with vertices (vertex program). Cf. Pregelix (PAPERS.md): Pregel on a
dataflow engine = join + groupBy per superstep, with ONE iteration
operator making the physical choices — here :func:`fixpoint`, which
every self-looping kernel of the package runs on.

Scale notes (the part naive Spark iteration gets wrong), owned by
:func:`fixpoint` and, for the edge frame, by :func:`pregel`:
- each generation is cut (``caching.cut``) to truncate lineage;
  otherwise the logical plan doubles per iteration and analysis time
  explodes long before data size matters. The session-wide cut policy
  (``caching.set_reliable_checkpointing``) picks executor-local blocks
  (fast, dies with an executor) or filesystem checkpoints (survive
  executor loss — the mandatory setting for preemptible-node
  clusters). Results are bit-identical either way.
- STORAGE LIFECYCLE: the driver frees the generations of an
  iterative kernel, ``caching.cut_once`` its loop-invariant edge cut.
  The PREVIOUS generation and the round's scratch cuts are unpersisted
  once the new generation is materialized, so EXECUTOR storage stays
  O(1) generations instead of O(iterations) over a long convergence
  run. (That synchronous bound
  covers localCheckpoint blocks; in reliable mode the superseded
  checkpoint FILES are reclaimed asynchronously by the ContextCleaner
  — requires ``spark.cleaner.referenceTracking.cleanCheckpoints``,
  which ``session.get_spark`` sets; see caching.py STORAGE LIFECYCLE.)
- the edge relation every superstep joins is cut ONCE per run
  (``caching.cut_once``; ``bfs_frame`` does the same) and freed when
  the run ends, returned or raised: a lazy edge plan (a journal
  replay, a degree join) would otherwise re-run inside every
  superstep's message join.
- convergence is observed on the generation's own cut: ``delta`` rides
  the result frame as a ``DataFrame.observe`` metric, so the cut's
  action computes it and a round costs one Spark action, not two.
- Messages shuffle on ``dst`` and states on ``id`` — the same key — so
  AQE can reuse/coalesce partitioning between supersteps. Skewed
  high-degree vertices are handled by AQE skew-join (session default).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable, Union

from pyspark.sql import Column, DataFrame, Observation, functions as F

from graph_database_akkatyped_spark.caching import cut, cut_once, release_cut

Generation = Union[DataFrame, tuple]

_ACTIVE = threading.local()  # .rounds: the rounds this thread is inside


class Round:
    """One round as its step sees it: the 1-based round number ``i``
    and :meth:`cut` for the round's scratch frames."""

    def __init__(self, i: int):
        self.i = i
        self.scratch: list[DataFrame] = []

    def cut(self, df: DataFrame) -> DataFrame:
        """Cut a frame the step reads more than once inside this round.
        The driver frees it once the round's generation is materialized
        — or keeps it as part of the generation when the step returns
        it there."""
        df = cut(df)
        self.scratch.append(df)
        return df


def _holds(frames, df: DataFrame) -> bool:
    return any(df is f for f in frames)


def fixpoint(
    step: Callable[[Generation, Round], Generation],
    init: Generation,
    *,
    max_iter: int,
    name: str,
    delta: Column | None = None,
    horizon: bool = False,
) -> DataFrame:
    """Run ``step`` round after round: the one loop behind every
    iterative kernel of the package. ``step(state, rnd)`` builds the
    next generation from the current one (``init`` before round 1) as
    lazy frames; the driver alone cuts, frees and checks.

    A generation is one frame, or a tuple ``(result, *aux)`` when the
    kernel threads extra state (truss's triangle list, SCC's remaining
    edges). Each round the driver
    1. cuts every frame of the new generation through ``caching.cut``
       (a frame the step already cut with ``rnd.cut`` is kept as is);
    2. frees the superseded generation and the round's scratch cuts;
    3. with ``delta``, reads it off the cut of step 1 — the driver
       attaches it to the new ``result`` frame as an observed metric
       before cutting, so the round runs no second action — and stops
       when the value is 0 or NULL. The result frame of a to-fixpoint
       step is therefore always cut by the driver: return it lazy,
       not from ``rnd.cut``.

    Modes:
    - to fixpoint (``delta`` given): running out of ``max_iter``
      raises ``RuntimeError`` naming the kernel — a truncated fixpoint
      looks like an answer and is not one;
    - bounded (``delta`` and ``horizon=True``): ``max_iter`` is the
      query's own horizon (a depth-bounded BFS), so stopping there is
      the answer, not an error;
    - fixed rounds (no ``delta``): exactly ``max_iter`` rounds
      (PageRank, Katz, PPR, LPA, topo, temporal reach, ANF, MMR,
      Louvain sweeps).

    Returns the final ``result`` frame; the final ``aux`` frames are
    freed on return, the whole last generation when the cap raises,
    and ``init`` is never freed (it is the caller's).
    A driver run inside another driver's step belongs to that round:
    its result is freed with the round's scratch, so the step must
    consume it into its generation, not keep it across rounds.

    Six loops stay outside the driver on purpose:
    - ``graph_random_walks``, ``graph_node2vec_walks``,
      ``betweenness_frame``, ``graph_effective_diameter`` and
      ``simsearch_greedy_graph``: every per-round frame feeds the
      union the caller materializes at the end, so no generation is
      ever superseded;
    - ``hits_frame``: unrolls all iterations into ONE plan that is
      materialized once at its memo boundary, where ReusedExchange
      dedupes the invariant shuffles (the round-10 negative result in
      its docstring), so there are no generations to own.
    """
    rounds = _ACTIVE.__dict__.setdefault("rounds", [])
    state, owned = init, ()
    for i in range(1, max_iter + 1):
        rnd = Round(i)
        rounds.append(rnd)
        try:
            new = step(state, rnd)
        finally:
            rounds.pop()
        frames = new if isinstance(new, tuple) else (new,)
        if delta is not None:
            seen = Observation()
            frames = (frames[0].observe(seen, delta.alias("delta")), *frames[1:])
        gen = tuple(f if _holds(rnd.scratch, f) else cut(f) for f in frames)
        release_cut(*owned, *(s for s in rnd.scratch if not _holds(gen, s)))
        owned = gen
        state = gen if isinstance(new, tuple) else gen[0]
        if delta is not None and not seen.get["delta"]:
            break
    else:
        if delta is not None and not horizon:
            release_cut(*owned)
            raise RuntimeError(
                f"{name}: no fixpoint within {max_iter} rounds — raise "
                "its round cap for this graph"
            )
    if not owned:
        return init
    release_cut(*owned[1:])
    if rounds:
        rounds[-1].scratch.append(owned[0])
    return owned[0]


@dataclass
class PregelResult:
    vertices: DataFrame  # (id, state)
    converged: bool


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    msg: Column,
    agg: Column,
    vprog: Column,
    max_iter: int,
    monotone: str | None = "pregel",
) -> PregelResult:
    """Synchronous Pregel supersteps as a :func:`fixpoint` step.

    - ``vertices``: DataFrame(id, state)
    - ``edges``: DataFrame(src, dst, weight) — direct edges as they
      should carry messages (symmetrize first for undirected semantics).
      Pass it lazy: the run cuts it once and frees that cut on return
      (``caching.cut_once``); a frame that already is a cut is read
      as is and stays the caller's.
    - ``msg``: Column over (src, dst, weight, src_state) producing the
      message sent to ``dst``; NULL means "send nothing"
    - ``agg``: aggregate Column over column ``msg`` (the combiner)
    - ``vprog``: Column over (id, state, agg_msg) producing the new
      state; ``agg_msg`` is NULL for vertices that received no message
    - ``monotone``: the kernel name for the MONOTONE mode (the
      default): messages go out ONLY from vertices whose state changed
      last superstep, the run stops once no state changes (null-safe
      comparison), and ``max_iter`` without that fixpoint raises
      naming the kernel. Correct for min/max propagation (SSSP, CC,
      BFS — a vertex whose state is final can never improve a
      neighbor later); per-superstep cost drops from O(E) to O(edges
      out of the frontier), which on deep graphs at 100 TB is the
      difference between converging and not. ``None`` runs exactly
      ``max_iter`` supersteps with every vertex sending — the
      PageRank-style recomputation mode, where every vertex
      contributes every round.
    """

    def superstep(g: DataFrame, rnd: Round, edges: DataFrame) -> DataFrame:
        v = g.select("id", "state")
        senders = (
            g.where(F.col("changed") == 1).select("id", "state")
            if monotone
            else v
        )
        src_states = senders.select(
            F.col("id").alias("src"), F.col("state").alias("src_state")
        )
        msgs = (
            edges.join(src_states, "src")
            .select(F.col("dst").alias("id"), msg.alias("msg"))
            .where(F.col("msg").isNotNull())
            .groupBy("id")
            .agg(agg.alias("agg_msg"))
        )
        return (
            v.join(msgs, "id", "left")
            # vprog and the old-state alias are evaluated in one
            # projection, both against the incoming (id, state, agg_msg)
            .select("id", F.col("state").alias("old_state"), vprog.alias("state"))
            .select(
                "id",
                "state",
                (~F.col("state").eqNullSafe(F.col("old_state")))
                .cast("long")
                .alias("changed"),
            )
        )

    with cut_once(edges) as held:
        final = fixpoint(
            lambda g, rnd: superstep(g, rnd, held),
            vertices.select("id", "state", F.lit(1).cast("long").alias("changed")),
            max_iter=max_iter,
            name=monotone or "pregel",
            delta=F.sum("changed") if monotone else None,
        )
    return PregelResult(
        vertices=final.select("id", "state"), converged=monotone is not None
    )
