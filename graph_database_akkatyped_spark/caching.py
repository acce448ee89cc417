"""Materialization (lineage-cut) policy + per-session frame memoization.

Several registered keys start from the same expensive intermediate (the
strong-edge graph, the triangle enumeration, a dedup feature frame).
Each of those frames is cut eagerly because its consumers self-join it —
but a cut block is never freed until the session ends, so re-invoking
such a key in a long-lived session (bench loops, the parity sweep) used
to stack a NEW block per call. Memoizing per (kind, sf_dir, session)
bounds that accumulation at one block per distinct input, and
:func:`clear_frame_cache` now actually unpersists the blocks (not just
the dict entries), so a long-lived service session can evict between
workloads.

Cut policy — ``cut(df)`` is THE lineage-cut point for the iterative
kernels (``operators.pregel.fixpoint`` generations, their edge frames
via :func:`cut_once`, memoized frames);
the session-wide :func:`set_reliable_checkpointing` picks its mode:

- default: ``localCheckpoint(eager=True)`` — blocks live on executors,
  fast, NOT recoverable on executor loss. Right for local/bench runs;
  on a preemptible-node cluster a lost executor kills the whole
  multi-hour iterative job.
- reliable: ``checkpoint(eager=True)`` backed by
  ``sc.setCheckpointDir`` — every cut is written to the checkpoint
  filesystem (point it at HDFS/S3 on a cluster) and SURVIVES executor
  loss; a lost executor re-reads the checkpoint files instead of
  failing the job. Slower per cut (one write + read through the
  cluster FS) — the classic durability/latency trade; at 100 TB on
  spot instances, reliable is the only sane setting for multi-hour
  Pregel/dedup pipelines.

STORAGE LIFECYCLE — two places free the blocks of iterative kernels,
both through :func:`release_cut`:

- ``operators.pregel.fixpoint`` owns every generation and every
  per-round scratch cut, and frees each once its successor is
  materialized;
- :func:`cut_once` owns a kernel's loop-invariant input (the edge
  frame of ``pregel`` and ``bfs_frame``): it cuts a lazy frame once
  for the run and frees that cut when the run ends — returned or
  raised. A frame that already is a cut is the caller's, so it is
  neither cut again nor freed.

Outside them, only the frame cache (:func:`memoized_checkpoint`,
:func:`clear_frame_cache`) and the streaming stores with their runner
(``streaming.runner.ledgered_run``) free blocks. The two cut modes
free superseded generations differently, and the O(1)-generations
claim is mode-specific:

- localCheckpoint blocks register in ``getPersistentRDDs``; the
  driver's and the frame cache's eviction unpersists them
  synchronously, so executor storage holds O(1) generations per
  kernel — guaranteed.
- reliable checkpoint FILES do NOT register as persisted RDDs and
  cannot be freed by unpersist. They are deleted by Spark's
  ContextCleaner when the JVM-side RDD is garbage-collected —
  but ONLY when ``spark.cleaner.referenceTracking.cleanCheckpoints``
  is true (``session.get_spark`` sets it; it must be set at context
  creation). With the flag, checkpoint-FS usage is O(live frames) up
  to JVM-GC lag (asynchronous, eventually-freed — not a synchronous
  O(1) bound); without it, disk grows O(iterations) and
  :func:`set_reliable_checkpointing` emits a warning.

Results are bit-identical either way (pinned by
tests/test_graph_algos.py::test_reliable_checkpoint_same_result) —
the cut changes WHERE blocks live, never their content.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable, Iterator

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple[str, str], tuple[SparkSession, DataFrame, set[int]]] = {}

_RELIABLE = False  # session-wide cut mode (see set_reliable_checkpointing)


def set_reliable_checkpointing(
    flag: bool, spark: SparkSession | None = None, checkpoint_dir: str | None = None
) -> None:
    """Flip the session-wide cut policy. With ``flag=True`` every
    subsequent :func:`cut` (Pregel supersteps, memoized frames) writes
    a reliable checkpoint; pass ``checkpoint_dir`` (cluster FS path)
    or it defaults to a local temp dir (fine for tests, pointless on a
    real cluster — executors must all reach the directory).

    Superseded checkpoint FILES are reclaimed by the ContextCleaner
    only when ``spark.cleaner.referenceTracking.cleanCheckpoints`` was
    set at context creation (``session.get_spark`` does); on a session
    built without it this warns, because multi-hour iterative runs
    then grow the checkpoint FS O(iterations) — see the module
    docstring's STORAGE LIFECYCLE section."""
    global _RELIABLE
    _RELIABLE = flag
    if flag and spark is not None:
        ensure_checkpoint_dir(spark, checkpoint_dir)
        clean = spark.conf.get(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
        )
        if str(clean).lower() != "true":
            import warnings

            warnings.warn(
                "reliable checkpointing enabled but spark.cleaner."
                "referenceTracking.cleanCheckpoints is not set on this "
                "session: superseded checkpoint files will accumulate "
                "on the checkpoint FS (O(iterations) disk). Build the "
                "session via session.get_spark, which sets it.",
                stacklevel=2,
            )


def ensure_checkpoint_dir(
    spark: SparkSession, path: str | None = None
) -> str:
    """Make sure ``sc.checkpointDir`` is set (required by
    ``DataFrame.checkpoint``); returns the directory in use. An
    explicit ``path`` always wins; otherwise an already-configured dir
    is kept, else a local temp dir is created."""
    sc = spark.sparkContext
    if path is None:
        cur = sc._jsc.sc().getCheckpointDir()
        if cur.isDefined():
            return cur.get()
        path = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
    sc.setCheckpointDir(path)
    return path


def cut(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage — the one
    cut-point every iterative kernel goes through. The mode follows the
    session-wide policy (see module docstring for the executor-loss
    semantics of each mode).

    STATS RESET (load-bearing): ``checkpoint``/``localCheckpoint``
    return a ``LogicalRDD`` that INHERITS the origin plan's size
    estimate, and join estimates MULTIPLY — so in an iterative kernel
    where round r+1's cut is built from joins of round r's cuts, the
    inherited sizeInBytes grows as a power tower (measured: digits
    DOUBLE per self-join round; by round ~20 the driver spends
    minutes per query in BigInteger Toom-Cook multiplications inside
    SizeInBytesOnlyStatsPlanVisitor — the Borůvka kernel "hang" the
    round-8 rehearsal caught). The checkpointed RDD is therefore
    rewrapped in a FRESH LogicalRDD with no origin stats: the same
    materialized blocks (same RDD id — ``cut_block_ids`` attribution
    still holds), but the size estimate resets to
    ``spark.sql.defaultSizeInBytes``. Consequence: a cut frame is
    never AUTO-broadcast by the static planner (the default is
    Long.MaxValue exactly so unknown inputs aren't) — small-side
    broadcasts of cut frames must stay explicit ``F.broadcast``
    (repo style already does), and AQE still converts shuffle joins
    to broadcast at runtime from TRUE materialized sizes."""
    if _RELIABLE:
        ensure_checkpoint_dir(df.sparkSession)
        ck = df.checkpoint(eager=True)
    else:
        ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        fresh = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().analyzed().rdd(), jdf.schema(), False
        )
        return DataFrame(fresh, df.sparkSession)
    except Exception:  # non-LogicalRDD checkpoint shape — keep as-is
        return ck


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of currently persisted RDDs (localCheckpoint blocks included)
    — the observable the eviction test pins."""
    return {
        int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def _unpersist_ids(spark: SparkSession, ids: set[int]) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)


def cut_block_ids(df: DataFrame) -> set[int]:
    """The persisted-RDD ids backing a :func:`cut` frame, read off the
    frame's OWN plan (the ``LogicalRDD`` the checkpoint produced) —
    never a global before/after diff of ``getPersistentRDDs``, which
    would mis-claim blocks created by nested memoized builds or by
    concurrent jobs on the same session. Reliable-checkpoint frames
    return the id too, but their storage is files (freed by the
    ContextCleaner, not unpersist) — ``_unpersist_ids`` on them is a
    harmless no-op because the id is absent from getPersistentRDDs."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return {int(plan.rdd().id())}
    except Exception:  # not a checkpoint-backed frame
        return set()


def read_block_ids(df: DataFrame) -> set[int]:
    """The persisted-RDD ids of every cut ``df``'s plan reads (its
    ``LogicalRDD`` leaves) — for a frame BUILT over cuts, such as a
    projection of a kernel's final generation, where
    :func:`cut_block_ids` only answers for a frame that is a cut."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    ids = set()
    for i in range(leaves.size()):
        try:
            ids.add(int(leaves.apply(i).rdd().id()))
        except Py4JError:  # a file scan or a local relation: no rdd()
            continue
    return ids


def release_cut(*dfs: DataFrame) -> None:
    """Free the executor blocks behind superseded :func:`cut` frames —
    the primitive ``operators.pregel.fixpoint`` frees its generations
    and scratch cuts with.

    SAFETY CONTRACT (the caller proves this): a cut frame's lineage is
    truncated, so once its blocks are gone the frame CANNOT be
    recomputed — only release frames no live plan will ever read
    again. Releasing a frame that a lazy plan (an accumulated union, a
    returned result) still references turns into "checkpoint block not
    found" at the next action. Frames that were never cut contribute
    no ids (``cut_block_ids`` returns empty) — passing them is a
    harmless no-op, as is releasing reliable-checkpoint frames (file
    storage, reclaimed by the ContextCleaner)."""
    for df in dfs:
        ids = cut_block_ids(df)
        if ids:
            _unpersist_ids(df.sparkSession, ids)


@contextmanager
def cut_once(df: DataFrame) -> Iterator[DataFrame]:
    """Hold ``df`` materialized for one kernel run: the frame every
    round of the run reads (an edge relation joined with each
    superstep's messages). Left lazy, a journal replay or a degree
    join would re-run inside every round's plan. A frame that already
    is a cut (``cut_block_ids`` non-empty) is handed back unchanged
    and stays the caller's; otherwise it is cut once here and freed on
    exit, also when the run raises at its cap. The kernel's result must
    not read the frame lazily: it is a cut generation of its own."""
    if cut_block_ids(df):
        yield df
        return
    held = cut(df)
    try:
        yield held
    finally:
        release_cut(held)


def memoized_checkpoint(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the memoized eager cut of ``build()`` for this
    (kind, sf_dir), rebuilding when the session changed (a cut frame
    dies with its session). A superseded generation's blocks are
    unpersisted on rebuild, so the cache never holds more than one
    generation per key."""
    hit = _CACHE.get((kind, sf_dir))
    if hit is not None and hit[0] is spark:
        return hit[1]
    if hit is not None:
        _CACHE.pop((kind, sf_dir), None)
    df = cut(build())
    # attribution comes from the cut frame's own plan: nested memoized
    # keys populated during build() keep their own block ids, and a
    # concurrent job's persists are never claimed by this key
    _CACHE[(kind, sf_dir)] = (spark, df, cut_block_ids(df))
    return df


def clear_frame_cache(sf_dir: str | None = None) -> None:
    """Evict memoized frames AND unpersist their blocks — ``sf_dir``
    restricts eviction to one input (a long-lived service session
    evicts a finished workload's frames without touching others).
    After eviction the frames are gone for good (lineage was cut), so
    callers re-derive via ``memoized_checkpoint`` on next use.

    Also evicts (and removes from disk) the memoized on-disk layouts
    registered through :func:`layout_dir` and the round-trip
    directories of :func:`temp_dir`, so a regenerated input under the
    same ``sf_dir`` cannot be served a stale physical layout — the
    layout cache follows the frame cache's eviction discipline."""
    for key in [k for k in _CACHE if sf_dir is None or k[1] == sf_dir]:
        spark, _df, block_ids = _CACHE.pop(key)
        try:
            _unpersist_ids(spark, block_ids)
        except Exception:  # session already stopped — blocks are gone
            pass
    for key in [k for k in _LAYOUT_DIRS if sf_dir is None or k[1] == sf_dir]:
        shutil.rmtree(_LAYOUT_DIRS.pop(key), ignore_errors=True)


# every on-disk directory the package makes: a layout_dir layout under
# its (kind, sf_dir), a temp_dir under (its own path, sf_dir)
_LAYOUT_DIRS: dict[tuple[str, str], str] = {}


@atexit.register
def _remove_layout_dirs() -> None:
    """Remove the directories of a process that exits without clearing
    the cache."""
    while _LAYOUT_DIRS:
        shutil.rmtree(_LAYOUT_DIRS.popitem()[1], ignore_errors=True)


def layout_dir(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Memoized ON-DISK layout for ``(kind, sf_dir)`` — a partitioned /
    split parquet rewrite that models a one-time index or replay
    layout build (IVF cell partitioning, the multi-file stream-replay
    splits). ``build(path)`` runs once per key; subsequent calls serve
    the same directory, and :func:`clear_frame_cache` both evicts the
    entry and ``rmtree``s the directory, so layouts cannot outlive a
    cache flush of their input. A failed build is rolled back (dir
    removed, nothing registered) so a retry re-builds cleanly."""
    key = (kind, sf_dir)
    path = _LAYOUT_DIRS.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"spark_graft_{kind}_")
        try:
            build(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        _LAYOUT_DIRS[key] = path
    return path


def temp_dir(kind: str, sf_dir: str) -> str:
    """A fresh ``spark_graft_{kind}_*`` directory for one call's sink
    round-trip (written, then read back lazily), registered like a
    :func:`layout_dir` layout: :func:`clear_frame_cache` removes it with
    ``sf_dir``'s entries, and the exit hook removes what is left. It is
    not memoized: each call gets its own directory, so a frame built by
    an earlier call keeps its files until the cache is cleared."""
    path = tempfile.mkdtemp(prefix=f"spark_graft_{kind}_")
    _LAYOUT_DIRS[(path, sf_dir)] = path
    return path
