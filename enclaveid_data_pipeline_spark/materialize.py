"""Materialization boundary for multi-consumer intermediate frames.

Several operators compute a frame that feeds 2+ consumers (both sides
of a self-join, a size aggregate + join sides, per-round CC labels).
Without a boundary Spark re-runs the producing subtree once per
consumer; with one, consumers read materialized rows.

Three real strategies, one escape hatch:

- ``local``  — ``DataFrame.localCheckpoint()``: blocks pinned in
  executor storage (memory/disk). Cheapest, but NOT fault-tolerant:
  executor loss discards blocks and the job cannot recompute them
  (lineage was truncated). The right default for single-JVM local
  runs and tests.
- ``reliable`` — ``DataFrame.checkpoint()``: blocks written to the
  SparkContext checkpoint dir (HDFS/object store on a cluster), so
  executor loss recovers by re-reading. The 100 TB default; set
  ``spark.sparkContext.setCheckpointDir()`` to a durable URI (we
  auto-set a local fallback if unset so the mode always works).
- ``table`` — write parquet to a scratch path and read it back: the
  operationally strongest form (survives driver loss, inspectable,
  shareable across jobs; columnar + min/max footer stats for
  downstream pushdown, which RDD-block checkpoints don't give).
  The in-code analog of "persist the signature table" that the
  reference pipelines do between stages.
- ``none``  — no boundary (pure lazy). For plan inspection / tiny
  inputs where recompute beats materialization.

Default resolution: explicit argument > ``SPARK_GRAFT_MATERIALIZE``
env var > ``local``. Operators thread a ``materialize=`` parameter to
here, so one env var flips the whole engine to durable boundaries on
a real cluster without touching call sites.

Sites whose interleaved A/B measured recompute BEATING a pinned
boundary at eval scale (kmeans_refine, skyline_kd, PassJoin,
simhash banding, PageRank/PPR rounds — the round-12 dead-end
ledger) default to :data:`DEFAULT_OFF` instead of a hard ``"none"``:
with the env var unset that resolves to ``"none"`` (recompute), but
a cluster profile that sets ``SPARK_GRAFT_MATERIALIZE=table`` still
reaches them — their own docstrings say a 100 TB run should pin
durably there, and a hard ``"none"`` silently opted them out of the
one-env-var contract above (r12 advice).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame

MODES = ("local", "reliable", "table", "none")

#: sentinel default for recompute-wins sites: env var when set,
#: else ``"none"`` (see module doc).
DEFAULT_OFF = "default_none"

#: env var read when a call site passes ``materialize=None``.
ENV_VAR = "SPARK_GRAFT_MATERIALIZE"

#: env var overriding the scratch directory used by ``table`` mode.
SCRATCH_ENV_VAR = "SPARK_GRAFT_SCRATCH"


def resolve_mode(mode: str | None) -> str:
    if mode == DEFAULT_OFF:
        out = os.environ.get(ENV_VAR) or "none"
    else:
        out = mode or os.environ.get(ENV_VAR) or "local"
    if out not in MODES:
        raise ValueError(f"materialize mode {out!r} not in {MODES}")
    return out


def _scratch_dir() -> str:
    return os.environ.get(SCRATCH_ENV_VAR) or os.path.join(
        os.getcwd(), "spark-warehouse", "_materialize"
    )


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        # Local fallback so ``reliable`` never silently fails; real
        # clusters should setCheckpointDir to an object-store URI.
        sc.setCheckpointDir(os.path.join(_scratch_dir(), "_checkpoints"))


def materialize(df: DataFrame, mode: str | None = None) -> DataFrame:
    """Cut lineage under ``df`` per the chosen strategy (see module doc).

    Returns a frame with identical rows/schema whose plan reads the
    materialized data instead of recomputing the producing subtree.
    """
    mode = resolve_mode(mode)
    if mode == "none":
        return df
    if mode == "local":
        return df.localCheckpoint()
    if mode == "reliable":
        _ensure_checkpoint_dir(df)
        return df.checkpoint()
    # table
    path = os.path.join(_scratch_dir(), f"mat-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def release_blocks(df: DataFrame) -> None:
    """Unpersist the executor blocks behind a frame whose analyzed
    plan is a bare ``LogicalRDD``: a ``local``-materialized frame,
    and also a ``reliable`` one, since ``df.checkpoint()`` yields a
    ``LogicalRDD`` too. No-op for ``table``/``none`` frames and any
    other plan.

    Same per-frame attribution as :class:`RollingBoundary`: the
    analyzed plan of a ``localCheckpoint()`` result is the
    ``LogicalRDD`` wrapping exactly the persisted checkpoint RDD, so
    the handle is read straight off the plan — never a
    ``getPersistentRDDs`` sweep that could claim a concurrent
    sibling's blocks. After release the frame MUST NOT be read again
    (truncated lineage cannot recompute); callers drop every
    reference along with the blocks (queries.release_shared_caches).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # never let a release failure poison the caller


class RollingBoundary:
    """Per-round lineage cut for iterative operators (PageRank, PPR,
    BFS, LPA, connected components) that RELEASES the previous
    round's local-checkpoint blocks as soon as the next round is
    materialized.

    Why: ``localCheckpoint`` pins its blocks in executor storage and
    nothing ever unpersists them — a 20-round PageRank at sf1 left
    448 cached partitions / 240 MB pinned for the session's lifetime
    (measured round 5; Python+JVM GC does not reclaim them), linear
    in round count. Once round k's boundary is EAGERLY materialized,
    round k-1's blocks have exactly zero remaining readers — the only
    consumer was the round-k computation — and a truncated-lineage
    RDD can never be recomputed anyway, so dropping the blocks is
    safe precisely then and only then.

    Mechanics: ``localCheckpoint()`` returns a frame whose analyzed
    plan is the ``LogicalRDD`` wrapping EXACTLY the persisted
    checkpoint RDD, so the handle is read straight off
    ``queryExecution().analyzed().rdd()`` — per-frame attribution,
    no global state.  (Round 10: the original implementation diffed
    ``getPersistentRDDs`` snapshots around the checkpoint; under the
    now-concurrent correctness gate a sibling thread's checkpoint
    registering inside the delta window was claimed — and later
    unpersisted — by the wrong boundary, failing the sibling with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  Direct attribution is
    thread-safe by construction.)  Only ``local`` mode needs this
    (``table``/``reliable`` store externally, ``none`` has no
    boundary); for those modes the call degrades to plain
    :func:`materialize`.  If the analyzed plan is ever NOT a
    ``LogicalRDD`` (version drift), the round goes untracked — one
    generation leaks rather than any block being misattributed.

    The FINAL generation is deliberately NOT auto-released: the
    returned frame's plan reads it, and a GC/weakref hook on the
    Python wrapper is unsound — in a composed query the operator's
    intermediate Python object is collected while the downstream JVM
    plan still reads the checkpoint (round-5 bench hit exactly this:
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` in session_merge_banded,
    and a truncated-lineage block is unrecoverable — unlike a plain
    persist there is no recompute path). The residual is ONE round's
    blocks per operator call — constant in round count (the fix) and
    evictable to disk under memory pressure. A caller that owns the
    frame's full lifecycle may call ``release()`` explicitly after
    its final action.
    """

    def __init__(self, lag: int = 0) -> None:
        """``lag``: number of PAST generations to retain beyond the
        newest one. 0 (default) frees round k-1 the moment round k
        materializes — right when the only reader was the round-k
        computation itself. Loops that still read the previous round
        AFTER the new boundary (connected components' convergence
        check joins old vs new labels) pass ``lag=1``."""
        self._lag = lag
        self._gens: list[list] = []

    @staticmethod
    def _unpersist(handles: list) -> None:
        for h in handles:
            try:
                h.unpersist(False)
            except Exception:
                pass

    def __call__(self, df: DataFrame, mode: str | None = None) -> DataFrame:
        if resolve_mode(mode) != "local":
            return materialize(df, mode)
        out = df.localCheckpoint()
        handles: list = []
        try:
            plan = out._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                handles.append(plan.rdd())
        except Exception:
            pass  # untracked round: leak one gen, never misattribute
        self._gens.append(handles)
        while len(self._gens) > self._lag + 1:
            self._unpersist(self._gens.pop(0))
        return out

    def release(self) -> None:
        """Drop every retained generation (call after the consumer is
        done with the returned frame)."""
        for g in self._gens:
            self._unpersist(g)
        self._gens = []

