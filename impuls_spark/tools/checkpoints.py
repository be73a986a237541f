"""Deterministic release of localCheckpoint blocks (guide §5).

``DataFrame.localCheckpoint(eager=True)`` pins the materialized blocks
until the JVM-side RDD is garbage-collected — which, from PySpark,
happens only after the *Python* wrapper is collected AND py4j's
finalizer round-trip runs. A loop that checkpoints per batch/iteration
(ingest epochs, classify reps, Lloyd iterations) therefore accumulates
dead blocks for an unbounded number of GC cycles; r14 measured this as
4-6x rep-time spikes on d74 (+3 persistent RDDs per classify, storage
reclaimed "within 2 reps").

One lifetime rule frees them: ``with checkpoints() as cps:`` frees
every ``cps.checkpoint(df)`` of the block when it exits — on success,
refusal and failure alike — except those ``cps.keep(frame)`` hands to
the caller, who may free them with :func:`free_local_checkpoint`. The
dedup kernel, the streaming sinks, the Lloyd loops, label propagation
and ``maintenance`` scopes (``m.checkpoint``) all checkpoint this way.
So does the GTFS path: a ``Pipeline.run`` scope records its tasks'
cuts (``runtime.checkpoints``) and barriers, and ``cps.release`` frees
those its feed no longer reads (:func:`read_rdds`).

A local checkpoint has its lineage truncated, so a use after free
raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of recomputing:
every frame that reads a checkpoint must be fully evaluated (or
checkpointed itself) before it is freed.
"""

from __future__ import annotations

from contextlib import contextmanager


def checkpoint_rdd(df, selected: bool = False):
    """The JVM RDD holding ``df``'s checkpoint blocks, or None.

    A frame counts as checkpointed when its analyzed plan is a bare
    ``LogicalRDD`` whose RDD is still persisted: exactly what
    ``localCheckpoint`` returns, and not yet freed. Anything on top of
    that leaf (a ``Project``, a ``Filter``) is lineage of its own —
    except, with ``selected``, a ``Project`` of plain columns: such a
    frame reads nothing but the leaf's blocks, so it owns them."""
    plan = df._jdf.queryExecution().analyzed()
    if selected and plan.nodeName() == "Project":
        cols = plan.projectList()
        if all(cols.apply(i).nodeName() == "AttributeReference"
               for i in range(cols.size())):
            plan = plan.child()
    if plan.nodeName() != "LogicalRDD":
        return None
    rdd = plan.rdd()
    return rdd if rdd.getStorageLevel().isValid() else None


def read_rdds(frames) -> dict:
    """``{id: RDD}`` of the checkpoints ``frames`` read: the persisted
    ``LogicalRDD`` leaves of their analyzed plans."""
    out = {}
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        node = plan.nodeName()
        if node == "LocalRelation":  # an absent table reads nothing
            continue
        leaves = [plan]
        if node != "LogicalRDD":
            seq = plan.collectLeaves()
            leaves = [leaf for leaf in map(seq.apply, range(seq.size()))
                      if leaf.nodeName() == "LogicalRDD"]
        for rdd in (leaf.rdd() for leaf in leaves):
            if rdd.getStorageLevel().isValid():
                out[rdd.id()] = rdd
    return out


class Checkpoints:
    """The checkpoints one :func:`checkpoints` scope made and kept."""

    def __init__(self) -> None:
        # parallel_writes threads append (atomic) before the scope exits
        self._made: list = []
        self._kept: set = set()

    def checkpoint(self, df, eager: bool = True):
        """``df.localCheckpoint(eager)``, freed when the scope exits."""
        cp = df.localCheckpoint(eager)
        self._made.append(cp)
        return cp

    def keep(self, df) -> None:
        """Leave the checkpoint behind ``df`` (one of this scope's, or a
        plain column selection of one) to the caller; no-op otherwise."""
        rdd = checkpoint_rdd(df, selected=True)
        if rdd is not None:
            self._kept.add(rdd.id())

    def release(self, frames=(), hand_over: bool = False) -> None:
        """Free each checkpoint of this scope that ``frames`` do not read
        and :meth:`keep` did not keep; the read ones stay or, with
        ``hand_over``, go to the caller. While one they read is a lazy cut no
        job has materialized, nothing is freed: it may read the rest."""
        read = read_rdds(frames)
        made = [(df, rdd, rdd.id()) for df in self._made
                if (rdd := checkpoint_rdd(df, selected=True)) is not None]
        if all(rdd.isCheckpointed() for _, rdd, i in made if i in read):
            for _, rdd, i in made:
                if i not in read and i not in self._kept:
                    rdd.unpersist(False)
            made = [m for m in made if m[2] in read]
        self._made = [] if hand_over else [df for df, _, _ in made]


@contextmanager
def checkpoints():
    """``with checkpoints() as cps:`` (see the module docstring). The
    release is best-effort and non-blocking: a py4j failure degrades to
    the GC-eventually behaviour instead of failing the caller."""
    cps = Checkpoints()
    try:
        yield cps
    finally:
        try:
            cps.release()
        except Exception:  # noqa: BLE001 — cleanup must never fail a job
            pass


def free_read(frames) -> None:
    """Unpersist every checkpoint ``frames`` read (for their owner)."""
    for rdd in read_rdds(frames).values():
        rdd.unpersist(False)


def free_local_checkpoint(*dfs) -> None:
    """Unpersist the checkpoint blocks behind locally-checkpointed
    DataFrames, as a scope that made them and keeps none. A frame that
    selects columns of a checkpoint frees that checkpoint (the dedup
    verdicts are returned that way); any other frame not backed by a
    ``LogicalRDD`` (not actually checkpointed) is skipped."""
    with checkpoints() as cps:
        cps._made.extend(df for df in dfs if df is not None)
