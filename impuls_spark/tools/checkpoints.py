"""Deterministic release of localCheckpoint blocks (guide §5).

``DataFrame.localCheckpoint(eager=True)`` pins the materialized blocks
until the JVM-side RDD is garbage-collected — which, from PySpark,
happens only after the *Python* wrapper is collected AND py4j's
finalizer round-trip runs. A loop that checkpoints per batch/iteration
(ingest epochs, classify reps, Lloyd iterations) therefore accumulates
dead blocks for an unbounded number of GC cycles; r14 measured this as
4-6x rep-time spikes on d74 (+3 persistent RDDs per classify, storage
reclaimed "within 2 reps"). Freeing the blocks at the exact point the
last consumer is done makes memory behaviour flat and deterministic.

ONLY call this when every frame derived from the checkpoint has been
fully evaluated (or checkpointed itself): a locally-checkpointed RDD
has its lineage truncated, so a use after free raises
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of recomputing.
Maintenance code never calls it directly: a takedown or fold takes its
batch checkpoints through ``streaming.compact.maintenance``'s
``m.checkpoint(df)``, which frees them on every exit path.
"""

from __future__ import annotations


def checkpoint_rdd(df):
    """The JVM RDD holding ``df``'s checkpoint blocks, or None.

    A frame counts as checkpointed when its analyzed plan is a bare
    ``LogicalRDD`` whose RDD is still persisted: exactly what
    ``localCheckpoint`` returns, and not yet freed. Anything on top of
    that leaf (a ``Project``, a ``Filter``) is lineage of its own."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    rdd = plan.rdd()
    return rdd if rdd.getStorageLevel().isValid() else None


def free_local_checkpoint(*dfs) -> None:
    """Unpersist the checkpoint blocks behind locally-checkpointed
    DataFrames, best-effort (non-blocking). A frame that is not backed
    by a ``LogicalRDD`` (not actually checkpointed) is skipped; any
    py4j/internal failure degrades to the old GC-eventually behaviour
    rather than raising into the caller's write path."""
    for df in dfs:
        if df is None:
            continue
        try:
            rdd = checkpoint_rdd(df)
            if rdd is not None:
                rdd.unpersist(False)
        except Exception:  # noqa: BLE001 — cleanup must never fail a job
            pass
