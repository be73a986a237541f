"""Driver-side job overlap (optimization guide §2.6)."""

from __future__ import annotations


def parallel_writes(*thunks) -> None:
    """Run independent write actions concurrently from a small driver
    thread pool (optimization guide §2.6, overlap independent jobs):
    Spark's scheduler runs several jobs at once inside one
    application — artifact writes are only sequential because the
    driver calls them sequentially, and each write's single-task tail
    (commit, footer, bloom flush) leaves the executor pool idle. With
    FIFO scheduling the later write's tasks back-fill cores the
    earlier write's tail frees, so an index build/save/feed export
    pays the SLOWEST artifact write instead of the SUM.

    The same holds for any set of independent actions, not only
    writes: ``FeedDataset.checkpoint`` runs the eager
    ``localCheckpoint`` of each table that needs one through here, so a
    pipeline barrier's small single-stage jobs overlap instead of each
    paying the scheduling floor in turn.

    The caller guarantees independence: no thunk may read a path
    another thunk writes, and any shared upstream frame must be
    persisted/checkpointed first (otherwise each job recomputes it —
    the writes still succeed, but the overlap buys nothing).
    Completion order is unspecified, so ordering-sensitive writes —
    a manifest/completeness marker that must land LAST — stay outside,
    after this returns. All thunks run to completion even when one
    fails (mode=overwrite reruns replace partial output; lease-fenced
    callers abandon their marker on the re-raised error exactly as
    with sequential writes); the first failure re-raises."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) <= 1:
        for thunk in thunks:
            thunk()
        return
    # 2-3 jobs in flight fill the tail without fighting for executors
    # (guide §2.6); tiny manifest-sized writes finish inside the heavy
    # writes' shadow either way.
    with ThreadPoolExecutor(max_workers=min(3, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        errors = []
        for f in futures:
            try:
                f.result()
            except BaseException as ex:  # noqa: BLE001 — re-raised below
                errors.append(ex)
        if errors:
            # siblings' diagnoses must not vanish (ADVICE r14): attach
            # them to the re-raised first error as exception notes
            for sib in errors[1:]:
                try:
                    errors[0].add_note(
                        f"sibling overlapped-write failure: {sib!r}"
                    )
                except Exception:  # pre-3.11 / exotic BaseException
                    pass
            raise errors[0]
