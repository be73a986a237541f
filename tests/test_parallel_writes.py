"""Focused tests for tools.concurrency.parallel_writes — the r14 §2.6
write-overlap helper under DedupIndex.build/ingest/remove,
AnnIndex.save/append/retrain/remove, and the streaming epoch
writers/absorb."""

import threading
import time

import pytest

from impuls_spark.tools.concurrency import parallel_writes


def test_single_thunk_runs_inline():
    ran = []
    parallel_writes(lambda: ran.append(threading.current_thread().name))
    assert len(ran) == 1
    # fast path: no pool for a single write
    assert ran[0] == threading.current_thread().name


def test_all_thunks_run():
    ran = []
    parallel_writes(*(lambda i=i: ran.append(i) for i in range(5)))
    assert sorted(ran) == [0, 1, 2, 3, 4]


def test_thunks_overlap():
    """Two blocking thunks must be in flight at once (the point of the
    helper): each waits for the other's start event."""
    a, b = threading.Event(), threading.Event()

    def one():
        a.set()
        assert b.wait(timeout=10)

    def two():
        b.set()
        assert a.wait(timeout=10)

    parallel_writes(one, two)


def test_first_error_propagates_after_all_settle():
    """A failing write must not cancel its siblings (partial artifact
    sets are the lease/marker layer's business, not the pool's), and
    the first failure re-raises."""
    done = []

    def ok():
        time.sleep(0.05)
        done.append("ok")

    def boom():
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        parallel_writes(boom, ok)
    assert done == ["ok"]  # sibling ran to completion


def test_single_thunk_error_propagates():
    with pytest.raises(ValueError):
        parallel_writes(lambda: (_ for _ in ()).throw(ValueError("x")))


def test_parallel_writes_attaches_sibling_errors():
    """ADVICE r14: when several overlapped writes fail, the re-raised
    first error carries the siblings' diagnoses as notes."""
    def boom(msg):
        def _t():
            raise RuntimeError(msg)
        return _t

    try:
        parallel_writes(boom("first"), boom("second"), boom("third"))
    except RuntimeError as ex:
        notes = "".join(getattr(ex, "__notes__", []))
        assert "sibling overlapped-write failure" in notes
        assert ("second" in notes) or ("third" in notes)
    else:
        raise AssertionError("expected the first error re-raised")


def test_single_row_df_rejects_type_mismatch(spark):
    """ADVICE r14: a value/DDL mismatch raises instead of writing a
    silent NULL through lit().cast()."""
    import pytest

    from impuls_spark.tools.rows import single_row_df

    ok = single_row_df(spark, "a int, b string", 7, "x").collect()
    assert [(r["a"], r["b"]) for r in ok] == [(7, "x")]
    with pytest.raises(TypeError, match="silent NULL"):
        single_row_df(spark, "a int", "not-an-int")
    with pytest.raises(TypeError, match="silent NULL"):
        single_row_df(spark, "a string", 12)
    # None stays writable (nullable manifest fields)
    assert single_row_df(spark, "a string", None).collect()[0]["a"] is None
