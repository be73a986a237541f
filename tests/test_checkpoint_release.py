"""r15 optimization internals: deterministic localCheckpoint release
(guide §5 — VERDICT r14 what's-wrong #1), JVM-side takedown-id frames,
and observe-derived takedown stats (VERDICT r14 what's-wrong #3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impuls_spark.tools.checkpoints import (
    checkpoint_rdd,
    free_local_checkpoint,
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_ids(spark) -> set:
    # ids, not a count: a dead checkpoint of an earlier test that the
    # ContextCleaner unpersists during this one would shift a count
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _pins(spark, frame, before: set) -> None:
    """The RDDs pinned since ``before`` are exactly ``frame``'s
    checkpoint; freeing ``frame`` leaves none of them pinned."""
    added = _persistent_ids(spark) - before
    assert added == {checkpoint_rdd(frame, selected=True).id()}, added
    free_local_checkpoint(frame)
    assert not added & _persistent_ids(spark)


def _docs(spark, lo, hi):
    # per-doc unique shingles (md5-derived words), so fresh ids
    # classify 'novel' rather than 'near' via shared-prefix bands
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("payload "), F.md5(F.col("id").cast("string")),
            F.lit(" mid "), F.md5((F.col("id") * 7 + 1).cast("string")),
            F.lit(" tail "), F.md5((F.col("id") * 13 + 2).cast("string")),
        ).alias("text"),
    )


def test_free_local_checkpoint_releases_blocks(spark):
    base = _n_persistent(spark)
    cp = spark.range(50).localCheckpoint(eager=True)
    assert _n_persistent(spark) == base + 1
    free_local_checkpoint(cp)
    assert _n_persistent(spark) == base


def test_free_local_checkpoint_frees_a_column_selection(spark):
    """A plain column selection of a checkpoint owns its blocks (the
    dedup verdicts come back that way); a computed column does not."""
    cp = spark.range(50).select("id", (F.col("id") * 2).alias("x")) \
        .localCheckpoint(eager=True)
    rdd = checkpoint_rdd(cp).id()
    free_local_checkpoint(cp.select((F.col("x") + 1).alias("y")))
    assert rdd in _persistent_ids(spark)
    assert checkpoint_rdd(cp.select("x")) is None
    assert checkpoint_rdd(cp.select("x"), selected=True).id() == rdd
    free_local_checkpoint(cp.select("x", "id"))
    assert rdd not in _persistent_ids(spark)


def test_free_local_checkpoint_skips_plain_frames(spark):
    # not checkpointed, not persisted: a no-op, never an error
    df = spark.range(10).select((F.col("id") * 2).alias("x"))
    free_local_checkpoint(df, None)
    assert df.count() == 10


def test_classify_broadcast_pins_only_the_result(spark, tmp_path):
    """classify(broadcast_new=True) used to leave 3 batch checkpoints
    to Python GC (the d74 rep-spike source); now exactly one pinned
    RDD survives — the materialized status the caller holds — and
    freeing it returns storage to the baseline."""
    from impuls_spark.llm.dedup import DedupIndex

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 40), path)
    idx = DedupIndex.load(spark, path)
    before = _persistent_ids(spark)
    status = idx.classify(_docs(spark, 35, 45), broadcast_new=True)
    got = {r["doc_id"]: r["status"] for r in status.collect()}
    assert all(got[i] == "exact" for i in range(35, 40))
    assert all(got[i] == "novel" for i in range(40, 45))
    _pins(spark, status, before)


def test_ingest_frees_intermediates_deterministically(spark, tmp_path):
    """ingest() pins exactly one RDD after returning (the status frame
    it hands back) — the append inputs' checkpoints are freed when the
    appends land, in both join modes."""
    from impuls_spark.llm.dedup import DedupIndex

    for mode in (False, True):
        path = str(tmp_path / f"idx_{mode}")
        DedupIndex.build(_docs(spark, 0, 30), path)
        idx = DedupIndex.load(spark, path)
        before = _persistent_ids(spark)
        st = idx.ingest(_docs(spark, 25, 35), broadcast_new=mode)
        assert st.count() == 10
        _pins(spark, st, before)


def _counted_batch(spark, lo, hi):
    """(batch, reads): ``_docs`` rows from an RDD whose map ticks an
    accumulator, so ``reads.value`` is the rows read from the batch."""
    reads = spark.sparkContext.accumulator(0)

    def tick(row):
        reads.add(1)
        return row

    rows = [tuple(r) for r in _docs(spark, lo, hi).collect()]
    rdd = spark.sparkContext.parallelize(rows, 4).map(tick)
    return spark.createDataFrame(rdd, "doc_id long, text string"), reads


@pytest.mark.parametrize("mode", [False, True])
@pytest.mark.parametrize("op", ["classify", "ingest"])
def test_classify_reads_the_batch_once(spark, tmp_path, op, mode):
    """The classify kernel reads the caller's batch once per call in
    broadcast mode: the hash and band branches and the verdicts all
    derive from one checkpointed sketch (the kernel before it read the
    batch 3 times). The lazy modes read it 3 times (before: 4 for
    classify, 5 for ingest). The ingest appends read only the
    verdicts."""
    from impuls_spark.llm.dedup import DedupIndex

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 60), path, track_ids=True)
    idx = DedupIndex.load(spark, path)
    batch, reads = _counted_batch(spark, 40, 100)
    status = getattr(idx, op)(batch, broadcast_new=mode)
    got = dict(status.collect())
    assert len(got) == 60 and {got[i] for i in range(40, 60)} == {"exact"}
    assert reads.value == (60 if mode else 3 * 60), reads.value
    free_local_checkpoint(status)


@pytest.mark.parametrize("branch", ["__h", "key"])
def test_failed_branch_pins_nothing(spark, tmp_path, monkeypatch, branch):
    """A probe that fails in one classify branch while the other branch
    runs (broadcast mode runs them at once) re-raises after both have
    finished, and the kernel frees every checkpoint it made: the
    sketch, and the other branch's cut."""
    from impuls_spark.llm import probe
    from impuls_spark.llm.dedup import DedupIndex

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 30), path)
    idx = DedupIndex.load(spark, path)
    real = probe.pushdown_key_filter

    def failing(index, key, batch):
        if key == branch:
            raise OSError(f"probe of {key} failed")
        return real(index, key, batch)

    monkeypatch.setattr(probe, "pushdown_key_filter", failing)
    before = _persistent_ids(spark)
    for op in ("classify", "ingest"):
        with pytest.raises(OSError, match="failed"):
            getattr(idx, op)(_docs(spark, 25, 35), broadcast_new=True)
    assert _persistent_ids(spark) <= before


@pytest.mark.parametrize("mode", [False, True])
def test_failed_append_frees_the_verdicts(spark, tmp_path, monkeypatch,
                                          mode):
    """An append that fails after the classification has run frees the
    verdicts and every intermediate checkpoint before the error
    propagates, and nothing reaches the store."""
    from impuls_spark.llm import probe
    from impuls_spark.llm.dedup import DedupIndex

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 30), path)
    idx = DedupIndex.load(spark, path)
    rows = spark.read.parquet(f"{path}/hashes").count()

    def fail(df, path, *keys, **kw):
        raise OSError("append failed")

    monkeypatch.setattr(probe, "write_keyed", fail)
    before = _persistent_ids(spark)
    with pytest.raises(OSError, match="append failed"):
        idx.ingest(_docs(spark, 25, 35), broadcast_new=mode)
    assert _persistent_ids(spark) <= before
    assert spark.read.parquet(f"{path}/hashes").count() == rows


@pytest.mark.parametrize("mode", [False, True])
@pytest.mark.parametrize("failure", ["live_marker", "append_fails"])
def test_failed_ingest_pins_nothing(spark, tmp_path, monkeypatch,
                                    spark_jobs, mode, failure):
    """ingest() refuses on a live ``_COMPACTING`` marker on ``bands/``
    before running a single job, and a failing append frees the
    classification's checkpoints (the status included) before the
    error propagates — in both join modes no RDD stays pinned."""
    import os

    from impuls_spark.llm import probe
    from impuls_spark.llm.dedup import DedupIndex
    from impuls_spark.streaming.compact import compact_marker_path

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 30), path)
    idx = DedupIndex.load(spark, path)
    batch = _docs(spark, 25, 35)
    if failure == "live_marker":
        marker = compact_marker_path(f"{path}/bands")
        open(marker, "w").close()  # fresh heartbeat: the holder is alive
        match = "_COMPACTING"
    else:
        def fail(df, path, *keys, **kw):
            raise OSError("append failed")

        # the append writer alone: the classify kernel runs its
        # branches through parallel_writes too
        monkeypatch.setattr(probe, "write_keyed", fail)
        match = "append failed"
    base, jobs = _n_persistent(spark), spark_jobs()
    with pytest.raises((RuntimeError, OSError), match=match):
        idx.ingest(batch, broadcast_new=mode)
    assert _n_persistent(spark) == base
    if failure == "live_marker":
        assert spark_jobs() == jobs  # refused before any work
        assert os.path.exists(marker)  # another run's marker: untouched


def _classified(spark, tmp_path, track_ids=False):
    """(handle, batch, classify frame): a cut-mode classify of
    ``_docs(25, 35)`` against an index of ``_docs(0, 30)``."""
    from impuls_spark.llm.dedup import DedupIndex

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 30), path, track_ids=track_ids)
    idx = DedupIndex.load(spark, path)
    batch = _docs(spark, 25, 35)
    return idx, batch, idx.classify(batch, broadcast_new=True)


@pytest.mark.parametrize("freed", ["classify", "ingest"])
def test_reused_ingest_shares_the_classify_checkpoint(spark, tmp_path,
                                                      freed):
    """An ingest of the batch the handle just classified appends from
    the classify's verdicts: both frames select from one checkpoint,
    the only RDD the two calls pinned, and freeing either frame frees
    it."""
    before = _persistent_ids(spark)
    idx, batch, classified = _classified(spark, tmp_path)
    ingested = idx.ingest(batch, broadcast_new=True)
    rdd = checkpoint_rdd(classified, selected=True).id()
    assert checkpoint_rdd(ingested, selected=True).id() == rdd
    assert _persistent_ids(spark) - before == {rdd}
    assert dict(ingested.collect()) == dict(classified.collect())
    free_local_checkpoint(ingested if freed == "ingest" else classified)
    assert not _persistent_ids(spark) - before


def test_failed_reused_append_leaves_the_classify_frame(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """A failed append of a reused ingest leaves the verdicts to the
    caller's classify frame, which still reads; the handle drops them,
    so the next ingest classifies again."""
    from impuls_spark.llm import probe

    idx, batch, classified = _classified(spark, tmp_path)
    want = dict(classified.collect())

    def fail(df, path, *keys, **kw):
        raise OSError("append failed")

    monkeypatch.setattr(probe, "write_keyed", fail)
    with pytest.raises(OSError, match="append failed"):
        idx.ingest(batch, broadcast_new=True)
    assert dict(classified.collect()) == want
    monkeypatch.undo()
    jobs = spark_jobs()
    ingested = idx.ingest(batch, broadcast_new=True)
    assert spark_jobs() - jobs > 10  # the classify kernel ran
    assert checkpoint_rdd(ingested, selected=True).id() != checkpoint_rdd(
        classified, selected=True).id()
    assert dict(ingested.collect()) == want
    free_local_checkpoint(classified, ingested)


def test_reused_cycles_pin_nothing(spark, tmp_path):
    """classify → ingest → remove over 5 cycles, every frame freed: no
    RDD stays pinned."""
    idx, _, classified = _classified(spark, tmp_path, track_ids=True)
    free_local_checkpoint(classified)
    before = _persistent_ids(spark)
    for c in range(5):
        batch = _docs(spark, 100 + 10 * c, 110 + 10 * c)
        classified = idx.classify(batch, broadcast_new=True)
        ingested = idx.ingest(batch, broadcast_new=True)
        assert dict(ingested.collect()) == dict(classified.collect())
        idx.remove([100 + 10 * c, 101 + 10 * c])
        free_local_checkpoint(classified, ingested)
    assert _persistent_ids(spark) <= before


def test_rid_frame_list_path_is_jvm_side(spark):
    from impuls_spark.streaming.compact import _rid_frame

    rid = _rid_frame(spark, [3, 1, 2, 3, 1])
    plan = rid._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan  # no Python-parallelized constant
    assert sorted(r["__rid"] for r in rid.collect()) == ["1", "2", "3"]
    empty = _rid_frame(spark, [])
    assert empty.columns == ["__rid"] and empty.count() == 0
    df_in = _rid_frame(spark, spark.range(3).select(F.col("id")))
    assert sorted(r["__rid"] for r in df_in.collect()) == ["0", "1", "2"]


def test_remove_stats_ride_the_fold_job(spark, tmp_path, spark_jobs):
    """DedupIndex.remove derives rows_before/rows_after from observed
    metrics on the fold itself (no extra count() scans) — values must
    equal what independent counts say — and runs a fixed number of
    jobs: 8 for a list of ids, 10 for a DataFrame of them."""
    from impuls_spark.llm.dedup import DedupIndex

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 20), path, track_ids=True)
    idx = DedupIndex.load(spark, path)
    h_before = spark.read.parquet(f"{path}/hashes").count()
    b_before = spark.read.parquet(f"{path}/bands").count()
    jobs = spark_jobs()
    stats = idx.remove([3, 7])
    assert spark_jobs() - jobs == 8
    assert stats["hashes"]["rows_before"] == h_before
    assert stats["bands"]["rows_before"] == b_before
    assert stats["hashes"]["rows_after"] == spark.read.parquet(
        f"{path}/hashes").count()
    assert stats["bands"]["rows_after"] == spark.read.parquet(
        f"{path}/bands").count()
    assert stats["hashes"]["rows_before"] - stats["hashes"]["rows_after"] == 2

    jobs = spark_jobs()
    stats = idx.remove(spark.range(10, 13).select(F.col("id").alias("doc_id")))
    assert spark_jobs() - jobs == 10
    assert stats["hashes"]["rows_before"] - stats["hashes"]["rows_after"] == 3


def _ids(spark):
    return spark.range(3, 6).select(F.col("id").alias("doc_id"))


def _dedup_remove(spark, root):
    from impuls_spark.llm.dedup import DedupIndex

    DedupIndex.build(_docs(spark, 0, 20), root, track_ids=True)
    idx = DedupIndex.load(spark, root)
    return lambda: idx.remove(_ids(spark))


def _ann_remove(spark, root):
    from impuls_spark.llm.similarity import AnnIndex

    from .test_ann_streaming import DIM, _emb

    AnnIndex.build(_emb(spark, 0, 20), _emb(spark, 0, 4), dim=DIM, m=4,
                   pq_k=4).save(root)
    return lambda: AnnIndex.remove(
        spark, root, _ids(spark).select(F.col("doc_id").alias("vec_id"))
    )


def _corpus_remove(spark, root):
    from impuls_spark.sources.corpus import remove_from_corpus, write_corpus

    write_corpus(_docs(spark, 0, 20).withColumn("lang", F.lit("en")), root,
                 partition_by=("lang",))
    return lambda: remove_from_corpus(spark, root, _ids(spark))


def _shards_remove(spark, root):
    from impuls_spark.sources.corpus import (
        remove_from_shards,
        write_training_shards,
    )

    write_training_shards(_docs(spark, 0, 20), root, n_shards=16)
    return lambda: remove_from_shards(spark, root, _ids(spark))


def _stream_corpus_takedown(spark, root):
    from impuls_spark.streaming.ingest import takedown_stream_corpus

    _docs(spark, 0, 20).withColumn("lang", F.lit("en")).write.parquet(
        f"{root}/__epoch=0"
    )
    return lambda: takedown_stream_corpus(
        spark, root, _ids(spark), assume_stopped=True
    )


@pytest.mark.parametrize("setup, refusal", [
    (_dedup_remove, "live_marker"),
    (_ann_remove, "live_marker"),
    (_ann_remove, "stream_epochs"),
    (_corpus_remove, "live_marker"),
    (_shards_remove, "live_marker"),
    (_stream_corpus_takedown, "live_marker"),
    (_stream_corpus_takedown, "live_index_marker"),
])
def test_refused_takedown_pins_nothing(spark, tmp_path, setup, refusal):
    """Every takedown given a DataFrame of ids checkpoints it inside its
    maintenance scope, so a refusal — a live root marker held by
    another run, a live marker on the stream corpus's second root
    (``_index``), or (ANN) un-absorbed stream epochs — frees the
    checkpoint, leaves another run's marker exactly as it found it, and
    releases the markers the refused run took itself."""
    import os

    from impuls_spark.streaming.compact import compact_marker_path

    root = str(tmp_path / "root")
    run = setup(spark, root)
    marker = compact_marker_path(root)
    held, match = None, "ALIVE"
    if refusal == "stream_epochs":
        os.makedirs(f"{root}/stream/cells/__epoch=0")
        match = "un-absorbed"
    else:
        held = marker if refusal == "live_marker" else compact_marker_path(
            f"{root}/_index")
        os.makedirs(os.path.dirname(held), exist_ok=True)
        open(held, "w").close()  # fresh heartbeat: the holder is alive
        mtime = os.path.getmtime(held)
    base = _n_persistent(spark)
    with pytest.raises(RuntimeError, match=match):
        run()
    assert _n_persistent(spark) == base
    if held is not None:
        assert os.path.getmtime(held) == mtime
    if held != marker:
        assert not os.path.exists(marker)  # refusal releases it clean
