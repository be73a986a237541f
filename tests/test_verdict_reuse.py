"""Classify once: ``DedupIndex.ingest`` appends from the verdicts of the
handle's last cut-mode ``classify`` of the same batch while the index
files are the ones that classification read. Every other ingest runs the
classify kernel again, and lands the same verdicts and rows as an ingest
through a freshly loaded handle."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from impuls_spark.llm.dedup import DedupIndex
from impuls_spark.tools.checkpoints import free_local_checkpoint

#: jobs a reused ingest runs, the caller's collect included: the two
#: appends (2 jobs each) and the collect
REUSE_JOBS = 5
#: fewer jobs than the broadcast-mode classify kernel runs alone
KERNEL_JOBS = 10


def _docs(spark, lo, hi):
    # per-doc unique shingles, so docs collide only with their own copy
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("payload "), F.md5(F.col("id").cast("string")),
            F.lit(" mid "), F.md5((F.col("id") * 7 + 1).cast("string")),
            F.lit(" tail "), F.md5((F.col("id") * 13 + 2).cast("string")),
        ).alias("text"),
    )


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """(index, side index): a tracked index of docs 0-39 plus appended
    docs 100-104, so each artifact has more than one file for a compact
    to fold, and a tracked index of docs 40-41 whose files the stray-file
    cases copy in."""
    root = tmp_path_factory.mktemp("reuse")
    path, side = str(root / "base"), str(root / "side")
    DedupIndex.build(_docs(spark, 0, 40), path, track_ids=True)
    free_local_checkpoint(DedupIndex.load(spark, path).ingest(
        _docs(spark, 100, 105), broadcast_new=True))
    DedupIndex.build(_docs(spark, 40, 42), side, track_ids=True)
    return path, side


def _rows(spark, path):
    return {name: sorted(map(tuple, spark.read.parquet(
        f"{path}/{name}").collect()), key=repr)
        for name in ("hashes", "bands")}


def _ingest(spark_jobs, idx, batch):
    """(verdicts, jobs) of a broadcast-mode ingest and its collect."""
    jobs = spark_jobs()
    status = idx.ingest(batch, broadcast_new=True)
    got = dict(status.collect())
    jobs = spark_jobs() - jobs
    free_local_checkpoint(status)
    return got, jobs


def _versus_fresh(spark, spark_jobs, tmp_path, base, batch, mutate=None,
                  again=None, lazy=False, free=False):
    """Classify ``batch`` on one handle, apply ``mutate(handle, path)``,
    then ingest ``again`` (default: ``batch``; a callable builds the
    frame after ``mutate``) on that handle and, from
    a copy of the index as it stood before that ingest, through a fresh
    handle. Returns (classify verdicts, ingest verdicts, ingest jobs)
    once the two ingests agree on verdicts and on every stored row."""
    path = str(tmp_path / "idx")
    shutil.copytree(base[0], path)
    idx = DedupIndex.load(spark, path)
    status = idx.classify(batch, broadcast_new=not lazy)
    classified = dict(status.collect())
    if free:
        free_local_checkpoint(status)
    if mutate is not None:
        mutate(idx, path)
    snapshot = str(tmp_path / "fresh")
    shutil.copytree(path, snapshot)
    again = batch if again is None else again
    if callable(again):
        again = again()
    got, jobs = _ingest(spark_jobs, idx, again)
    want, fresh_jobs = _ingest(spark_jobs, DedupIndex.load(spark, snapshot),
                               again)
    assert fresh_jobs > KERNEL_JOBS
    assert got == want
    assert _rows(spark, path) == _rows(spark, snapshot)
    free_local_checkpoint(status)
    return classified, got, jobs


def test_ingest_after_classify_reuses_the_verdicts(spark, spark_jobs,
                                                    tmp_path, base):
    """The reuse hit: the ingest runs its appends and the collect only,
    returns the classify's verdicts, and stores exactly the rows a
    re-classifying ingest stores."""
    classified, got, jobs = _versus_fresh(
        spark, spark_jobs, tmp_path, base, _docs(spark, 30, 50))
    assert jobs <= REUSE_JOBS
    assert got == classified
    assert {got[i] for i in range(30, 40)} == {"exact"}
    assert {got[i] for i in range(40, 50)} == {"novel"}


@pytest.mark.parametrize("handle", ["same", "other"])
@pytest.mark.parametrize("op", ["ingest", "remove", "compact"])
def test_write_between_classify_and_ingest_reclassifies(
    spark, spark_jobs, tmp_path, base, op, handle
):
    """An ingest, a remove or a compact between classify and ingest,
    through the same handle or another handle of the index, makes the
    ingest classify again: the verdicts follow the index as it is."""
    def mutate(idx, path):
        h = idx if handle == "same" else DedupIndex.load(spark, path)
        if op == "ingest":
            free_local_checkpoint(
                h.ingest(_docs(spark, 45, 48), broadcast_new=True))
        elif op == "remove":
            h.remove([30, 31])
        else:
            stats = h.compact()
            assert not any(s.get("skipped") for s in stats.values()), stats

    classified, got, jobs = _versus_fresh(
        spark, spark_jobs, tmp_path, base, _docs(spark, 30, 50), mutate)
    assert jobs > KERNEL_JOBS
    changed = {i for i in got if got[i] != classified[i]}
    assert changed == {"ingest": {45, 46, 47}, "remove": {30, 31},
                       "compact": set()}[op]


@pytest.mark.parametrize("store, verdict", [("hashes", "exact"),
                                            ("bands", "near")])
def test_stray_file_reclassifies(spark, spark_jobs, tmp_path, base, store,
                                 verdict):
    """A parquet file that lands in ``hashes/`` or ``bands/`` by other
    means than this library (here: copied from another index) makes
    the ingest classify again."""
    side = sorted(glob.glob(f"{base[1]}/{store}/*.parquet"))[0]

    def mutate(idx, path):
        shutil.copy(side, f"{path}/{store}/stray-{os.path.basename(side)}")

    classified, got, jobs = _versus_fresh(
        spark, spark_jobs, tmp_path, base, _docs(spark, 30, 50), mutate)
    assert jobs > KERNEL_JOBS
    assert classified[40] == classified[41] == "novel"
    assert got[40] == got[41] == verdict


@pytest.mark.parametrize("case", ["equal_rows", "other_rows", "rand_column",
                                  "freed", "lazy"])
def test_other_batch_or_lost_verdicts_reclassify(spark, spark_jobs,
                                                 tmp_path, base, case):
    """A new batch frame (even of equal rows), a batch whose plan is not
    deterministic, verdicts the caller freed, and a lazy-mode classify
    (which holds nothing) each make the ingest classify again."""
    batch, again = _docs(spark, 30, 50), None
    if case in ("equal_rows", "other_rows"):
        rows = [tuple(r) for r in batch.collect()]
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        if case == "other_rows":
            rows = rows[5:]
        again = spark.createDataFrame(rows, "doc_id long, text string")
    elif case == "rand_column":
        batch = batch.withColumn("r", F.rand(7))
    classified, got, jobs = _versus_fresh(
        spark, spark_jobs, tmp_path, base, batch, again=again,
        lazy=case == "lazy", free=case == "freed")
    assert jobs > KERNEL_JOBS
    assert got == {i: v for i, v in classified.items() if i in got}


def test_rewritten_batch_directory_reclassifies(spark, spark_jobs, tmp_path,
                                               base):
    """A batch read again from a parquet directory rewritten since the
    classify has a plan equal to the classified one, over other files:
    the ingest classifies it again and sees the new rows."""
    landing = str(tmp_path / "landing")
    _docs(spark, 30, 50).write.parquet(landing)

    def mutate(idx, path):
        _docs(spark, 30, 55).write.mode("overwrite").parquet(landing)

    classified, got, jobs = _versus_fresh(
        spark, spark_jobs, tmp_path, base, spark.read.parquet(landing),
        mutate, again=lambda: spark.read.parquet(landing))
    assert jobs > KERNEL_JOBS
    assert set(classified) == set(range(30, 50))
    assert set(got) == set(range(30, 55))
    assert {got[i] for i in range(50, 55)} == {"novel"}


def test_reuse_check_round_trips_do_not_grow_with_files(
    spark, spark_jobs, tmp_path, monkeypatch
):
    """The reuse check lists the index files in a constant number of
    Py4J round trips: a reused ingest makes the same number against an
    index with 2 appended files as against one with 40 (a per-file
    ``inputFiles()`` would add one round trip per file)."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    send = ClientServerConnection.send_command
    calls = [0]

    def counting(self, command, *args, **kwargs):
        # reference deletes for objects Python freed earlier are sent
        # whenever they happen to flush: not this ingest's round trips
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    def round_trips(files):
        path = str(tmp_path / f"idx{files}")
        DedupIndex.build(_docs(spark, 0, 40), path)
        extra = spark.range(1_000, 1_000 + 5 * files).select(
            F.md5(F.col("id").cast("string")).alias("__h"))
        extra.repartition(files).write.mode("append").parquet(
            f"{path}/hashes")
        extra.select(F.lit(0).alias("band"), F.col("__h").alias("key")) \
            .repartition(files).write.mode("append").parquet(
                f"{path}/bands")
        idx = DedupIndex.load(spark, path)
        batch = _docs(spark, 30, 50)
        classified = idx.classify(batch, broadcast_new=True)
        jobs, calls[0] = spark_jobs(), 0
        monkeypatch.setattr(ClientServerConnection, "send_command",
                            counting)
        try:
            ingested = idx.ingest(batch, broadcast_new=True)
        finally:
            monkeypatch.setattr(ClientServerConnection, "send_command", send)
        assert spark_jobs() - jobs < REUSE_JOBS  # reused: the appends
        free_local_checkpoint(classified, ingested)
        return calls[0]

    few, many = round_trips(2), round_trips(40)
    assert 0 < few == many, (few, many)
