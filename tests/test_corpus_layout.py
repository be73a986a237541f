"""Hive-partitioned corpus layout: pruning, file counts, within-file
order (impuls_spark/sources/corpus.py)."""

from __future__ import annotations

import contextlib
import glob
import io

from pyspark.sql import functions as F

from impuls_spark.sources import read_corpus, write_corpus


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _docs(spark):
    rows = [(i, f"doc number {i}", ["en", "de", "fr"][i % 3]) for i in range(90)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_roundtrip_and_partition_dirs(spark, tmp_path):
    out = str(tmp_path / "corpus")
    write_corpus(_docs(spark), out, partition_by=["lang"])
    assert sorted(
        p.rsplit("=", 1)[1] for p in glob.glob(out + "/lang=*")
    ) == ["de", "en", "fr"]
    # one shard per partition by default
    for d in glob.glob(out + "/lang=*"):
        assert len(glob.glob(d + "/*.parquet")) == 1
    back = read_corpus(spark, out)
    assert back.count() == 90
    assert set(back.columns) == {"doc_id", "text", "lang"}


def test_partition_pruning_reaches_the_scan(spark, tmp_path):
    out = str(tmp_path / "corpus")
    write_corpus(_docs(spark), out, partition_by=["lang"])
    df = read_corpus(spark, out, lang="en")
    assert df.count() == 30
    plan = _plan_of(df)
    assert "PartitionFilters" in plan and "lang" in plan
    # the equality filter must be in PartitionFilters, not a post-scan
    # Filter over all partitions
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("en" in ln for ln in pf), plan


def test_target_shards_bounds_files(spark, tmp_path):
    out = str(tmp_path / "corpus")
    write_corpus(_docs(spark), out, partition_by=["lang"], target_shards=3)
    for d in glob.glob(out + "/lang=*"):
        assert 1 <= len(glob.glob(d + "/*.parquet")) <= 3


def test_sort_within_files(spark, tmp_path):
    out = str(tmp_path / "corpus")
    write_corpus(_docs(spark), out, partition_by=["lang"], sort_by=["doc_id"])
    shard = glob.glob(out + "/lang=en/*.parquet")[0]
    ids = [r["doc_id"] for r in spark.read.parquet(shard).collect()]
    assert ids == sorted(ids)


def test_sort_survives_multi_shard_writer(spark, tmp_path):
    """Regression: with target_shards > 1, shard groups hash-colliding
    into one task must still produce a single sorted run per file (the
    dynamic-partition writer re-sorts by partition columns UNSTABLY, so
    the incoming order has to lead with them and exclude the salt)."""
    out = str(tmp_path / "corpus")
    rows = [(i, f"doc {i}", ["en", "de"][i % 2]) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    write_corpus(df, out, partition_by=["lang"], sort_by=["doc_id"],
                 target_shards=4)
    for shard in glob.glob(out + "/lang=*/*.parquet"):
        ids = [r["doc_id"] for r in spark.read.parquet(shard).collect()]
        assert ids == sorted(ids), shard


# ---------------------------------------------------------------------------
# Deterministic training shards (write_training_shards / shard_manifest)
# ---------------------------------------------------------------------------


def test_training_shards_roundtrip_and_manifest(spark, tmp_path):
    from impuls_spark.llm.sampling import shard_manifest
    from impuls_spark.sources.corpus import (
        read_training_shards,
        write_training_shards,
    )

    df = _docs(spark)
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=16)
    back = read_training_shards(spark, out)
    assert back.count() == 90
    # written partition counts agree with the manifest's bookkeeping
    man = {r["shard"]: r["n_docs"]
           for r in shard_manifest(df, n_shards=16).collect()}
    got = {r["shard"]: r["count"]
           for r in back.groupBy("shard").count().collect()}
    assert got == man
    # pruning a single shard reaches the scan as a partition filter
    one = read_training_shards(spark, out, shard=sorted(man)[0])
    assert "PartitionFilters: [isnotnull(shard" in _plan_of(one)


def test_training_shards_files_are_sorted_runs(spark, tmp_path):
    from impuls_spark.sources.corpus import write_training_shards

    rows = [(i, f"doc {i}") for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=16, files_per_shard=3)
    for f in glob.glob(out + "/shard=*/*.parquet"):
        keys = [r["shuffle_key"] for r in spark.read.parquet(f).collect()]
        assert keys == sorted(keys), f


def test_training_shards_append_interleaves(spark, tmp_path):
    """An appended batch lands by the same hash law — same shard
    membership as writing everything at once."""
    from impuls_spark.sources.corpus import (
        read_training_shards,
        write_training_shards,
    )

    rows = [(i, f"doc {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out1 = str(tmp_path / "once")
    write_training_shards(df, out1, n_shards=16)
    out2 = str(tmp_path / "twice")
    write_training_shards(df.filter(F.col("doc_id") < 100), out2, n_shards=16)
    write_training_shards(
        df.filter(F.col("doc_id") >= 100), out2, n_shards=16, mode="append"
    )
    a = {(r["doc_id"], r["shard"])
         for r in read_training_shards(spark, out1).collect()}
    b = {(r["doc_id"], r["shard"])
         for r in read_training_shards(spark, out2).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# Per-document takedown over the shard layout (remove_from_shards)


def _shard_of(doc_id, width=1, salt="shard"):
    import hashlib

    return hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:width]


def test_remove_from_shards_prunes_and_preserves_untouched(spark, tmp_path):
    """VERDICT r10 item 1: the takedown rewrites ONLY the shards the
    removed ids hash to — removed rows vanish, survivors (in affected
    and unaffected shards alike) are intact, and every untouched shard
    directory is byte-identical (never opened, never rewritten)."""
    import hashlib
    import os

    from impuls_spark.sources.corpus import (
        read_training_shards,
        remove_from_shards,
        write_training_shards,
    )

    rows = [(i, f"document body {i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=16)

    gone = [7, 8, 23]
    affected = {_shard_of(i) for i in gone}
    untouched_state = {}
    for sd in glob.glob(out + "/shard=*"):
        if sd.rsplit("=", 1)[1] in affected:
            continue
        for f in sorted(glob.glob(sd + "/*.parquet")):
            with open(f, "rb") as fh:
                untouched_state[f] = (
                    os.stat(f).st_mtime_ns,
                    hashlib.md5(fh.read()).hexdigest(),
                )
    assert untouched_state, "fixture must have untouched shards"

    stats = remove_from_shards(spark, out, gone)
    assert stats["shards_total"] == 16
    assert stats["shards_affected"] == len(affected)
    assert stats["rows_before"] - stats["rows_after"] == len(gone)

    back = read_training_shards(spark, out)
    assert back.count() == 300 - len(gone)
    assert back.filter(F.col("doc_id").isin(gone)).count() == 0
    # survivors keep their original shard assignment and shuffle_key
    sample = back.filter(F.col("doc_id") == 9).collect()[0]
    assert sample["shard"] == _shard_of(9)

    # untouched shards: same files, same mtimes, same bytes
    for f, (mt, digest) in untouched_state.items():
        assert os.stat(f).st_mtime_ns == mt, f
        with open(f, "rb") as fh:
            assert hashlib.md5(fh.read()).hexdigest() == digest, f

    # idempotent re-run: no rows change
    stats2 = remove_from_shards(spark, out, gone)
    assert stats2["rows_before"] == stats2["rows_after"] == stats["rows_after"]


def test_remove_from_shards_deletes_emptied_shard(spark, tmp_path):
    """A shard whose every document is removed loses its directory
    (dynamic overwrite only replaces partitions it writes — the delete
    must be explicit or the removed text survives on disk)."""
    import os

    from impuls_spark.sources.corpus import (
        remove_from_shards,
        write_training_shards,
    )

    rows = [(i, f"document body {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=16)

    # remove EVERY id of one shard (computed with the writer's law)
    by_shard = {}
    for i in range(40):
        by_shard.setdefault(_shard_of(i), []).append(i)
    victim, ids = next(
        (s, ids) for s, ids in by_shard.items() if len(ids) >= 2
    )
    stats = remove_from_shards(spark, out, ids)
    assert stats["shards_deleted"] == 1
    assert not os.path.exists(f"{out}/shard={victim}")
    remaining = spark.read.parquet(out)
    assert remaining.filter(F.col("doc_id").isin(ids)).count() == 0
    assert remaining.count() == 40 - len(ids)


def test_remove_from_shards_marker_fail_fast(spark, tmp_path):
    """The run holds a heartbeated root marker: readers fail fast
    while it is held (or after a crash), and a crashed run's marker
    blocks until force sweeps it past the liveness floor."""
    import os
    import time

    import pytest

    from impuls_spark.sources.corpus import (
        read_training_shards,
        remove_from_shards,
        write_training_shards,
    )
    from impuls_spark.streaming.compact import compact_marker_path

    rows = [(i, f"document body {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=16)

    marker = compact_marker_path(out)
    open(marker, "w").close()  # a crashed (or live) takedown
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        read_training_shards(spark, out)
    with pytest.raises(RuntimeError, match="ALIVE"):
        remove_from_shards(spark, out, [1])
    old = time.time() - 120
    os.utime(marker, (old, old))
    stats = remove_from_shards(spark, out, [1], force=True)
    assert stats["rows_before"] - stats["rows_after"] == 1
    assert not os.path.exists(marker)
    assert read_training_shards(spark, out).count() == 39


def test_remove_from_shards_absent_ids_noop(spark, tmp_path):
    from impuls_spark.sources.corpus import (
        remove_from_shards,
        write_training_shards,
    )

    rows = [(i, f"document body {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=16)
    # ids hash to shards, but no row matches: rows_after == rows_before
    stats = remove_from_shards(spark, out, [999999, 888888])
    assert stats["rows_before"] == stats["rows_after"]
    assert spark.read.parquet(out).count() == 20


def test_shards_manifest_pins_layout_law(spark, tmp_path):
    """The writer pins (n_shards, key_col, salt, files_per_shard) in
    {path}/_shards_manifest: remove_from_shards resolves the law from
    it (a custom salt needs no repeating), a mismatched kwarg raises
    instead of silently locating the wrong shards, and an append under
    a different law is refused."""
    import pytest

    from impuls_spark.sources.corpus import (
        remove_from_shards,
        write_training_shards,
    )
    from impuls_spark.tools.rows import read_manifest

    rows = [(i, f"document body {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=16, salt="epoch3")
    assert read_manifest(spark, f"{out}/_shards_manifest") == {
        "n_shards": 16, "key_col": "doc_id", "salt": "epoch3",
        "files_per_shard": 1,
    }

    # manifest-driven: the custom salt is NOT repeated, rows still go
    stats = remove_from_shards(spark, out, [1, 2])
    assert stats["rows_before"] - stats["rows_after"] == 2

    # a wrong salt is refused loudly (it would silently no-op)
    with pytest.raises(ValueError, match="manifest is authoritative"):
        remove_from_shards(spark, out, [3], salt="shard")
    # matching explicit values pass
    remove_from_shards(spark, out, [3], salt="epoch3")

    # appending under a different law is refused; same law is fine
    with pytest.raises(ValueError, match="incompatible shard laws"):
        write_training_shards(
            df.limit(1), out, n_shards=16, salt="other", mode="append"
        )
    write_training_shards(
        spark.createDataFrame([(900, "fresh doc")],
                              "doc_id long, text string"),
        out, n_shards=16, salt="epoch3", mode="append",
    )
    assert spark.read.parquet(out).count() == 58


def test_compact_shards_folds_appends_and_keeps_sorted_runs(
    spark, tmp_path
):
    """compact_shards folds append-accreted files back to the
    manifest's files_per_shard without changing a single row, keeps
    every file a shuffle_key-sorted run, skips already-tight shards,
    and holds the root marker (loaders fail fast mid-pass)."""
    from impuls_spark.sources.corpus import (
        compact_shards,
        read_training_shards,
        write_training_shards,
    )

    rows = [(i, f"document body {i}") for i in range(240)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    write_training_shards(df.filter(F.col("doc_id") < 80), out,
                          n_shards=16)
    for lo, hi in ((80, 160), (160, 240)):  # two appended batches
        write_training_shards(
            df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            out, n_shards=16, mode="append",
        )
    files0 = glob.glob(out + "/shard=*/*.parquet")
    assert len(files0) > 16  # appends accreted
    before = sorted(map(tuple, spark.read.parquet(out).collect()))

    stats = compact_shards(spark, out)
    assert stats["shards_total"] == 16
    assert stats["files_after"] <= 16
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before
    for f in glob.glob(out + "/shard=*/*.parquet"):
        keys = [r["shuffle_key"] for r in spark.read.parquet(f).collect()]
        assert keys == sorted(keys), f
    assert read_training_shards(spark, out).count() == 240

    # a second pass is a no-op: every shard already at budget
    stats2 = compact_shards(spark, out)
    assert stats2["folded"] == 0 and stats2["skipped"] == 16


def test_remove_from_shards_equals_rebuild_over_survivors(spark, tmp_path):
    """Structural oracle, randomized (seeded): for ANY removed id set,
    the post-takedown layout holds exactly the rows a fresh
    write_training_shards over the survivors would produce — same
    (shard, shuffle_key, doc) triples. The takedown is a physical
    identity with the rebuild, at affected-shards cost. With several
    files per shard the rewrite keeps the writer's law: at most
    ``files_per_shard`` files per shard, each a sorted run."""
    import random

    import pyarrow.parquet as pq

    from impuls_spark.sources.corpus import (
        remove_from_shards,
        write_training_shards,
    )

    rows = [(i, f"document body {i}") for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # without AQE's coalescing a shard's file salts spread over the
    # shuffle's tasks, so files_per_shard=3 writes multi-file shards
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        for seed, fps in ((7, 1), (23, 1), (7, 3)):
            rng = random.Random(seed)
            gone = sorted(rng.sample(range(150), rng.randint(3, 40)))
            out = str(tmp_path / f"takedown{seed}_{fps}")
            ref = str(tmp_path / f"rebuild{seed}_{fps}")
            write_training_shards(df, out, n_shards=16, files_per_shard=fps)
            remove_from_shards(spark, out, gone)
            write_training_shards(
                df.filter(~F.col("doc_id").isin(gone)), ref, n_shards=16,
                files_per_shard=fps,
            )
            got = sorted(map(tuple, spark.read.parquet(out).collect()))
            want = sorted(map(tuple, spark.read.parquet(ref).collect()))
            assert got == want, f"seed {seed}: takedown != rebuild"
            files = {d: glob.glob(d + "/*.parquet")
                     for d in glob.glob(out + "/shard=*")}
            assert max(map(len, files.values())) == fps
            for f in sum(files.values(), []):
                keys = pq.read_table(f, columns=["shuffle_key"]).column(
                    "shuffle_key").to_pylist()
                assert keys == sorted(keys), f
    finally:
        spark.conf.set(conf, old)


def test_remove_from_corpus_many_partitions_inset_path(spark, tmp_path):
    """Above _OR_OF_ANDS_MAX affected partitions the takedown predicate
    compiles to ONE InSet over the Spark-computed partition key instead
    of a thousands-term OR chain (the 100 TB shape: a takedown spanning
    every date/lang partition must not blow up the Catalyst expression
    tree). Values, emptied-directory deletion, the null partition, and
    untouched-partition bytes all behave exactly as on the small path."""
    import os

    from impuls_spark.sources import remove_from_corpus
    from impuls_spark.streaming.compact import _OR_OF_ANDS_MAX

    out = str(tmp_path / "corpus")
    langs = [f"l{i:02d}" for i in range(_OR_OF_ANDS_MAX + 3)] + [None]
    rows = [
        (i * 2 + k, f"doc {i} {k}", lang)
        for i, lang in enumerate(langs)
        for k in (0, 1)
    ]
    write_corpus(
        spark.createDataFrame(rows, "doc_id long, text string, lang string"),
        out, partition_by=["lang"],
    )

    # remove one doc from every partition but one (> threshold combos),
    # and BOTH docs from the last two named langs (emptied dirs)
    untouched = langs[0]
    removed = [i * 2 for i, lang in enumerate(langs) if lang != untouched]
    emptied_langs = langs[-3:-1]  # two fully-removed named langs
    removed += [
        i * 2 + 1 for i, lang in enumerate(langs) if lang in emptied_langs
    ]
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(out + f"/lang={untouched}/*.parquet")
    }

    stats = remove_from_corpus(spark, out, removed)
    assert stats["partitions_affected"] == len(langs) - 1
    assert stats["partitions_deleted"] == 2
    for lang in emptied_langs:
        assert not os.path.exists(out + f"/lang={lang}")

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    expect = sorted(set(i for i, _, _ in rows) - set(removed))
    assert got == expect
    # the null partition survived with its odd doc
    assert glob.glob(out + "/lang=__HIVE_DEFAULT_PARTITION__/*.parquet")
    # untouched partition: same files, same bytes (never rewritten)
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(out + f"/lang={untouched}/*.parquet")
    }
    assert after == before


def test_compact_shards_concurrent_matches_sequential(spark, tmp_path):
    """max_concurrent > 1 submits folds from a thread pool (Spark
    schedules concurrent jobs from separate driver threads) — the
    cluster-idle fix for many small sequential folds. Results must be
    identical to the sequential pass: same rows, file budget honored,
    every file still a shuffle_key-sorted run, marker released."""
    import os

    from impuls_spark.sources.corpus import (
        compact_shards,
        write_training_shards,
    )
    from impuls_spark.streaming.compact import compact_marker_path

    rows = [(i, f"document body {i}") for i in range(240)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    write_training_shards(df.filter(F.col("doc_id") < 80), out,
                          n_shards=16)
    for lo, hi in ((80, 160), (160, 240)):
        write_training_shards(
            df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            out, n_shards=16, mode="append",
        )
    before = sorted(map(tuple, spark.read.parquet(out).collect()))

    stats = compact_shards(spark, out, max_concurrent=4)
    assert stats["shards_total"] == 16
    assert stats["files_after"] <= 16
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before
    for f in glob.glob(out + "/shard=*/*.parquet"):
        keys = [r["shuffle_key"] for r in spark.read.parquet(f).collect()]
        assert keys == sorted(keys), f
    assert not os.path.exists(compact_marker_path(out))
    for d in glob.glob(out + "/shard=*"):
        assert not os.path.exists(compact_marker_path(d))
