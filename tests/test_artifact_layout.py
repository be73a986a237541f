"""The on-disk contract of every index-artifact writer: each parquet
file is sorted on its probe key and every row group carries a parquet
bloom filter on that key (``probe.write_keyed``), and the one-row
manifest round-trips through ``tools.rows``."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from impuls_spark.llm import AnnIndex
from impuls_spark.llm.dedup import DedupIndex
from impuls_spark.streaming import ingest_vectors, ingest_with_dedup
from impuls_spark.tools.rows import read_manifest, read_or_empty, write_manifest

DIM = 8


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"document number {i} with words " + " ".join(
            f"w{i}x{j}" for j in range(10)), "en")
         for i in range(lo, hi)],
        "doc_id long, text string, lang string",
    )


def _vectors(spark, lo, hi):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(DIM)])
         for i in range(lo, hi)],
        "vec_id long, embedding array<float>",
    )


def _files(d):
    """Data files under ``d``: hidden and ``_``-prefixed entries are
    skipped, ``__epoch=N`` partition directories are not."""
    return {
        f for f in glob.glob(f"{d}/**/*.parquet", recursive=True)
        if not any(p.startswith(".") or (p.startswith("_") and "=" not in p)
                   for p in os.path.relpath(f, d).split(os.sep))
    }


def _run_stream(spark, sink, src, df, *args):
    df.write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(df.schema).parquet(str(src) + "/*")
    q = sink(stream, *args)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)


def _saved_ann(spark, path):
    AnnIndex.build(
        _vectors(spark, 0, 40), _vectors(spark, 0, 4), dim=DIM, m=4, pq_k=4
    ).save(path)


# Each writer returns {artifact dir: probe key} and the files it wrote
# (those present afterwards that were not there before it ran).


def _dedup_build(spark, tmp):
    path = str(tmp / "idx")
    DedupIndex.build(_docs(spark, 0, 60), path, target_shards=2)
    return path, {"hashes": "__h", "bands": "key"}, None


def _dedup_ingest(spark, tmp):
    path, dirs, _ = _dedup_build(spark, tmp)
    return path, dirs, lambda: DedupIndex.load(spark, path).ingest(
        _docs(spark, 50, 90), broadcast_new=True
    )


def _dedup_compact(spark, tmp):
    path, dirs, ingest = _dedup_ingest(spark, tmp)
    ingest()
    return path, dirs, lambda: DedupIndex.load(spark, path).compact(2)


def _ann_save(spark, tmp):
    path = str(tmp / "ann")
    _saved_ann(spark, path)
    return path, {"cells": "vec_id", "pq_codes": "vec_id"}, None


def _ann_append(spark, tmp):
    path, dirs, _ = _ann_save(spark, tmp)
    return path, dirs, lambda: AnnIndex.load(
        spark, path, _vectors(spark, 0, 40)
    ).append(_vectors(spark, 40, 70), path=path)


def _ann_retrain(spark, tmp):
    path, dirs, _ = _ann_save(spark, tmp)
    return path, dirs, lambda: AnnIndex.load(
        spark, path, _vectors(spark, 0, 40)
    ).retrain(path=path, target_shards=2)


def _dedup_stream(spark, tmp):
    out = str(tmp / "corpus")
    return out, {"_index/hashes": "__h", "_index/bands": "key"}, (
        lambda: _run_stream(spark, ingest_with_dedup, tmp / "src",
                            _docs(spark, 0, 40), out, str(tmp / "ck"))
    )


def _ann_stream(spark, tmp):
    path, _, _ = _ann_save(spark, tmp)
    return path, {"stream/cells": "vec_id", "stream/pq_codes": "vec_id"}, (
        lambda: _run_stream(spark, ingest_vectors, tmp / "src",
                            _vectors(spark, 30, 70), path, str(tmp / "ck"))
    )


_WRITERS = {
    "DedupIndex.build": _dedup_build,
    "DedupIndex.ingest": _dedup_ingest,
    "DedupIndex.compact": _dedup_compact,
    "AnnIndex.save": _ann_save,
    "AnnIndex.append": _ann_append,
    "AnnIndex.retrain": _ann_retrain,
    "ingest_with_dedup": _dedup_stream,
    "ingest_vectors": _ann_stream,
}


def _bloom_offsets(spark, f, key):
    """The bloom-filter offset of ``key``'s column chunk in each row
    group of ``f``, from the parquet footer (-1 when absent)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path("file://" + f), conf
        )
    )
    try:
        return [
            col.getBloomFilterOffset()
            for block in reader.getFooter().getBlocks()
            for col in block.getColumns()
            if col.getPath().toDotString() == key
        ]
    finally:
        reader.close()


@pytest.mark.parametrize("writer", list(_WRITERS))
def test_artifact_files_are_key_sorted_with_bloom(spark, tmp_path, writer):
    path, dirs, write = _WRITERS[writer](spark, tmp_path)
    before = {d: _files(f"{path}/{d}") for d in dirs}
    if write is not None:
        write()
    for d, key in dirs.items():
        written = _files(f"{path}/{d}") - before[d]
        if write is None:
            written = before[d]
        rows = 0
        for f in sorted(written):
            vals = pq.read_table(f, columns=[key]).column(key).to_pylist()
            assert vals == sorted(vals), f
            offsets = _bloom_offsets(spark, f, key)
            assert len(offsets) == pq.ParquetFile(f).num_row_groups, f
            assert all(o >= 0 for o in offsets), (f, offsets)
            rows += len(vals)
        assert rows > 0, f"{writer} wrote no {d} rows"


def test_small_append_blooms_are_sized_to_the_rows(spark, tmp_path):
    """A bloom without an expected NDV is sized at its 1 MiB maximum;
    the adaptive writer sizes it to the distinct keys it saw, so a
    40-doc ingest appends files of kilobytes that still carry a bloom
    in every row group."""
    path, dirs, ingest = _dedup_ingest(spark, tmp_path)
    before = {d: _files(f"{path}/{d}") for d in dirs}
    ingest()
    for d, key in dirs.items():
        written = _files(f"{path}/{d}") - before[d]
        assert written, d
        for f in written:
            assert os.path.getsize(f) < 256 * 1024, (f, os.path.getsize(f))
            offsets = _bloom_offsets(spark, f, key)
            assert offsets and all(o >= 0 for o in offsets), (f, offsets)


def test_manifest_round_trip(spark, tmp_path):
    path = str(tmp_path / "manifest")
    assert read_manifest(spark, path) is None
    with pytest.raises(FileNotFoundError):
        read_manifest(spark, path, required=True)
    meta = {"n_hashes": 6, "text_col": "text", "track_ids": True,
            "capacity": {"n_cells": 4}, "codes_ddl": None}
    write_manifest(spark, path, meta)
    assert read_manifest(spark, path) == meta
    # the form manifests were written in before the JVM-built row
    legacy = {"dim": 64, "id_col": "vec_id"}
    spark.createDataFrame(
        [(json.dumps(legacy),)], "manifest string"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    assert read_manifest(spark, path) == legacy


def test_read_or_empty_missing_path_runs_no_read(spark, tmp_path,
                                                 monkeypatch):
    """A missing path is found missing before any read: no parquet read
    is planned, so Spark never fails one (and never logs its trace)."""
    from pyspark.sql import DataFrameReader

    calls = []
    real = DataFrameReader.parquet

    def counting(self, *paths, **options):
        calls.append(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    df = read_or_empty(spark, str(tmp_path / "nope"), "k string, n int")
    assert calls == []
    assert df.columns == ["k", "n"] and df.count() == 0

    spark.range(3).selectExpr(
        "cast(id as string) k", "cast(id as int) n"
    ).write.parquet(str(tmp_path / "present"))
    assert read_or_empty(spark, str(tmp_path / "present"),
                         "k string, n int").count() == 3
    assert len(calls) == 1
