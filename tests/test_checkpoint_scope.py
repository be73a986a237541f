"""The one checkpoint lifetime (``tools.checkpoints.checkpoints``): a
scope frees every checkpoint it made on every exit except the ones it
keeps, and the engine code that checkpoints transient frames goes
through it."""

from __future__ import annotations

import ast
import gc
import os

import pytest
from pyspark.sql import functions as F

import impuls_spark
from impuls_spark.tools.checkpoints import (
    checkpoint_rdd,
    checkpoints,
    free_local_checkpoint,
)
from impuls_spark.tools.concurrency import parallel_writes


def _persistent_ids(spark) -> set:
    # ids, not a count: a dead checkpoint of an earlier test that the
    # ContextCleaner unpersists during this one would shift a count
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _frame(spark, n=20):
    return spark.range(n).select("id", (F.col("id") * 2).alias("x"))


def test_scope_frees_on_normal_exit(spark):
    before = _persistent_ids(spark)
    with checkpoints() as cps:
        a = cps.checkpoint(_frame(spark))
        b = cps.checkpoint(_frame(spark), eager=False)
        assert {checkpoint_rdd(a).id(), checkpoint_rdd(b).id()} <= (
            _persistent_ids(spark) - before)
    assert not _persistent_ids(spark) - before


def test_scope_frees_on_exception(spark):
    before = _persistent_ids(spark)
    with pytest.raises(OSError, match="write failed"):
        with checkpoints() as cps:
            cps.checkpoint(_frame(spark))
            cps.checkpoint(_frame(spark, 30)).select("x").count()
            assert len(_persistent_ids(spark) - before) == 2
            raise OSError("write failed")
    assert not _persistent_ids(spark) - before


def test_kept_frames_survive_the_exit(spark):
    """A kept checkpoint and a kept plain column selection of another
    one stay pinned and readable after the scope exits; the rest are
    freed."""
    before = _persistent_ids(spark)
    with checkpoints() as cps:
        whole = cps.checkpoint(_frame(spark))
        part = cps.checkpoint(_frame(spark, 30)).select("x")
        cps.checkpoint(_frame(spark, 40))
        cps.keep(whole)
        cps.keep(part)
    kept = {checkpoint_rdd(whole).id(),
            checkpoint_rdd(part, selected=True).id()}
    assert _persistent_ids(spark) - before == kept
    assert whole.count() == 20 and part.count() == 30
    free_local_checkpoint(whole, part)
    assert not _persistent_ids(spark) - before


def test_keep_of_a_lazy_frame_keeps_nothing(spark):
    before = _persistent_ids(spark)
    with checkpoints() as cps:
        cps.keep(cps.checkpoint(_frame(spark)).select(
            (F.col("x") + 1).alias("y")))
    assert not _persistent_ids(spark) - before


def test_checkpoints_from_parallel_threads_are_all_freed(spark):
    """Both branches of a ``parallel_writes`` checkpoint into one scope
    (as the classify kernel's hash and band branches do); the scope
    frees every one of them."""
    before = _persistent_ids(spark)
    made = []
    with checkpoints() as cps:
        def branch(n):
            for i in range(3):
                made.append(cps.checkpoint(_frame(spark, n + i)))

        parallel_writes(lambda: branch(10), lambda: branch(20))
        assert len(_persistent_ids(spark) - before) == 6
    assert len(made) == 6
    assert not _persistent_ids(spark) - before


def test_duplicate_clusters_pins_only_its_result(spark):
    """Label propagation over a 40-edge chain checkpoints the edges and
    every round's labels; only the checkpoint the result reads stays
    pinned, and the result still reads after a Python and a JVM GC
    (nothing else it needs was freed)."""
    from impuls_spark.llm.dedup import duplicate_clusters

    pairs = spark.range(40).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    before = _persistent_ids(spark)
    clusters = duplicate_clusters(pairs)
    added = _persistent_ids(spark) - before
    assert len(added) == 1, added
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    rows = clusters.collect()
    assert len(rows) == 41
    assert {r["doc_id"] for r in rows} == set(range(41))
    assert all(r["cluster_id"] <= r["doc_id"] for r in rows)
    for rdd_id in added:
        spark.sparkContext._jsc.getPersistentRDDs().get(rdd_id).unpersist(
            False)


def test_failed_vector_ingest_write_pins_nothing(spark, tmp_path,
                                                 monkeypatch):
    """A streaming vector micro-batch whose epoch write fails frees its
    batch checkpoint before the error ends the query."""
    from impuls_spark.llm import AnnIndex
    from impuls_spark.streaming import ann_ingest, ingest_vectors

    dim = 8

    def vectors(lo, hi):
        return spark.createDataFrame(
            [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(dim)])
             for i in range(lo, hi)],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "ann")
    AnnIndex.build(vectors(0, 20), vectors(0, 4), dim=dim, m=4,
                   pq_k=4).save(path)
    src = tmp_path / "src"
    batch = vectors(20, 40)
    batch.write.parquet(str(src / "b0"))

    def fail(df, path, *keys, **kw):
        raise OSError("epoch write failed")

    monkeypatch.setattr(ann_ingest, "write_keyed", fail)
    before = _persistent_ids(spark)
    stream = spark.readStream.schema(batch.schema).parquet(str(src) + "/*")
    q = ingest_vectors(stream, path, str(tmp_path / "ck"))
    with pytest.raises(Exception, match="epoch write failed"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    assert _persistent_ids(spark) <= before


def _direct_calls(tree: ast.AST, lazy_too: bool) -> "list[tuple[int, str]]":
    """(line, call) of each ``free_local_checkpoint(...)`` call and each
    ``.localCheckpoint(...)`` call that asks for an eager checkpoint (or,
    with ``lazy_too``, any ``.localCheckpoint(...)`` call)."""
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(
            f, "id", None)
        if name == "free_local_checkpoint":
            out.append((node.lineno, name))
        elif name == "localCheckpoint" and isinstance(f, ast.Attribute):
            eager = [k.value for k in node.keywords if k.arg == "eager"]
            eager += node.args[:1]
            if lazy_too or not eager or not (
                    isinstance(eager[0], ast.Constant)
                    and eager[0].value is False):
                out.append((node.lineno, name))
    return out


@pytest.mark.parametrize("target", [
    "llm", "streaming", "operators", "pipeline.py", "feed.py",
    "multi_file.py",
])
def test_no_hand_paired_checkpoints(target):
    """Engine code takes its checkpoints through a ``checkpoints()``
    scope (directly, as a ``maintenance`` scope's ``m.checkpoint``, or
    as a pipeline run's ``runtime.checkpoints``): it never calls
    ``free_local_checkpoint`` or makes an eager ``localCheckpoint``
    itself. The GTFS operators, the pipeline, the feed barrier and
    MultiFile make no ``localCheckpoint`` call at all, lazy or eager."""
    path = os.path.join(os.path.dirname(impuls_spark.__file__), target)
    paths = [path] if target.endswith(".py") else [
        os.path.join(dirpath, name)
        for dirpath, _, files in os.walk(path)
        for name in sorted(files) if name.endswith(".py")
    ]
    found = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), p)
        found += [(os.path.relpath(p, path), *c) for c in _direct_calls(
            tree, lazy_too=target not in ("llm", "streaming"))]
    assert not found, found


def test_no_unused_module_imports():
    """Every name a package module imports at module level occurs as a
    whole word somewhere else in that module (code, a quoted
    annotation or a docstring). ``__init__.py`` files re-export their
    imports and ``__future__`` imports bind nothing, so both are
    skipped."""
    import re

    root = os.path.dirname(impuls_spark.__file__)
    unused = []
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if not name.endswith(".py") or name == "__init__.py":
                continue
            p = os.path.join(dirpath, name)
            with open(p, encoding="utf-8") as fh:
                src = fh.read()
            lines = src.splitlines()
            for node in ast.parse(src, p).body:
                if not isinstance(node, (ast.Import, ast.ImportFrom)) or (
                        getattr(node, "module", None) == "__future__"):
                    continue
                rest = "\n".join(lines[:node.lineno - 1]
                                 + lines[node.end_lineno:])
                for alias in node.names:
                    bound = alias.asname or alias.name.split(".")[0]
                    if not re.search(rf"\b{re.escape(bound)}\b", rest):
                        unused.append((os.path.relpath(p, root), bound))
    assert not unused, unused
