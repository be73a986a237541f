"""Continuous corpus ingest with dedup — the full write path of a
crawled training corpus, composed from pieces this package already
oracle-gates:

- per micro-batch, arriving documents are classified against the
  ACCEPTED corpus with :func:`impuls_spark.llm.incremental_dedup`
  (``exact`` / ``near`` / ``novel`` — semi-joins against maintained
  hash and MinHash-band index tables, never a rescan of accepted
  text), after an in-batch exact dedup (first id wins);
- only ``novel`` documents land, through the idempotent epoch-
  partitioned corpus writer (:mod:`.sinks`), so a replayed epoch
  re-classifies against the same index state and overwrites its own
  output — no duplicates under at-least-once delivery;
- the index tables themselves live as epoch-partitioned parquet
  sidecars under ``<corpus>/_index/{hashes,bands}`` and are updated
  with the same dynamic-overwrite trick, so index maintenance is
  exactly-once too, and the next batch (or the next run) reads them
  back without restarting anything.

At scale this is the shape d35's docstring promises: the corpus side
of every membership test is a maintained table (~32 B/doc hashes,
n_bands rows/doc band keys), the classification is semi-join-only
(a viral band bucket costs k rows, not k²), and the foreachBatch
boundary is what lets the whole thing stay BATCH semantics per epoch —
no stream-stream joins, no unbounded streaming state.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.dedup import (
    BAND_SCHEMA,
    HASH_SCHEMA,
    _band_keys,
    incremental_dedup,
    minhash_signatures,
)
from ..sources.corpus import write_corpus
from ..tools.concurrency import parallel_writes
from ..tools.rows import empty_df
from .compact import _HadoopFS
from .sinks import EPOCH_COL


def _read_or_empty(
    spark: SparkSession, path: str, schema: str, current_epoch: int
) -> DataFrame:
    """Read an index sidecar, EXCLUDING the current epoch's partition:
    on a crash-replay the epoch's own partial index writes are already
    on disk, and classifying the replayed batch against them would mark
    its documents 'exact' and shrink the epoch's output — the replay
    must see exactly the pre-epoch index state.

    Only missing-or-empty index state maps to an empty frame. Any
    OTHER read failure — corrupt files, permissions, filesystem
    errors — fails the batch loudly: silently classifying against an
    empty index would mark everything 'novel' and permanently land
    duplicates in the corpus (ADVICE r6).

    The read passes an EXPLICIT schema (r8 flake root-cause): an index
    tree whose only landed epoch is EMPTY — a crawl lull, or an
    all-duplicate first micro-batch, which dynamic overwrite records
    as a directory with no parquet files — makes schema INFERENCE
    throw UNABLE_TO_INFER_SCHEMA on every subsequent batch, wedging
    ingest permanently. With the schema supplied, empty trees read as
    empty frames, and genuinely corrupt files still fail the batch
    loudly when the scan executes."""
    full = f"{schema}, {EPOCH_COL} int"
    try:
        df = spark.read.schema(full).parquet(path)
    except AnalysisException as exc:
        cond = ""
        for attr in ("getCondition", "getErrorClass"):
            try:
                cond = getattr(exc, attr)() or ""
                break
            except Exception:
                continue
        if "PATH_NOT_FOUND" in cond or "Path does not exist" in str(exc):
            return empty_df(spark, schema)
        raise
    return df.filter(F.col(EPOCH_COL) != current_epoch).drop(EPOCH_COL)


def _read_manifest(spark: SparkSession, path: str) -> "dict | None":
    """The banding-parameter manifest row at ``path``, or None when no
    manifest has been written (pre-r10 corpora; first start)."""
    import json

    try:
        rows = spark.read.schema("manifest string").parquet(path).collect()
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise
    if not rows:
        return None
    return json.loads(rows[0]["manifest"])


def ingest_with_dedup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 6,
    band_size: int = 2,
    shingle_n: int = 3,
    partition_by=("lang",),
    compact_every: "int | None" = None,
    compact_target_shards: int = 1,
):
    """Start the classify-and-ingest query; returns the StreamingQuery.

    Accepted (novel) documents land under ``path`` (epoch-partitioned,
    idempotent); the hash/band index tables under ``path/_index``.
    Batch-twin note: one epoch of this sink IS
    ``incremental_dedup(batch, ...)`` followed by the corpus write —
    the classification semantics are oracle-gated as d35.

    ``compact_every=N`` folds the accumulated epoch directories (and
    the index sidecars) every N epochs via
    :func:`impuls_spark.streaming.compact.compact_corpus`, bounding
    the small-file growth of a long-running ingest. Only epochs
    STRICTLY BELOW the current one are folded — the current epoch is
    the one that can replay after a crash, and a replay rewrites its
    ``__epoch`` directory wholesale; every earlier epoch has a commit
    marker by the time this batch runs, so folding them is safe.
    """
    hashes_path = f"{path}/_index/hashes"
    bands_path = f"{path}/_index/bands"

    # Pin the banding parameters in the SAME manifest row
    # ``DedupIndex.build`` writes (VERDICT r9 item 2): batch consumers
    # (``DedupIndex.from_stream_index``) validate against it instead of
    # trusting caller-supplied kwargs, and a RESTART of this query with
    # different parameters fails here instead of silently splitting the
    # index across two incompatible bandings (old bands never collide
    # with new signatures — recall degrades with no error anywhere).
    meta = {
        "text_col": text_col, "id_col": id_col, "n_hashes": n_hashes,
        "band_size": band_size, "shingle_n": shingle_n,
    }
    spark = stream.sparkSession
    manifest_path = f"{path}/_index/manifest"
    existing = _read_manifest(spark, manifest_path)
    if existing is not None and "track_ids" in existing:
        # a flat batch-layout manifest (DedupIndex.build writes it —
        # takedown_stream_corpus rebuilds the sidecars that way): its
        # non-epoched artifacts would silently read as EMPTY through
        # this query's epoch-aware reads, landing duplicates forever
        raise ValueError(
            f"the index at {path}/_index is a flat batch DedupIndex "
            "(rebuilt by a takedown or DedupIndex.build), not stream "
            "sidecars — restarting ingest over it would classify "
            "against an apparently-empty index. Serve batch ingest via "
            "DedupIndex.load(...).ingest, or move the flat index aside "
            "to restart streaming from its corpus state"
        )
    if existing is not None and existing != meta:
        # parameters pinned by a start that never ingested anything
        # (e.g. .start() failed on a bad source) may be re-chosen: the
        # manifest only becomes load-bearing once index rows exist
        # under some epoch (ADVICE r10)
        fs = _HadoopFS(spark, path)
        if (fs.count_files(hashes_path) == 0
                and fs.count_files(bands_path) == 0):
            existing = None
        else:
            raise ValueError(
                f"index sidecars at {path}/_index were built with "
                f"{existing}; restarting ingest with {meta} would split "
                "the index across incompatible bandings — pass the "
                "original parameters, or rebuild the corpus index"
            )
    if existing is None:
        import json

        from ..tools.rows import single_row_df

        # JVM-built single row (r14: createDataFrame+coalesce(1) paid
        # ~5 s of Python-worker round-trips per manifest)
        single_row_df(
            spark, "manifest string", json.dumps(meta)
        ).write.mode("overwrite").parquet(manifest_path)

    def _ingest(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # a corpus-root _COMPACTING marker means a takedown is running
        # (or crashed half-way): landing batches now would classify
        # against index state the takedown is replacing, and a restart
        # over a half-filtered corpus would silently resume — fail the
        # batch instead (one NN call per epoch)
        from .compact import check_not_compacting

        check_not_compacting(spark, path, "ingest into")
        # in-batch exact dedup (first id wins), then classify vs corpus
        w_first = batch.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
            F.min(id_col).alias(id_col)
        )
        # the semi-join collapses distinct ids sharing a text; the
        # dropDuplicates collapses replayed rows sharing an id (at-
        # least-once delivery can repeat a row INSIDE one micro-batch,
        # and both copies would otherwise pass the semi-join; ADVICE r6)
        uniq = batch.join(
            w_first.select(id_col), id_col, "left_semi"
        ).dropDuplicates([id_col])
        corpus_hashes = _read_or_empty(
            spark, hashes_path, HASH_SCHEMA, int(epoch_id))
        corpus_bands = _read_or_empty(
            spark, bands_path, BAND_SCHEMA, int(epoch_id))
        status = incremental_dedup(
            uniq, corpus_df=None, text_col=text_col, id_col=id_col,
            n_hashes=n_hashes, band_size=band_size, shingle_n=shingle_n,
            corpus_hashes=corpus_hashes, corpus_bands=corpus_bands,
            # micro-batches are trigger-bounded: broadcast the batch
            # keys instead of exchanging the index tables every epoch
            broadcast_new=True,
        )
        novel = uniq.join(
            status.filter(F.col("status") == "novel").select(id_col),
            id_col, "left_semi",
        ).localCheckpoint(eager=True)  # classify ONCE; feeds 3 writes

        new_hashes = novel.select(
            F.md5(F.col(text_col)).alias("__h")
        ).distinct().withColumn(EPOCH_COL, F.lit(int(epoch_id)))
        new_bands = (
            _band_keys(
                minhash_signatures(novel, text_col, id_col, n_hashes,
                                   shingle_n),
                id_col, n_hashes, band_size,
            )
            .select("band", "key").distinct()
            .withColumn(EPOCH_COL, F.lit(int(epoch_id)))
        )
        # epoch files key-sorted + bloomed (constant partition value,
        # so the local sort survives the writer's partition re-sort):
        # later batches' pushed-down probe keys prune these files too.
        # All three writes derive from the checkpointed `novel` and
        # target disjoint dirs — overlap them (guide §2.6) so the
        # epoch pays the slowest write, not the sum
        from ..llm.probe import key_bloom

        def _epoch_write(df, p, key):
            return lambda: key_bloom(
                df.sortWithinPartitions(key)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic"), key,
            ).partitionBy(EPOCH_COL).parquet(p)

        parallel_writes(
            lambda: write_corpus(
                novel.withColumn(EPOCH_COL, F.lit(int(epoch_id))), path,
                partition_by=(EPOCH_COL, *partition_by),
                sort_by=(id_col,),
                mode="overwrite", dynamic_overwrite=True,
            ),
            _epoch_write(new_hashes, hashes_path, "__h"),
            _epoch_write(new_bands, bands_path, "key"),
        )
        # epoch over: free this batch's checkpoint blocks NOW instead
        # of pinning ~2 batch-sized RDDs per epoch until Python GC
        # (guide §5; the d74-class churn VERDICT r14 flagged). Every
        # consumer above has fully evaluated.
        from ..tools.checkpoints import free_local_checkpoint

        free_local_checkpoint(novel, status)

        if (
            compact_every
            and epoch_id > 0
            and int(epoch_id) % int(compact_every) == 0
        ):
            from .compact import compact_corpus

            compact_corpus(
                spark, path, int(epoch_id) - 1, id_col=id_col,
                partition_by=partition_by, sort_by=(id_col,),
                target_shards=compact_target_shards,
            )

    return (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def takedown_stream_corpus(
    spark: SparkSession,
    corpus_path: str,
    ids,
    checkpoint: "str | None" = None,
    assume_stopped: bool = False,
    partition_by=("lang",),
    text_col: "str | None" = None,
    id_col: "str | None" = None,
    n_hashes: "int | None" = None,
    band_size: "int | None" = None,
    shingle_n: "int | None" = None,
    force: bool = False,
    stale_after_sec: float = 3600.0,
) -> dict:
    """Per-document takedown on a STREAMING corpus — the operator form
    of the manual procedure ``DedupIndex.from_stream_index`` used to
    document (stop ingest → filter corpus → rebuild index), in one
    marker-guarded run:

    1. **Verify the ingest query is stopped.** With ``checkpoint``,
       the commit watermark is read before and re-read after the run —
       an in-flight epoch (a landed ``__epoch`` directory above the
       watermark) or a watermark that MOVED during the run raises
       (concurrently landing batches would classify against index
       state this run is about to replace). Without a checkpoint the
       caller must assert ``assume_stopped=True`` explicitly.
    2. **Filter the corpus, partition-pruned.** One column-pruned scan
       of the id column locates the ``(__epoch, *partition_by)``
       partitions that actually hold removed documents; ONLY those
       directories are rewritten (dynamic partition overwrite, the
       same staged-commit the ingest sink uses) and partitions left
       empty are deleted. Untouched partitions are never opened.
    3. **Rebuild the index sidecars as a flat batch
       ``DedupIndex`` with ``track_ids=True``** over the retained
       corpus — removed hashes/bands vanish (their content becomes
       re-acceptable unless a survivor shares it), and the NEXT
       takedown is a cheap ``DedupIndex.remove`` instead of a rebuild.
       ``from_stream_index`` transparently serves the flat layout;
       RESTARTING the streaming query over it is refused by
       ``ingest_with_dedup`` (the flat artifacts would read as empty
       through its epoch-aware reads) — resume streaming only after
       moving the flat index aside or re-ingesting.

    Banding parameters come from the sidecar manifest; the kwargs are
    only the pre-manifest fallback, as in ``from_stream_index``.

    Crash safety: heartbeated ``_COMPACTING`` markers are held at the
    corpus root AND the ``_index`` root for the whole run, so corpus
    readers (``read_corpus``, ``read_training_shards``) and index
    consumers (``classify``/``load``) fail fast mid-run or after a
    crash; a ``force=True`` re-run converges (the anti-join filter and
    the wholesale index rebuild are both idempotent)."""
    from contextlib import ExitStack

    from ..llm.dedup import DedupIndex
    from .compact import (
        _epoch_dirs,
        _takedown_partitions,
        last_committed_epoch,
        maintenance,
    )

    # -- 1. stopped-query verification --------------------------------
    watermark = None
    if checkpoint is not None:
        watermark = last_committed_epoch(checkpoint)
        in_flight = [
            e for e in _epoch_dirs(corpus_path)
            if watermark is None or e > watermark
        ]
        if in_flight:
            raise RuntimeError(
                f"epoch(s) {sorted(in_flight)} are landed above the "
                f"checkpoint's commit watermark ({watermark}) — the "
                "ingest query appears ACTIVE (or crashed mid-epoch and "
                "will replay on restart); stop it before takedown"
            )
    elif not assume_stopped:
        raise ValueError(
            "pass checkpoint= so the commit watermark can prove the "
            "ingest query is stopped, or assert assume_stopped=True "
            "explicitly"
        )

    # -- banding parameters: manifest-authoritative ---------------------
    manifest = _read_manifest(spark, f"{corpus_path}/_index/manifest")
    passed = {
        "text_col": text_col, "id_col": id_col, "n_hashes": n_hashes,
        "band_size": band_size, "shingle_n": shingle_n,
    }
    if manifest is not None:
        meta = {k: manifest[k] for k in passed if k in manifest}
    else:
        defaults = {
            "text_col": "text", "id_col": "doc_id", "n_hashes": 6,
            "band_size": 2, "shingle_n": 3,
        }
        meta = {
            k: (v if v is not None else defaults[k])
            for k, v in passed.items()
        }
    key = meta["id_col"]
    with maintenance(spark, corpus_path, stale_after_sec, force) as m, \
            ExitStack() as index_scope:
        # the _index root holds its own marker for the whole run; it is
        # taken second, so its refusal is this run's and leaves the
        # corpus marker clean
        m.guard(index_scope.enter_context, maintenance(
            spark, f"{corpus_path}/_index", stale_after_sec, force))
        # landed-epoch snapshot for the CLOSING re-check (1b), taken
        # UNDER both markers immediately before the scan lists files: a
        # batch already mid-write when the markers were taken can land
        # an epoch dir without moving the watermark until its commit
        # file is written, so the close compares directories, not just
        # watermarks — works in assume_stopped mode too (ADVICE r12
        # twin). Snapshotting here (not before the leases) keeps
        # epochs that landed pre-lease — which the scan below reads and
        # the rewrite covers — from tripping the close as false
        # positives.
        landed_before = set(_epoch_dirs(corpus_path))
        # -- 2. partition-pruned corpus filter -------------------------
        stats = _takedown_partitions(
            m, ids, [EPOCH_COL, *partition_by], key, (key,)
        )
        # -- 3. flat tracked index rebuild over the retained corpus ----
        # (raw read, not read_corpus: this run HOLDS the corpus marker
        # read_corpus fails fast on; listing is post-rewrite by order)
        retained = spark.read.parquet(corpus_path)
        if EPOCH_COL in retained.columns:
            retained = retained.drop(EPOCH_COL)
        DedupIndex.build(
            retained, f"{corpus_path}/_index",
            text_col=meta["text_col"], id_col=key,
            n_hashes=meta["n_hashes"], band_size=meta["band_size"],
            shingle_n=meta["shingle_n"], track_ids=True,
        )
        # -- 1b. closing re-verification, still under both markers ----
        # directories first: an epoch landed by a batch that was
        # mid-write when the markers were taken escaped the rewrite and
        # the rebuilt index doesn't cover it — the watermark alone
        # misses it until the commit file lands (ADVICE r12 twin)
        new_epochs = set(_epoch_dirs(corpus_path)) - landed_before
        if new_epochs:
            raise RuntimeError(
                f"epoch(s) {sorted(new_epochs)} landed during takedown "
                "(an ingest batch was mid-write when it started): the "
                "filtered corpus and rebuilt index do not cover them — "
                "stop the query and re-run with force=True"
            )
        if checkpoint is not None:
            now = last_committed_epoch(checkpoint)
            if now != watermark:
                raise RuntimeError(
                    f"the ingest checkpoint's commit watermark moved "
                    f"during takedown ({watermark} -> {now}): batches "
                    "landed concurrently and the rebuilt index may not "
                    "cover them — stop the query and re-run with "
                    "force=True"
                )
    return {
        "corpus": stats,
        "index": {"rebuilt": True, "track_ids": True},
        "epoch_watermark": watermark,
    }


def restore_stream_index_layout(
    spark: SparkSession,
    corpus_path: str,
    *,
    force: bool = False,
    stale_after_sec: float = 3600.0,
) -> dict:
    """Convert the FLAT tracked index a takedown leaves under
    ``{corpus}/_index`` back into the stream-sidecar epoch layout, so
    ``ingest_with_dedup`` can RESTART over the retained corpus — the
    missing half of the streaming takedown story (takedown → restore →
    resume).

    The restored hash/band state lands in an ``__epoch=-1`` partition:
    Spark epoch ids start at 0 and a replayed epoch rewrites only its
    OWN partition (dynamic overwrite), so -1 can never be clobbered —
    the restore is therefore safe whether the query resumes its
    ORIGINAL checkpoint (epochs continue above the watermark) or
    starts a FRESH one (epochs restart at 0; the source replays, every
    replayed document classifies as a duplicate of the restored state,
    and nothing re-lands). The provenance column is dropped (epoch
    sidecars are untracked — the NEXT takedown runs
    ``takedown_stream_corpus`` again) and the manifest is rewritten to
    the stream form, so the restart's banding equality check passes.

    Holds the ``_index`` root marker for the run; a crash leaves it,
    classify/restart fail fast, and a re-run converges (the rewrite is
    wholesale) — pass ``force=True`` (after confirming the crashed run
    is dead) to sweep its marker inside the ``stale_after_sec`` grace
    window, the same recovery contract as every other maintenance
    entry point. Returns ``{hashes, bands}`` restored row counts."""
    import json

    from .compact import maintenance

    index_path = f"{corpus_path}/_index"
    manifest = _read_manifest(spark, f"{index_path}/manifest")
    if manifest is None or "track_ids" not in manifest:
        raise ValueError(
            f"the index at {index_path} is not a flat batch layout "
            "(no takedown rebuilt it) — the stream sidecars are "
            "already in epoch form; nothing to restore"
        )
    from ..llm.dedup import BAND_SCHEMA, HASH_SCHEMA, ID_COL_SUFFIX

    tracked = manifest.get("track_ids", False)
    suffix = ID_COL_SUFFIX if tracked else ""
    counts = {}
    with maintenance(spark, index_path, stale_after_sec, force) as m:
        def _restore_one(name, schema, cols):
            # one artifact's freeze -> count -> rewrite pipeline;
            # hashes and bands are independent DIRS under the one held
            # root marker, so the pipelines overlap (guide §2.6); the
            # manifest rewrite (the completeness marker) still lands
            # strictly last. The checkpoint is load-bearing: the
            # overwrite truncates the very files this plan reads (the
            # recacheByPath/read-then-overwrite hazard) — materialize
            # before writing
            flat = m.checkpoint(
                spark.read.schema(schema).parquet(f"{index_path}/{name}")
                .select(*cols).distinct()
                .withColumn(EPOCH_COL, F.lit(-1))
            )
            counts[name] = flat.count()
            (
                flat.write.mode("overwrite")
                .partitionBy(EPOCH_COL)
                .parquet(f"{index_path}/{name}")
            )

        parallel_writes(
            lambda: _restore_one("hashes", HASH_SCHEMA + suffix, ["__h"]),
            lambda: _restore_one("bands", BAND_SCHEMA + suffix,
                                 ["band", "key"]),
        )
        stream_meta = {
            k: manifest[k]
            for k in ("text_col", "id_col", "n_hashes", "band_size",
                      "shingle_n")
        }
        from ..tools.rows import single_row_df

        single_row_df(
            spark, "manifest string", json.dumps(stream_meta)
        ).write.mode("overwrite").parquet(f"{index_path}/manifest")
    return counts
