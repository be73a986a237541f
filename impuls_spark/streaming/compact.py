"""Corpus compaction for continuous ingest (VERDICT r6 item 4).

The idempotent streaming sink lands ONE ``__epoch=N`` partition
directory per micro-batch (``sinks.stream_to_corpus`` /
``ingest.ingest_with_dedup``), which is exactly right for replay
safety and exactly wrong for long-running ingest: a corpus ingesting
for months accumulates unbounded epoch directories of small files, and
every batch reader pays the listing + open cost. This operator folds
all committed epochs up to a watermark into the single highest epoch
partition, re-sharded to ``target_shards`` files per hive partition.

Contract:

- **Only compact committed epochs.** ``upto_epoch`` must be at most the
  last epoch the streaming checkpoint has COMMITTED (query stopped, or
  strictly below the in-flight epoch): a replay of epoch E rewrites the
  ``__epoch=E`` directory wholesale, so folding other epochs' rows into
  a replayable partition would lose them. :func:`last_committed_epoch`
  reads the bound from the checkpoint.
- **First-arrival preserved, restartable by construction.** Per id the
  MIN-epoch row wins (ties broken by a full-row hash). On a clean
  corpus this is the identity — the ingest dedup already guarantees one
  row per id — but it is what makes a crashed compaction converge: a
  re-run that sees a row both in its old epoch dir and in the compacted
  target keeps exactly one, the first-arrival one.
- The write is Spark's dynamic partition overwrite into the target
  epoch (staged-and-committed per directory); only after it commits are
  the emptied lower-epoch directories deleted. A crash between the two
  leaves duplicates that the next run (or the min-epoch rule in any
  consumer) collapses — never data loss.
- The ``_index/{hashes,bands}`` sidecars compact with the same rule
  (min epoch per key), so ``ingest._read_or_empty``'s
  exclude-current-epoch replay semantics still hold: compacted state
  lives at an epoch <= the watermark, and only uncommitted epochs can
  ever replay.

Directory maintenance goes through the Hadoop FileSystem API of the
active session's JVM (VERDICT r7 item 4), so the same code maintains
``file://``, ``s3a://``, ``gs://`` or ``hdfs://`` layouts — whatever
filesystem the corpus path resolves to is the one listed and deleted;
the Spark plan side was always storage-agnostic.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tools.checkpoints import free_local_checkpoint
from ..tools.concurrency import parallel_writes
from ..tools.rows import empty_df
from .sinks import EPOCH_COL

_EPOCH_DIR_RE = re.compile(rf"^{re.escape(EPOCH_COL)}=(\d+)$")


class _HadoopFS:
    """Thin wrapper over ``org.apache.hadoop.fs.FileSystem`` resolved
    from a path's scheme (the session's Hadoop conf supplies
    credentials/endpoints for object stores). Listing returns path
    STRINGS (scheme-qualified URIs) so every downstream call round-trips
    through ``Path(str)`` on any store."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self._root = self._jvm.org.apache.hadoop.fs.Path(path)
        self._fs = self._root.getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def is_dir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory())

    def list_dirs(self, path: str) -> "list[tuple[str, str]]":
        """(name, full path) of child DIRECTORIES; [] when absent."""
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return [
            (st.getPath().getName(), st.getPath().toString())
            for st in self._fs.listStatus(p)
            if st.isDirectory()
        ]

    def list_names(self, path: str) -> "list[str]":
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)]

    def count_files(self, path: str, suffix: str = ".parquet") -> int:
        p = self._p(path)
        if not self._fs.exists(p):
            return 0
        n = 0
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            name = it.next().getPath().getName()
            if name.endswith(suffix) and not name.startswith((".", "_")):
                n += 1
        return n

    def delete(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self._p(src), self._p(dst)))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def create_new(self, path: str) -> bool:
        """Atomic create-if-absent (``FileSystem.createNewFile``):
        False when the file already exists. Atomic on HDFS and local;
        object stores give create-then-check semantics — best effort,
        which is the standard marker discipline there too."""
        return bool(self._fs.createNewFile(self._p(path)))

    def mtime(self, path: str) -> float:
        """Modification time, seconds since epoch."""
        return self._fs.getFileStatus(self._p(path)).getModificationTime() / 1000.0

    def touch(self, path: str) -> None:
        """Refresh an existing file's modification time to now
        (``FileSystem.setTimes``) — the marker heartbeat primitive."""
        import time

        self._fs.setTimes(self._p(path), int(time.time() * 1000), -1)


def _active_fs(path: str) -> _HadoopFS:
    # getActiveSession is THREAD-local; callers like foreachBatch or
    # StreamingQueryListener callbacks run on other threads, so fall
    # back to the process-wide default session before giving up
    spark = SparkSession.getActiveSession()
    if spark is None:
        try:
            spark = SparkSession.active()
        except Exception:
            spark = None
    if spark is None:
        raise RuntimeError(
            "corpus compaction needs a SparkSession (active or default "
            "in this process): directory maintenance runs through the "
            "session JVM's Hadoop FileSystem client"
        )
    return _HadoopFS(spark, path)


#: Marker file a flat-dir compaction holds for its whole run (it
#: starts with "_" so Spark's parquet reader ignores it). Its presence
#: means "maintenance in progress OR a crashed run left the directory
#: with possible duplicate rows" — writers (``DedupIndex.ingest``,
#: ``AnnIndex.append``) and duplicate-sensitive readers
#: (``AnnIndex.load``) fail fast on it instead of racing the
#: move/delete window silently (VERDICT r9 item 5).
COMPACT_MARKER = "_COMPACTING"


def compact_marker_path(path: str) -> str:
    return f"{path.rstrip('/')}/{COMPACT_MARKER}"


def check_not_compacting(spark: SparkSession, path: str,
                         action: str = "use") -> None:
    """Raise if ``path`` carries a :data:`COMPACT_MARKER` — either a
    compaction is running right now, or one crashed mid-fold and the
    directory may hold duplicate rows until a re-run completes. Not a
    lock: a compaction STARTING after this check still races an
    already-planned write (run maintenance without concurrent writers,
    like any VACUUM) — but the marker turns the common cadence
    mistakes into errors instead of silent corruption."""
    fs = _HadoopFS(spark, path)
    marker = compact_marker_path(path)
    if fs.exists(marker):
        raise RuntimeError(
            f"cannot {action} {path}: a compaction marker "
            f"({COMPACT_MARKER}) is present — maintenance is in "
            "progress, or a crashed compaction left possible duplicate "
            "rows. Re-run compact to completion (force=True sweeps the "
            "stale marker) before resuming."
        )


#: Cadence at which a RUNNING maintenance job refreshes its marker's
#: mtime. Staleness is therefore LIVENESS, not elapsed wall time: a
#: retrain that runs for six hours keeps its marker ~this fresh the
#: whole way, so a concurrent ``force=False`` attempt always sees age
#: << stale_after_sec and refuses — the r10 hazard (age-based sweep of
#: a live long run → two concurrent wholesale rewrites) is gone.
HEARTBEAT_SEC = 15.0

#: A marker fresher than this many heartbeats is treated as LIVE even
#: under ``force=True``: the documented recovery advice ("re-run with
#: force=True") must not let an operator race a still-running fold —
#: force sweeps only a marker whose heartbeat has stopped (ADVICE r10).
_LIVE_HEARTBEATS = 3.0


class _MarkerLease:
    """A held ``_COMPACTING`` marker plus the background thread that
    heartbeats its mtime every ``heartbeat_sec``. Only
    :func:`maintenance` holds one: ``release()`` on CLEAN completion
    (stops the heartbeat, deletes the marker), ``abandon()`` on
    failure — the heartbeat stops so the marker AGES, readers keep
    failing fast, and a later run (or ``force``) can take over once it
    goes stale. An abandoned lease stays abandoned."""

    def __init__(self, fs: _HadoopFS, marker: str,
                 heartbeat_sec: float) -> None:
        import threading

        self._fs = fs
        self.marker = marker
        self._stop = threading.Event()
        self._thread = None
        if heartbeat_sec and heartbeat_sec > 0:
            self._thread = threading.Thread(
                target=self._beat, args=(float(heartbeat_sec),),
                name=f"compact-marker-heartbeat:{marker}", daemon=True,
            )
            self._thread.start()

    def _beat(self, interval: float) -> None:
        while not self._stop.wait(interval):
            try:
                self._fs.touch(self.marker)
            except Exception:
                return  # marker gone or fs unreachable — stop beating

    def abandon(self) -> None:
        """Stop heartbeating, LEAVE the marker (failure path)."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)

    def release(self) -> None:
        """Stop heartbeating and delete the marker (success path);
        a no-op once abandoned."""
        if self._stop.is_set():
            return
        self.abandon()
        self._fs.delete(self.marker)


def _acquire_compact_marker(
    fs: _HadoopFS,
    path: str,
    stale_after_sec: float,
    force: bool,
    heartbeat_sec: float = HEARTBEAT_SEC,
) -> _MarkerLease:
    """Take the ``_COMPACTING`` marker for ``path`` and start its
    heartbeat, for :func:`maintenance` (which owns the lease). An
    existing marker is judged by the age of its LAST HEARTBEAT (a live
    holder touches it every ``heartbeat_sec``):

    - age <= ``_LIVE_HEARTBEATS * heartbeat_sec``: the holder is alive
      right now — refuse even under ``force`` (sweeping it would race
      two staged folds over the same files, the exact corruption the
      marker exists to prevent);
    - age <= ``stale_after_sec`` without ``force``: possibly a crashed
      run still inside the grace window — refuse, tell the operator to
      use ``force=True`` after confirming the prior run is dead;
    - older (or ``force`` past the liveness floor): crashed — sweep
      and take over.

    ``stale_after_sec`` therefore only needs to exceed the heartbeat
    cadence (it is a crash-detection grace period, NOT an upper bound
    on run duration — runs of any length stay live via the
    heartbeat)."""
    import time

    marker = compact_marker_path(path)
    if fs.exists(marker):
        try:
            age = time.time() - fs.mtime(marker)
        except Exception:
            age = None  # deleted between probes (a run just finished)
        if age is not None:
            live_floor = _LIVE_HEARTBEATS * max(heartbeat_sec, 0.0)
            if age <= live_floor:
                raise RuntimeError(
                    f"refusing to sweep {marker}: its heartbeat is "
                    f"{age:.1f}s old (<= liveness floor "
                    f"{live_floor:.1f}s) — the holding run is ALIVE, "
                    "force included; wait for it or kill it first"
                )
            if not force and age <= stale_after_sec:
                raise RuntimeError(
                    f"another compaction holds {marker} (last heartbeat "
                    f"{age:.0f}s ago <= stale_after_sec "
                    f"{stale_after_sec:.0f}); a live run heartbeats its "
                    "marker, so this one likely crashed — re-run with "
                    "force=True (after confirming it is dead) to sweep "
                    "the marker and converge the fold"
                )
            fs.delete(marker)  # heartbeat stopped long ago — take over
    if not fs.create_new(marker):
        raise RuntimeError(
            f"lost the creation race for {marker}: a concurrent "
            "compaction started between the existence check and the "
            "atomic create"
        )
    return _MarkerLease(fs, marker, heartbeat_sec)


class _Scope:
    """One :func:`maintenance` scope: the marker lease it holds or
    borrows and the checkpoints it made. The scope that OWNS the
    marker also records, for every scope borrowing it, whether the run
    has mutated anything yet and which exception was a refusal."""

    def __init__(self, spark, path, stale_after_sec, force, lease, owner):
        self.spark = spark
        self.path = path
        self.stale_after_sec = stale_after_sec
        self.force = force
        self._lease = lease
        self._owner = owner if owner is not None else self
        self._frames: list = []
        self._mutated = False
        self._refusal = None

    def guard(self, check, *args, **kwargs):
        """Run a refusal check and return its result. Call guards
        before the run mutates anything: a guard that raises then ends
        the scope as a REFUSAL — an owned marker is released clean, a
        borrowed one is left to its owner, who releases it in turn
        unless an earlier borrower already mutated."""
        try:
            return check(*args, **kwargs)
        except BaseException as exc:
            if not self._owner._mutated:
                self._owner._refusal = exc
            raise

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint(eager=True)``, freed when the scope
        exits — on success, refusal and failure alike (guide §5). Only
        for frames whose every consumer finishes inside the scope."""
        cp = df.localCheckpoint(eager=True)
        self._frames.append(cp)
        return cp


@contextmanager
def maintenance(
    spark: SparkSession,
    path: str,
    stale_after_sec: float,
    force: bool,
    lease: "_Scope | None" = None,
):
    """The one way maintenance code holds a ``_COMPACTING`` marker or
    a batch checkpoint: ``with maintenance(spark, root, stale_after_sec,
    force) as m:`` takes the marker at ``path`` (see
    :func:`_acquire_compact_marker` for the liveness and ``force``
    rules) and keeps it heartbeated for the block. On exit:

    - success releases the marker;
    - a :meth:`_Scope.guard` refusal (nothing mutated) releases it;
    - any other failure abandons it — the heartbeat stops and the
      marker stays, so readers fail fast until a ``force=True`` re-run
      converges;
    - every ``m.checkpoint(df)`` is freed.

    ``lease=`` borrows the marker of an enclosing scope instead of
    taking one (an operator running as one step of a longer chain
    under the chain's marker): the borrower never releases it — its
    success or failure marks the owner's run as mutated, and a failure
    also abandons the marker, which then stays abandoned."""
    if lease is None:
        held = _acquire_compact_marker(
            _HadoopFS(spark, path), path, stale_after_sec, force
        )
        m = _Scope(spark, path, stale_after_sec, force, held, None)
    else:
        m = _Scope(spark, path, stale_after_sec, force,
                   lease._lease, lease._owner)
    owner = m._owner
    try:
        yield m
    except BaseException as exc:
        if exc is not owner._refusal:
            owner._mutated = True
            m._lease.abandon()
        elif m is owner:
            m._lease.release()
        raise
    else:
        owner._mutated = True
        if m is owner:
            m._lease.release()
    finally:
        free_local_checkpoint(*m._frames)


def _epoch_dirs(path: str, fs: "_HadoopFS | None" = None) -> "dict[int, str]":
    """epoch -> directory path, from the hive layout at ``path``."""
    fs = fs or _active_fs(path)
    out: dict[int, str] = {}
    for name, full in fs.list_dirs(path):
        m = _EPOCH_DIR_RE.match(name)
        if m:
            out[int(m.group(1))] = full
    return out


def last_committed_epoch(checkpoint: str) -> "int | None":
    """Highest epoch id with a commit marker in a streaming checkpoint —
    the safe ``upto_epoch`` bound for :func:`compact_corpus`."""
    fs = _active_fs(checkpoint)
    best: "int | None" = None
    for name in fs.list_names(f"{checkpoint}/commits"):
        if not name.startswith(".") and name.isdigit():
            e = int(name)
            best = e if best is None or e > best else best
    return best


def _first_arrival(df: DataFrame, key_cols: "Sequence[str]") -> DataFrame:
    """One row per key: minimum epoch, full-row-hash tiebreak (total
    order, so re-runs and repartitions pick the same winner)."""
    tie = F.md5(
        F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in sorted(df.columns)]
        )
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col(EPOCH_COL), tie)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _unescape_hive(value: str) -> str:
    """Reverse Spark's partition-path escaping (percent-encoded)."""
    from urllib.parse import unquote

    return unquote(value)


#: Hive's directory name for a null partition value.
HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"

#: Field separator inside :func:`hive_partition_key` strings (an ASCII
#: unit separator). Spark percent-escapes it in DIRECTORY names but the
#: value itself round-trips through the data columns, so a string
#: partition VALUE can legally contain it — :func:`hive_partition_key`
#: therefore escapes it (and the escape char) inside each value, and
#: :func:`split_partition_key` reverses that, so a malicious value can
#: neither shift the tuple arity nor collide two combos onto one key.
_PARTITION_KEY_SEP = "\x1f"

#: Escape character for the separator inside partition VALUES
#: (``\x1e`` -> ``\x1e0``, ``\x1f`` -> ``\x1e1``; both one-pass
#: reversible in :func:`split_partition_key`).
_PARTITION_KEY_ESC = "\x1e"

#: Above this many partition combos, :func:`partition_membership_pred`
#: switches from OR-of-AND equality terms to one InSet over the
#: partition-key string: a takedown spanning thousands of hive
#: partitions must not compile a thousands-term Catalyst OR chain.
_OR_OF_ANDS_MAX = 64


def hive_partition_key(part_cols: "Sequence[str]"):
    """One string identifying a hive partition combo, computed IN
    SPARK (``cast(col as string)``), so that set membership against
    keys collected from a frame carrying this same expression can
    never disagree with the engine's own value-to-string forms (a
    Python ``str(v)`` differs for booleans, floats, …). References
    only partition columns, so predicates over it stay eligible for
    static partition pruning. Values are separator-escaped (see
    ``_PARTITION_KEY_SEP``); :func:`split_partition_key` restores the
    raw value tuple."""
    def esc(c):
        v = F.col(c).cast("string")
        v = F.regexp_replace(v, _PARTITION_KEY_ESC,
                             _PARTITION_KEY_ESC + "0")
        v = F.regexp_replace(v, _PARTITION_KEY_SEP,
                             _PARTITION_KEY_ESC + "1")
        return F.coalesce(v, F.lit(HIVE_NULL_PART))

    return F.concat_ws(_PARTITION_KEY_SEP, *[esc(c) for c in part_cols])


def split_partition_key(pk: str, part_cols: "Sequence[str]") -> tuple:
    """Reverse :func:`hive_partition_key`: the raw partition value
    STRINGS (the engine's own cast forms, matching hive directory
    names). Fails fast on a wrong-arity split — with escaping in place
    that can only mean the key came from an unescaped (pre-fix) frame
    or a foreign expression."""
    parts = pk.split(_PARTITION_KEY_SEP)
    if len(parts) != len(part_cols):
        raise ValueError(
            f"partition key {pk!r} splits to {len(parts)} fields for "
            f"{len(part_cols)} partition columns {list(part_cols)} — "
            "not a hive_partition_key-produced string"
        )
    return tuple(
        p.replace(_PARTITION_KEY_ESC + "1", _PARTITION_KEY_SEP)
        .replace(_PARTITION_KEY_ESC + "0", _PARTITION_KEY_ESC)
        for p in parts
    )


def partition_membership_pred(
    part_cols: "Sequence[str]",
    combos: "Sequence[tuple]",
    pkeys: "Sequence[str]",
):
    """Predicate selecting exactly the hive partitions in ``combos``
    (raw-value tuples, ``None`` = the null partition), shaped for
    scale: a handful of combos compiles to OR-of-AND equality terms
    (exact ``PartitionFilters`` in explain); many combos compile to a
    single InSet over :func:`hive_partition_key` — O(1) per partition
    at planning time where the OR chain is a Catalyst expression-tree
    blowup. ``pkeys`` are the combos' partition-key strings, collected
    from the same frame the predicate will filter."""
    from functools import reduce
    from operator import and_, or_

    if len(combos) <= _OR_OF_ANDS_MAX:
        return reduce(or_, [
            reduce(and_, [
                F.col(c).isNull() if v is None else (F.col(c) == v)
                for c, v in zip(part_cols, combo)
            ])
            for combo in combos
        ])
    return hive_partition_key(part_cols).isin(list(pkeys))


def _rid_frame(spark: SparkSession, ids) -> DataFrame:
    """Normalize a takedown's ``ids`` (list/tuple or a single-column
    DataFrame) into a distinct single-string-column frame ``__rid`` —
    the shape every takedown kernel joins against. Callers broadcast /
    checkpoint it as their reuse pattern needs.

    A Python list becomes an array-literal explode over
    ``range(0,1,1,1)`` — one JVM partition, zero Python workers,
    map-side ``array_distinct`` instead of a distinct exchange — where
    ``createDataFrame([tuples])`` parallelized a batch-sized constant
    into ``defaultParallelism`` Python-backed partitions (the same
    trap ``tools.rows.single_row_df`` documents; measured r14)."""
    if isinstance(ids, DataFrame):
        return ids.select(
            F.col(ids.columns[0]).cast("string").alias("__rid")
        ).distinct()
    vals = [str(i) for i in ids]
    if not vals:
        return empty_df(spark, "__rid string")
    return spark.range(0, 1, 1, 1).select(
        F.explode(F.array_distinct(F.lit(vals))).alias("__rid")
    )


def _takedown_partitions(
    m: _Scope,
    ids,
    part_cols: "Sequence[str]",
    key_col: str,
    sort_by: "Sequence[str]",
    target_shards: int = 1,
) -> "dict[str, int]":
    """Partition-pruned takedown of ``ids`` from the hive corpus at
    ``m.path`` — the kernel of ``remove_from_corpus`` and
    ``takedown_stream_corpus``. ONE column-pruned scan computes, per
    hive partition combo, the total and removed-row counts (locate and
    before/after bookkeeping fused: with the rewrite's own read, the
    2-scan minimum); ONLY the combos holding removed rows are
    rewritten, by dynamic partition overwrite with the writer's own
    shard/sort law, and combos left empty have their directories
    deleted. Untouched partitions are never opened. Returns
    ``{partitions_affected, partitions_deleted, rows_before,
    rows_after}`` (row counts over the affected partitions only)."""
    from ..sources.corpus import write_corpus

    rid = F.broadcast(m.checkpoint(_rid_frame(m.spark, ids)))
    full = m.spark.read.parquet(m.path)
    hit = full[key_col].cast("string") == rid["__rid"]
    marked = (
        full.join(rid, hit, "left")
        .groupBy(*part_cols)
        .agg(
            F.count("*").alias("__n"),
            F.count(rid["__rid"]).alias("__n_removed"),
        )
        .withColumn("__pkey", hive_partition_key(part_cols))
    )
    per_part = [
        (tuple(row[c] for c in part_cols),
         row["__pkey"], row["__n"], row["__n_removed"])
        for row in marked.collect()
        if row["__n_removed"] > 0
    ]
    stats = {
        "partitions_affected": len(per_part),
        "partitions_deleted": 0,
        "rows_before": sum(n for _, _, n, _ in per_part),
        "rows_after": sum(n - r for _, _, n, r in per_part),
    }
    if per_part:
        pred = partition_membership_pred(
            part_cols,
            [combo for combo, _, _, _ in per_part],
            [pk for _, pk, _, _ in per_part],
        )
        write_corpus(
            full.filter(pred).join(rid, hit, "left_anti"), m.path,
            partition_by=tuple(part_cols), sort_by=tuple(sort_by),
            target_shards=target_shards,
            mode="overwrite", dynamic_overwrite=True,
        )
        # emptied combos as raw value-STRING tuples matching hive
        # directory names: split from the SPARK-side partition key,
        # never str(v)
        emptied = {
            split_partition_key(pk, part_cols)
            for _, pk, n, r in per_part if n == r
        }
        stats["partitions_deleted"] = _delete_leaf_partitions(
            _HadoopFS(m.spark, m.path), m.path, part_cols, emptied
        )
    return stats


def _delete_leaf_partitions(
    fs: _HadoopFS,
    root: str,
    part_cols: "Sequence[str]",
    victims: "set[tuple]",
) -> int:
    """Delete the hive leaf directories whose (unescaped) partition
    value tuples are in ``victims``; parent partition directories left
    childless fold up too. Returns the number of leaves deleted. The
    takedown operators use this after a dynamic partition overwrite,
    which only REPLACES partitions present in its output — a partition
    whose every row was filtered out keeps its old directory (and the
    removed rows) unless deleted explicitly.

    The walk descends ONLY into directories on a victim prefix — a few
    emptied partitions in a corpus of 100k never list the other
    99,99x subtrees (a skipped sibling counts as "remaining", exactly
    like a walked-but-kept one, so parent fold-up is unchanged)."""
    deleted = 0
    prefixes = [
        {v[: d + 1] for v in victims} for d in range(len(part_cols))
    ]

    def walk(dir_path: str, depth: int, prefix: tuple) -> bool:
        nonlocal deleted
        if depth == len(part_cols):
            if prefix in victims:
                fs.delete(dir_path)
                deleted += 1
                return True
            return False
        col = part_cols[depth]
        remaining = False
        for name, sub in fs.list_dirs(dir_path):
            if name.startswith(f"{col}="):
                value = _unescape_hive(name[len(col) + 1:])
                down = prefix + (value,)
                if down in prefixes[depth] and walk(
                    sub, depth + 1, down
                ):
                    # Subtree fully deleted — contributes nothing to
                    # ``remaining``; anything else (skipped sibling or
                    # a walked subtree with survivors) keeps the parent.
                    continue
            remaining = True
        if depth > 0 and not remaining:
            fs.delete(dir_path)
        return not remaining

    if part_cols and victims:
        walk(root, 0, ())
    return deleted


def _sweep_stale_partitions(
    fs: _HadoopFS,
    dest_dir: str,
    partition_by: "Sequence[str]",
    valid: "set[tuple]",
) -> None:
    """Remove dest-epoch partition dirs whose values are absent from
    the folded output: dynamic overwrite only REPLACES partitions it
    writes, so when an id's first-arrival copy lives in an earlier
    epoch under a different partition value, the dest epoch's stale
    directory would otherwise keep a duplicate of that id."""
    def walk(dir_path: str, depth: int, prefix: tuple) -> None:
        if depth == len(partition_by):
            if prefix not in valid:
                fs.delete(dir_path)
            return
        col = partition_by[depth]
        for name, sub in fs.list_dirs(dir_path):
            if name.startswith(f"{col}="):
                value = _unescape_hive(name[len(col) + 1:])
                walk(sub, depth + 1, prefix + (value,))

    if partition_by:
        walk(dest_dir, 0, ())


def _compact_tree(
    spark: SparkSession,
    path: str,
    upto_epoch: int,
    key_cols: "Sequence[str]",
    partition_by: "Sequence[str]",
    sort_by: "Sequence[str]",
    target_shards: int,
) -> "dict[str, int]":
    from ..sources.corpus import write_corpus

    fs = _HadoopFS(spark, path)
    dirs = _epoch_dirs(path, fs)
    targets = {e: d for e, d in dirs.items() if e <= upto_epoch}
    if not targets:
        return {"epochs": 0, "files_before": 0, "files_after": 0}
    dest_epoch = max(targets)
    files_before = sum(fs.count_files(d) for d in targets.values())

    df = spark.read.parquet(path).filter(F.col(EPOCH_COL) <= upto_epoch)
    folded = _first_arrival(df, key_cols).withColumn(
        EPOCH_COL, F.lit(dest_epoch)
    )
    if partition_by:
        # computed BEFORE the overwrite mutates the inputs; a
        # partition-values-only projection over the folded plan. The
        # SPARK-side key expression, never str(v): hive directory
        # names use the engine's cast forms (str(True) != "true").
        valid = {
            split_partition_key(row["__pkey"], partition_by)
            for row in folded.select(
                hive_partition_key(list(partition_by)).alias("__pkey")
            ).distinct().collect()
        }
    write_corpus(
        folded, path,
        partition_by=(EPOCH_COL, *partition_by),
        sort_by=tuple(sort_by) or tuple(key_cols),
        target_shards=target_shards,
        mode="overwrite", dynamic_overwrite=True,
    )
    if partition_by:
        _sweep_stale_partitions(fs, targets[dest_epoch], partition_by, valid)
    for e, d in targets.items():
        if e != dest_epoch:
            fs.delete(d)
    files_after = fs.count_files(targets[dest_epoch])
    return {
        "epochs": len(targets),
        "files_before": files_before,
        "files_after": files_after,
    }


def compact_corpus(
    spark: SparkSession,
    path: str,
    upto_epoch: int,
    id_col: str = "doc_id",
    partition_by: Sequence[str] = ("lang",),
    sort_by: Sequence[str] = ("doc_id",),
    target_shards: int = 1,
    compact_index: bool = True,
) -> "dict[str, dict[str, int]]":
    """Fold every ``__epoch <= upto_epoch`` partition of the corpus at
    ``path`` (and, with ``compact_index``, its ``_index`` sidecars)
    into the highest such epoch's directory, bounded at
    ``target_shards`` files per hive partition. Returns per-tree
    ``{epochs, files_before, files_after}`` stats. See the module
    docstring for the commit-watermark precondition."""
    # corpus tree and the two index sidecar trees are independent
    # directory trees — overlap their fold pipelines (optimization
    # guide §2.6) so the maintenance pass pays the slowest tree
    stats: "dict[str, dict[str, int]]" = {}

    def _fold_tree(label, p, keys, part_by, sort):
        stats[label] = _compact_tree(
            spark, p, upto_epoch, keys, part_by, sort, target_shards,
        )

    jobs = [lambda: _fold_tree(
        "corpus", path, [id_col], partition_by, sort_by)]
    if compact_index:
        fs = _HadoopFS(spark, path)
        for name, keys in (("hashes", ["__h"]), ("bands", ["band", "key"])):
            p = f"{path}/_index/{name}"
            if fs.is_dir(p):
                jobs.append(lambda _n=name, _p=p, _k=keys: _fold_tree(
                    _n, _p, _k, (), _k))
    parallel_writes(*jobs)
    return stats


def compact_flat_dir(
    spark: SparkSession,
    path: str,
    schema: str,
    key_cols: Sequence[str],
    target_shards: int = 1,
    stale_after_sec: float = 3600.0,
    force: bool = False,
    transform=None,
    sort_within: "Sequence[str] | None" = None,
    cluster_by: "Sequence[str] | None" = None,
) -> "dict[str, int]":
    """Fold a FLAT parquet directory that accretes one small file per
    append (the ``DedupIndex.ingest`` shape — no epoch partitions to
    swap) into ``target_shards`` files.

    ONLY valid when a transient extra copy of a row is harmless:
    membership SETS consumed through semi-joins (index hashes/band
    buckets — an extra copy changes nothing), or tables whose rows are
    a DETERMINISTIC function of the key (AnnIndex cells/codes — every
    copy is byte-identical, so the keyed fold is lossless), maintained
    without concurrent readers. That tolerance buys a crash-safe order
    with NO data-loss window:

    1. write the deduped fold to a sibling staging dir;
    2. MOVE the staged files in (readers briefly see rows twice —
       harmless by precondition);
    3. delete the old files, then the staging dir.

    A crash leaves either extra duplicates (step 3 unfinished — the
    next compact folds them) or an orphan staging dir (step 2
    unfinished — swept here before staging). Readers holding frames
    created BEFORE the compact may hit deleted files on late
    collection — run maintenance without concurrent stale handles,
    like any VACUUM.

    The whole run holds a :data:`COMPACT_MARKER` in ``path``
    (create-fail-fast, so a second maintenance run errors instead of
    racing; writers and duplicate-sensitive readers honor it via
    :func:`check_not_compacting`), HEARTBEATED every
    :data:`HEARTBEAT_SEC` so a run of any length stays distinguishable
    from a crash. The marker is released only on a COMPLETE pass —
    after a crash or error its heartbeat stops and it stays, failing
    those callers fast until a re-run converges the fold; sweep it by
    re-running with ``force=True`` once the marker has aged past the
    liveness floor (``stale_after_sec`` is the no-force crash grace,
    not a run-length bound)."""
    from pyspark.sql import Observation

    fs = _HadoopFS(spark, path)
    with maintenance(spark, path, stale_after_sec, force):
        files_before = fs.count_files(path)
        # the few-files fast path must not skip a row-level rewrite:
        # with a transform the fold IS the operation (e.g.
        # DedupIndex.remove's anti-join), not just file maintenance
        if transform is None and files_before <= max(target_shards, 1):
            return {"files_before": files_before,
                    "files_after": files_before, "skipped": 1}
        # the staging dir hides behind a leading dot: parquet partition
        # discovery and directory listings ignore dot-dirs, so a
        # crashed fold's orphan can never surface as data (a bare
        # `shard=ab.compacting` sibling WOULD parse as a partition
        # value under a hive root like the training-shard layout)
        head, _, tail = path.rstrip("/").rpartition("/")
        staging = f"{head}/.{tail}.compacting"
        fs.delete(staging)  # orphan from a crashed previous run
        fs.delete(path.rstrip("/") + ".compacting")  # pre-r11 orphan name
        # row counts ride the fold job itself as observed metrics
        # (guide §1/§2.4 — remove whole jobs): callers that report
        # rows_before/rows_after (DedupIndex.remove, AnnIndex.remove)
        # previously paid a full artifact count() scan before AND
        # after the fold — two extra O(index) reads per artifact whose
        # only product was a stats dict. The input observation sits on
        # the raw scan (counted once, in the map stage of the dedup
        # exchange — the range-bounds sampling re-reads only the
        # shuffle output above it); the output observation sits ABOVE
        # the range exchange so the bounds-sampling pass cannot
        # double-count it.
        obs_in, obs_out = Observation(), Observation()
        folded = spark.read.schema(schema).parquet(path).observe(
            obs_in, F.count(F.lit(1)).alias("rows")
        )
        if transform is not None:
            # row-level rewrite hook, applied before the keyed fold;
            # must be idempotent (a crashed run's re-run applies it
            # again over old-plus-staged rows) — an anti-join delete is
            folded = transform(folded)
        folded = folded.dropDuplicates(list(key_cols))
        if cluster_by:
            # probe-key locality (VERDICT r11 'what's wrong #2'): range
            # partitioning gives each output file a DISJOINT key range
            # and the local sort makes every row group a tight span, so
            # a pushed-down In predicate over a bounded batch's keys
            # reads O(batch) row groups instead of the whole artifact —
            # measured ~flat probe cost when the artifact grows 10x
            folded = folded.repartitionByRange(
                max(target_shards, 1), *[F.col(c) for c in cluster_by]
            )
            local_sort = list(cluster_by) + [
                c for c in (sort_within or []) if c not in cluster_by
            ]
        else:
            folded = folded.repartition(max(target_shards, 1))
            # layouts whose files are sorted runs (training shards:
            # shuffle_key order) must come out of the fold still sorted
            local_sort = list(sort_within or [])
        if local_sort:
            folded = folded.sortWithinPartitions(
                *[F.col(c) for c in local_sort]
            )
        folded = folded.observe(obs_out, F.count(F.lit(1)).alias("rows"))
        writer = folded.write.mode("overwrite")
        if cluster_by:
            from ..llm.probe import key_bloom

            writer = key_bloom(writer, *cluster_by)
        writer.parquet(staging)

        old = [n for n in fs.list_names(path)
               if n.endswith(".parquet") and not n.startswith((".", "_"))]
        moved = 0
        for name in fs.list_names(staging):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                if not fs.rename(f"{staging}/{name}",
                                 f"{path}/compacted-{name}"):
                    raise RuntimeError(
                        f"compact_flat_dir: rename of {staging}/{name} "
                        f"into {path} failed — staging left in place, "
                        "directory unchanged plus any already-moved "
                        "duplicates (safe)"
                    )
                moved += 1
        for name in old:
            fs.delete(f"{path}/{name}")
        fs.delete(staging)
    return {"files_before": files_before, "files_after": moved,
            "skipped": 0,
            "rows_before": int(obs_in.get["rows"]),
            "rows_after": int(obs_out.get["rows"])}


def fold_artifacts(m: _Scope, specs: dict) -> "dict[str, dict[str, int]]":
    """Rewrite the independent artifact dirs ``{m.path}/{name}`` of one
    maintained root, each through :func:`compact_flat_dir` (its own
    per-dir marker and staged fold) under the scope's root marker.
    ``specs`` maps ``name -> (ddl, keys, transform, cluster_by)``.
    The folds overlap (guide §2.6), so the run pays the slowest fold
    instead of the sum; any crash state converges through a
    ``force=True`` re-run — the root marker, not the fold order, is
    the recovery contract. Returns the per-artifact fold stats."""
    stats: dict = {}

    def fold(name, ddl, keys, transform, cluster_by):
        stats[name] = compact_flat_dir(
            m.spark, f"{m.path}/{name}", ddl, keys, force=m.force,
            stale_after_sec=m.stale_after_sec, transform=transform,
            cluster_by=cluster_by,
        )

    parallel_writes(*[
        lambda _n=name, _s=spec: fold(_n, *_s)
        for name, spec in specs.items()
    ])
    return stats
