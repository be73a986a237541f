"""SaveGTFS — FeedDataset -> GTFS zip / directory of .txt files.

Parity target: ``SaveGTFS`` (reference impuls/tasks/save_gtfs.py:17-84 +
impuls/extern/gtfs/save.rs:168-269). The caller supplies the exact
per-file header list, exactly like the reference; values are produced by
the reverse column mapping (gtfs_schema.py), extra columns come from the
``extra_fields`` map via ``element_at``.

Execution shape: one Spark CSV write job per table, run in parallel
(the reference spawns one OS thread per table, save.rs:174-209; Spark
schedules the same thing across executors). Each table is written
headerless to a directory of part files. The driver then stitches the
files one after another, in the caller's header order: a header line,
then the parts (name order == global sort order after ``orderBy``),
into a zip entry or a plain file. No table ever materializes in driver
memory.

The stitch is sequential because deflating entries in parallel does
not pay: a feed's bytes are ~95% stop_times, and one entry's deflate
stream cannot be split without changing the archive's bytes. Against
a writer that deflated the other entries in a thread pool (4 cores):
at 2.67M stop_times rows (106 MB of CSV) it took 8.15 s vs 9.08-9.31 s
serial, inside that host's ±1.2 s spread
(``plans/r15/measurements/ab_zip_assembly.txt``); on the perfbench
``gtfs_bulk`` feed (seed 7) the median save took 1.10 s sequential vs
1.14 s pooled over 10 pairs, and at 10× that feed 3.63 s vs 4.00 s
over 6 pairs, with identical archives.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import zipfile
from collections.abc import Mapping, Sequence
from functools import partial

from pyspark.sql import functions as F

from .. import schema as S
from ..feed import FeedDataset
from ..tools.concurrency import parallel_writes
from .gtfs_schema import FILE_BY_NAME, GtfsFileSpec


def _gtfs_exprs(spec: GtfsFileSpec, header: Sequence[str]):
    by_gtfs = {c.gtfs: c for c in spec.columns}
    exprs = []
    for name in header:
        col = by_gtfs.get(name)
        if col is not None:
            exprs.append(col.format_expr())
        else:
            # unknown requested column -> extra_fields lookup
            # (reference: json_extract in save.rs:104-108)
            exprs.append(
                F.coalesce(
                    F.element_at(F.col("extra_fields"), name), F.lit("")
                ).alias(name)
            )
    return exprs


def _csv_quote(s: str) -> str:
    if any(ch in s for ch in (",", '"', "\n", "\r")):
        return '"' + s.replace('"', '""') + '"'
    return s


def save_gtfs(
    feed: FeedDataset,
    headers: Mapping[str, Sequence[str]],
    target: str,
    *,
    emit_empty_calendars: bool = False,
    ensure_order: bool = False,
) -> None:
    """Write the tables named in ``headers`` (GTFS file name -> column
    list) to ``target`` (.zip path, or directory if not ending in .zip).

    ``ensure_order`` sorts each file by its PK; ``emit_empty_calendars``
    keeps calendars with no active weekday (otherwise filtered, matching
    the reference's ``WHERE monday OR tuesday OR ...`` — schema.rs:79-80).
    """
    # file name -> header; a key may omit ".txt". Dict order is the
    # caller's order, which is the zip entry order.
    headers = {
        fn if fn.endswith(".txt") else fn + ".txt": header
        for fn, header in headers.items()
    }
    for fname in headers:
        if fname not in FILE_BY_NAME:
            raise KeyError(f"unknown GTFS file: {fname}")
    head = {
        fn: (",".join(_csv_quote(h) for h in header) + "\n").encode()
        for fn, header in headers.items()
    }
    stage = tempfile.mkdtemp(prefix="gtfs_out_")
    try:
        parts_per_file: dict[str, list[str]] = {}

        def _stage_one(fname: str) -> None:
            spec = FILE_BY_NAME[fname]
            df = feed[spec.table]
            if spec.table == "calendars" and not emit_empty_calendars:
                active = (
                    F.col("monday") | F.col("tuesday") | F.col("wednesday")
                    | F.col("thursday") | F.col("friday") | F.col("saturday")
                    | F.col("sunday")
                )
                df = df.filter(active)
            if ensure_order:
                df = df.orderBy(*[F.col(c) for c in spec.order_by or S.TABLES[spec.table].pk])
            part_dir = os.path.join(stage, fname + ".d")
            df.select(*_gtfs_exprs(spec, headers[fname])).write.csv(
                part_dir,
                mode="overwrite",
                header=False,
                quote='"',
                escape='"',
                emptyValue="",
                lineSep="\n",
            )
            # part-file name order == global order after ``orderBy``
            parts_per_file[fname] = sorted(
                glob.glob(os.path.join(part_dir, "part-*"))
            )

        # one CSV write job per table, tables independent: overlap them
        # (optimization guide §2.6) so the feed save pays the slowest
        # table, not the sum of 15+ job tails; the stitch below reads
        # the staged parts after all writes land
        parallel_writes(*[partial(_stage_one, fn) for fn in headers])

        def _emit(dest, fname: str) -> None:
            dest.write(head[fname])
            for p in parts_per_file[fname]:
                with open(p, "rb") as src:
                    shutil.copyfileobj(src, dest)

        if target.endswith(".zip"):
            with zipfile.ZipFile(target, "w", zipfile.ZIP_DEFLATED) as zf:
                for fname in headers:
                    # the entry is the header line PLUS the staged
                    # parts: an entry crossing the limit by less than
                    # the header must still get a zip64 header, or
                    # zipfile raises at close
                    size = len(head[fname]) + sum(
                        os.path.getsize(p) for p in parts_per_file[fname]
                    )
                    with zf.open(
                        fname, "w", force_zip64=size > zipfile.ZIP64_LIMIT
                    ) as dest:
                        _emit(dest, fname)
        else:
            os.makedirs(target, exist_ok=True)
            for fname in headers:
                with open(os.path.join(target, fname), "wb") as dest:
                    _emit(dest, fname)
    finally:
        shutil.rmtree(stage, ignore_errors=True)

