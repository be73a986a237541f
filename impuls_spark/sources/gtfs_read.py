"""LoadGTFS — GTFS zip/directory -> FeedDataset.

The reference's loader is 882 lines of Rust streaming CSV into SQLite in
100k-row transactions (impuls/extern/gtfs/load.rs). The Spark-native
equivalent is a declarative plan: one ``spark.read.csv`` per file with a
typed projection built from the mapping table (gtfs_schema.py); Catalyst
prunes/pushes everything, executors parallelize per file split. There is
no row loop anywhere.

Scale notes: each .txt is read all-string, projected once, and never
collected. Its schema comes from the header row, peeked on the driver
(one line, any file size) and named exactly as Spark's header inference
would name it, so loading a feed plans every read without running a
single Spark job: no inference pass, no header-reading job per file.
``multiLine`` stays False so big files split by byte range across
executors. Line-number surrogate PKs use
``zipWithIndex``-equivalent semantics via ``monotonically_increasing_id``
ordering (stable for a single-file read, where splits are ordered by
byte offset — SURVEY §4.2.4).
"""

from __future__ import annotations

import csv
import os
import shutil
import tempfile
import zipfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .. import schema as S
from ..feed import FeedDataset
from .gtfs_schema import GTFS_FILES, GtfsFileSpec


class MissingGtfsFile(ValueError):
    pass


def _peek_header(path: str) -> list[str]:
    """Read the CSV header row driver-side (one line, any file size);
    an empty file has no columns."""
    with open(path, newline="", encoding="utf-8-sig") as fh:
        return next(csv.reader(fh), [])


def _read_csv(spark: SparkSession, path: str, header: list[str]) -> DataFrame:
    """``path`` read all-string under the column names Spark's own
    header inference gives ``header`` (``CSVUtils.makeSafeHeader``):
    an empty cell becomes ``_c<index>``, and every copy of a duplicate
    name (compared case-insensitively unless ``spark.sql.caseSensitive``)
    gets its index appended. With the schema given, ``header=True``
    only skips the first line, so the read plans without a job."""
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    keys = [h if case_sensitive else h.lower() for h in header]
    dups = {k for k in keys if keys.count(k) > 1}
    names = [
        f"_c{i}" if not h else f"{h}{i}" if k in dups else h
        for i, (h, k) in enumerate(zip(header, keys))
    ]
    schema = StructType([StructField(n, StringType()) for n in names])
    return spark.read.csv(
        path, schema=schema, header=True, quote='"', escape='"', encoding="UTF-8"
    )


def _with_line_numbers(df: DataFrame, col: str) -> DataFrame:
    """1-based file line order (header excluded). Stable for a single
    file: ``monotonically_increasing_id`` is ordered within a partition
    and partition ids follow byte-offset order of the splits.

    Scale note (r7): the global rank over the stamped id runs through
    ``distributed_row_number`` — bucketed, fully parallel — instead of
    a single-partition window. It only runs for surrogate-PK files
    (attributions/fare_rules/transfers/translations/extra files), but
    transfers/translations ARE row-scale in large feeds, the same
    argument that rebuilt Merge's renumbering."""
    from ..operators.ranks import distributed_row_number

    stamped = df.withColumn("__mid", F.monotonically_increasing_id())
    return distributed_row_number(stamped, ["__mid"], col).drop("__mid")


def _align(df: DataFrame, table: str) -> DataFrame:
    """Project to the canonical column order/types of the table spec."""
    spec = S.TABLES[table]
    cols = []
    for f in spec.schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _read_one(
    spark: SparkSession,
    path: str,
    spec: GtfsFileSpec,
    extra_fields: bool,
) -> DataFrame:
    header = _peek_header(path)
    missing_required = [
        c.gtfs for c in spec.columns if c.required and c.gtfs not in header
    ]
    if missing_required:
        # fail fast like the reference loader — NULL primary keys would
        # silently corrupt every downstream FK join
        raise MissingGtfsFile(
            f"{spec.file}: required columns missing: {missing_required}"
        )
    raw = _read_csv(spark, path, header)
    # empty string cells -> NULL (one convention everywhere; SURVEY §1.3)
    raw = raw.select(
        *[F.nullif(F.col(c), F.lit("")).alias(c) for c in raw.columns]
    )

    known_gtfs = {c.gtfs for c in spec.columns}
    exprs = [c.parse_expr(present=c.gtfs in header) for c in spec.columns]

    unknown = [c for c in header if c not in known_gtfs]
    if extra_fields and unknown:
        # unrecognized columns -> extra_fields map (only non-NULL cells),
        # reference: extra_fields_mixin.py:8-55
        entries = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in unknown]),
                F.array(*[F.col(c) for c in unknown]),
            ),
            lambda _, v: v.isNotNull(),
        )
        exprs.append(entries.alias("extra_fields"))

    out = raw.select(*exprs)
    if spec.line_number_pk:
        # surrogate id defaults to the CSV line number — both when the
        # column is absent AND per-cell when a present column has empty
        # cells (reference FallbackValue::LineNum fills each empty cell,
        # load.rs:333-346)
        pk = spec.line_number_pk
        kind = next(c.kind for c in spec.columns if c.internal == pk)
        pk_type = "long" if kind == "long" else "string"
        out = _with_line_numbers(out, "__line__")
        out = out.withColumn(
            pk, F.coalesce(F.col(pk), F.col("__line__").cast(pk_type))
        ).drop("__line__")
    return _align(out, spec.table)


def _implied_parent_rows(
    spark: SparkSession, feed_tables: dict[str, DataFrame], spec: GtfsFileSpec
) -> DataFrame | None:
    """Child rows imply missing parent rows (shapes.txt -> shapes,
    calendar_dates.txt -> calendars); reference table.rs:20-26."""
    if spec.implied_parent is None:
        return None
    parent, id_col = spec.implied_parent
    child = feed_tables.get(spec.table)
    if child is None:
        return None
    ids = child.select(F.col(id_col)).distinct()
    existing = feed_tables.get(parent)
    if existing is not None:
        ids = ids.join(existing.select(id_col), on=id_col, how="left_anti")
    if parent == "shapes":
        return _align(ids, "shapes")
    if parent == "calendars":
        # implied calendars: no weekdays active, sentinel dates -> defined
        # purely by exceptions (schema.rs:241-245)
        df = ids
        for day in ("monday", "tuesday", "wednesday", "thursday", "friday",
                    "saturday", "sunday"):
            df = df.withColumn(day, F.lit(False))
        df = df.withColumn("start_date", F.lit(str(S.SIGNALS_EXCEPTIONS)).cast("date"))
        df = df.withColumn("end_date", F.lit(str(S.SIGNALS_EXCEPTIONS)).cast("date"))
        return _align(df, "calendars")
    raise AssertionError(parent)


def _extra_table_rows(
    spark: SparkSession, dir_path: str, files: Iterable[str]
) -> DataFrame:
    """Unknown files -> the generic extra_table_rows escape hatch
    (reference: load_gtfs.py:31-88, extra_table_row.py:40-45).
    ``table_name`` keeps the name exactly as provided (including any
    extension, per the reference's documented contract)."""
    out: DataFrame | None = None
    for file_ix, fname in enumerate(files):
        path = os.path.join(dir_path, fname)
        header = _peek_header(path)
        raw = _read_csv(spark, path, header)
        fields = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in header]),
                F.array(*[F.nullif(F.col(c), F.lit("")) for c in header]),
            ),
            lambda _, v: v.isNotNull(),
        )
        df = raw.select(
            F.lit(fname).alias("table_name"),
            fields.alias("fields"),
        )
        df = _with_line_numbers(df, "row_sort_order")
        # surrogate PK must be unique ACROSS files: offset by file index
        df = df.withColumn(
            "extra_table_row_id",
            F.col("row_sort_order") + F.lit(file_ix * 1_000_000_000).cast("long"),
        )
        out = df if out is None else out.unionByName(df)
    if out is None:
        return None  # type: ignore[return-value]
    return _align(out, "extra_table_rows")


def load_gtfs(
    spark: SparkSession,
    source: str,
    *,
    extra_fields: bool = False,
    extra_files: Iterable[str] | None = None,
    workspace: str | None = None,
) -> FeedDataset:
    """Load a GTFS feed (zip file or directory of .txt) into a FeedDataset.

    Parity target: ``LoadGTFS`` (reference impuls/tasks/load_gtfs.py:31-88).
    ``extra_fields`` keeps unrecognized columns in the per-row map;
    ``extra_files`` names additional .txt files to load into
    ``extra_table_rows``.
    """
    if os.path.isfile(source) and zipfile.is_zipfile(source):
        target = tempfile.mkdtemp(prefix="gtfs_", dir=workspace)
        with zipfile.ZipFile(source) as zf:
            zf.extractall(target)
        dir_path = target
        # lazy DataFrames read these files later, so deletion is only
        # safe at interpreter exit — register cleanup instead of leaking
        # one extracted feed copy per load (the reference uses a scoped
        # TemporaryDirectory; our lifetime is the Spark session's)
        import atexit

        atexit.register(shutil.rmtree, target, ignore_errors=True)
    else:
        dir_path = source

    present = {f for f in os.listdir(dir_path) if f.endswith(".txt")}
    for spec in GTFS_FILES:
        if spec.required and spec.file not in present:
            raise MissingGtfsFile(f"required GTFS file missing: {spec.file}")

    tables: dict[str, DataFrame] = {}
    for spec in GTFS_FILES:
        if spec.file in present:
            tables[spec.table] = _read_one(
                spark, os.path.join(dir_path, spec.file), spec, extra_fields
            )

    # parent implication (shapes, exception-only calendars)
    for spec in GTFS_FILES:
        implied = _implied_parent_rows(spark, tables, spec)
        if implied is not None:
            parent = spec.implied_parent[0]  # type: ignore[index]
            if parent in tables:
                tables[parent] = tables[parent].unionByName(implied)
            else:
                tables[parent] = implied

    if extra_files:
        # names are used verbatim (any extension); a requested file
        # that is absent is an error, not a silent skip
        wanted = list(extra_files)
        all_files = set(os.listdir(dir_path))
        absent = [f for f in wanted if f not in all_files]
        if absent:
            raise MissingGtfsFile(f"extra_files not in feed: {absent}")
        tables["extra_table_rows"] = _extra_table_rows(spark, dir_path, wanted)

    feed = FeedDataset.empty(spark)
    return feed.with_tables(tables)
