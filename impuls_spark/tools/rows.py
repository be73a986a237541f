"""Driver-side constant rows, built JVM-side (optimization guide §5:
the driver should do almost no data work — and neither should the
Python workers for a constant), and the artifact-dir reads built on
them: a missing parquet path as an empty frame, the one-row JSON
manifest every index and shard layout carries, and the file listing a
read was planned over."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

#: schema of the one-row JSON manifest of an artifact layout
_MANIFEST_DDL = "manifest string"


def empty_df(spark, schema: "StructType | str") -> DataFrame:
    """Zero-row frame of ``schema`` (a ``StructType``, nullability kept
    exactly, or a DDL string), built as a JVM-side ``LocalRelation``.

    ``spark.createDataFrame`` of no rows plans a Python-backed
    ``LogicalRDD``: Catalyst cannot see that it is empty, so every
    action over it runs a Python-worker job, and a join against it
    re-runs the other side's whole lineage to produce no rows. An empty
    ``LocalRelation`` is visible to the optimizer:
    ``PropagateEmptyRelation`` folds the joins and filters over it
    into another empty ``LocalRelation``, which no job has to compute."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    jschema = spark._jsparkSession.parseDataType(schema.json())
    jrows = spark._jvm.java.util.ArrayList()
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema), spark)


def single_row_df(spark, ddl: str, *values) -> DataFrame:
    """One-row frame of constant ``values`` typed by ``ddl``, built as
    ``range(1) + lit(...)`` so it never leaves the JVM.

    ``spark.createDataFrame([tuple], ddl)`` parallelizes the row into
    ``defaultParallelism`` Python-backed partitions; a ``coalesce(1)``
    write of that frame then evaluates every parent partition in ONE
    task — ~32 sequential Python-worker round-trips for one constant
    row, measured 4.7-8.6 s per manifest write at local[32] (r14).
    The range form plans a single JVM partition and writes in ~0.1 s;
    the stored bytes are the same one-row parquet."""
    from pyspark.sql import functions as F

    fields = StructType.fromDDL(ddl).fields
    if len(fields) != len(values):
        raise ValueError(
            f"{len(fields)} fields in {ddl!r} but {len(values)} values"
        )
    # a value/type mismatch under lit().cast() would write a silent
    # NULL where createDataFrame raised (ADVICE r14) — validate the
    # Python types against the parsed fields first
    _OK = {
        "string": str, "boolean": bool, "binary": (bytes, bytearray),
        "tinyint": int, "smallint": int, "int": int, "bigint": int,
        "float": (int, float), "double": (int, float),
    }
    for f, v in zip(fields, values):
        if v is None:
            continue
        want = _OK.get(f.dataType.simpleString())
        if want is None:
            continue  # exotic types keep the cast's own semantics
        if not isinstance(v, want) or (
            want is int and isinstance(v, bool)
        ):
            raise TypeError(
                f"single_row_df: field {f.name!r} is "
                f"{f.dataType.simpleString()} but got "
                f"{type(v).__name__} {v!r} — lit().cast() would write "
                "a silent NULL"
            )
    return spark.range(0, 1, 1, 1).select(*[
        F.lit(v).cast(f.dataType).alias(f.name)
        for f, v in zip(fields, values)
    ])


def read_or_empty(spark, path: str, ddl: str) -> DataFrame:
    """``path`` read as parquet with the explicit schema ``ddl``, or an
    empty frame of ``ddl`` when the path does not exist (a sidecar
    before its first epoch, a layout before its first manifest).

    Only a missing path maps to empty: corrupt files, permissions and
    filesystem errors still fail, so a caller never silently reads a
    broken index as an empty one. The schema is explicit because a
    tree whose only files are empty partition directories (a dynamic
    overwrite of zero rows) makes inference throw
    UNABLE_TO_INFER_SCHEMA, while an explicit schema reads it as zero
    rows. A missing path is found by asking the filesystem, not by
    failing a read, which Spark would log with a stack trace."""
    from ..streaming.compact import _HadoopFS

    if not _HadoopFS(spark, path).exists(path):
        return empty_df(spark, ddl)
    return spark.read.schema(ddl).parquet(path)


def listed_files(df: DataFrame) -> "tuple[str, ...]":
    """The files that the file index of ``df``, a bare file-source read
    (``spark.read.parquet(path)``), listed when the frame was built:
    one sorted ``FileStatus`` text (path, length, modification time)
    per file. It is the state a plan over ``df`` reads; the directory
    is not listed again. It costs the same 6 Py4J round trips whatever
    the file count (``df.inputFiles()`` costs one per file)."""
    files = df._jdf.queryExecution().analyzed().relation().location()
    return tuple(sorted(files.allFiles().mkString("\n").splitlines()))


def write_manifest(spark, path: str, meta: dict) -> None:
    """Overwrite the one-row JSON manifest at ``path``. Writers land it
    after their artifacts, so its presence marks a complete layout."""
    single_row_df(spark, _MANIFEST_DDL, json.dumps(meta)).write.mode(
        "overwrite"
    ).parquet(path)


def read_manifest(spark, path: str, required: bool = False) -> "dict | None":
    """The manifest dict at ``path``; ``None`` when none was written
    (a layout from before its manifest existed), or
    ``FileNotFoundError`` with ``required``. Reads with an explicit
    schema, so no schema-inference job runs."""
    rows = read_or_empty(spark, path, _MANIFEST_DDL).collect()
    if rows:
        return json.loads(rows[0]["manifest"])
    if required:
        raise FileNotFoundError(f"no manifest at {path}")
    return None


def manifest_params(manifest: "dict | None", passed: dict, defaults: dict,
                    where: str, why: str) -> dict:
    """Layout parameters with the ``manifest`` authoritative: its
    values when one exists, where any explicitly ``passed`` value that
    differs raises ``ValueError`` (``where`` names the manifest,
    ``why`` says what the mismatch would silently break); without one
    (a layout written before its manifest existed), the ``passed``
    values with ``defaults`` for those left ``None``."""
    if manifest is None:
        return {k: defaults[k] if v is None else v
                for k, v in passed.items()}
    clash = {
        k: f"passed {v!r} != manifest {manifest[k]!r}"
        for k, v in passed.items()
        if v is not None and k in manifest and v != manifest[k]
    }
    if clash:
        raise ValueError(
            f"parameters disagree with the manifest at {where}: {clash} "
            f"— {why}; drop the kwargs (the manifest is authoritative)"
        )
    return dict(manifest)
