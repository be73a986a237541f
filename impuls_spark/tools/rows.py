"""Driver-side constant rows, built JVM-side (optimization guide §5:
the driver should do almost no data work — and neither should the
Python workers for a constant)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


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
