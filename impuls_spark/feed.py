"""FeedDataset — the immutable unit of data flowing through a pipeline.

The reference's unit is one SQLite database holding 17 tables
(impuls/db.py:145-205); ours is an immutable mapping of the same 17
logical tables to lazy DataFrames. Operators are pure
``FeedDataset -> FeedDataset`` functions; nothing is materialized until
a sink action runs, so Catalyst optimizes the whole pipeline as one DAG.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schema as S
from .tools.checkpoints import checkpoint_rdd
from .tools.concurrency import parallel_writes
from .tools.rows import empty_df


class FeedDataset(Mapping[str, DataFrame]):
    """Immutable mapping of table name -> DataFrame for one feed.

    Replaces the reference's ``DBConnection`` "dumb ORM" surface
    (impuls/db.py:148-149): ``retrieve_all`` is the DataFrame itself,
    ``create_many`` is :meth:`insert`, ``update_many`` is
    :meth:`upsert`, DELETE is ``with_table(name, df.filter(~p))``.
    """

    __slots__ = ("_tables", "spark")

    def __init__(self, spark: SparkSession, tables: Mapping[str, DataFrame]):
        unknown = set(tables) - set(S.TABLES)
        if unknown:
            raise KeyError(f"unknown feed tables: {sorted(unknown)}")
        self.spark = spark
        self._tables = dict(tables)

    # -- construction -------------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession) -> "FeedDataset":
        """A feed with all 17 tables present and empty (typed). Each is
        an empty ``LocalRelation`` (:func:`~.tools.rows.empty_df`), so an
        absent table costs no job and folds out of the joins over it."""
        return cls(
            spark,
            {name: empty_df(spark, spec.schema) for name, spec in S.TABLES.items()},
        )

    # -- Mapping protocol ---------------------------------------------

    def __getitem__(self, name: str) -> DataFrame:
        return self._tables[name]

    def __iter__(self) -> Iterator[str]:
        return iter(self._tables)

    def __len__(self) -> int:
        return len(self._tables)

    # -- functional updates -------------------------------------------

    def with_table(self, name: str, df: DataFrame) -> "FeedDataset":
        if name not in S.TABLES:
            raise KeyError(name)
        out = dict(self._tables)
        out[name] = df
        return FeedDataset(self.spark, out)

    def with_tables(self, updates: Mapping[str, DataFrame]) -> "FeedDataset":
        out = dict(self._tables)
        for name, df in updates.items():
            if name not in S.TABLES:
                raise KeyError(name)
            out[name] = df
        return FeedDataset(self.spark, out)

    def insert(self, name: str, rows_df: DataFrame) -> "FeedDataset":
        """``create_many`` analog: append rows (reference impuls/db.py:420-426)."""
        return self.with_table(name, self[name].unionByName(rows_df, allowMissingColumns=True))

    def update(self, name: str, rows_df: DataFrame) -> "FeedDataset":
        """``update_many`` analog (reference impuls/db.py:435-441):
        rewrite rows matching ``rows_df`` by PK; rows with unknown PKs
        are **no-ops**, exactly like ``UPDATE ... WHERE pk = ?``
        matching nothing."""
        pk = list(S.TABLES[name].pk)
        base = self[name]
        matched = rows_df.join(base.select(*pk), on=pk, how="left_semi")
        kept = base.join(matched.select(*pk), on=pk, how="left_anti")
        return self.with_table(name, kept.unionByName(matched, allowMissingColumns=True))

    def upsert(self, name: str, rows_df: DataFrame) -> "FeedDataset":
        """Replace rows matching ``rows_df`` by PK, keep the rest,
        append new keys (INSERT OR REPLACE shape). NOT the
        ``update_many`` analog — that is :meth:`update`, which ignores
        unknown keys."""
        pk = list(S.TABLES[name].pk)
        base = self[name]
        kept = base.join(rows_df.select(*pk), on=pk, how="left_anti")
        return self.with_table(name, kept.unionByName(rows_df, allowMissingColumns=True))

    def delete_where(self, name: str, predicate) -> "FeedDataset":
        """DELETE FROM name WHERE predicate."""
        return self.with_table(name, self[name].filter(~predicate))

    # -- SQL interop ---------------------------------------------------

    def register_views(self, suffix: str = "") -> None:
        """Register every table as a temp view (``ExecuteSQL`` parity —
        reference SQL statements run unmodified via ``spark.sql``)."""
        for name, df in self._tables.items():
            df.createOrReplaceTempView(name + suffix)

    # -- maintenance ----------------------------------------------------

    def cascade_delete(self, root: str, kept_df: DataFrame) -> "FeedDataset":
        """Replace table ``root`` with ``kept_df`` and propagate deletes
        down the static FK graph — the explicit analog of SQLite's
        ``ON DELETE CASCADE`` (reference: PRAGMA foreign_keys at
        impuls/db.py:210 + the DDL CASCADE clauses).

        Children are pruned with a left-semi join against the surviving
        parent keys; NULL FK values survive (a NULL FK references
        nothing). Traversal is breadth-first over the 16-edge graph, so
        e.g. dropping trips prunes stop_times and frequencies.
        """
        feed = self.with_table(root, kept_df)
        frontier = [root]
        seen: set[tuple[str, str]] = set()
        while frontier:
            parent = frontier.pop()
            parent_df = feed[parent]
            for fk in S.children_of(parent):
                edge = (fk.child, "/".join(fk.child_cols))
                if edge in seen or not fk.cascade:
                    continue
                seen.add(edge)
                child = feed[fk.child]
                # single-branch prune: a left join + filter keeps the
                # child plan linear. A union of (semi-join, null-rows)
                # branches would duplicate the child subtree per FK
                # edge — exponential plan growth once several cascades
                # stack (transfers alone has 6 FK edges).
                marker = "__fk_hit"
                keys = parent_df.select(
                    *[F.col(pc).alias(cc) for pc, cc in zip(fk.parent_cols, fk.child_cols)]
                ).distinct().withColumn(marker, F.lit(1))
                null_ok = F.lit(False)
                for cc in fk.child_cols:
                    null_ok = null_ok | F.col(cc).isNull()
                pruned = (
                    child.join(keys, on=list(fk.child_cols), how="left")
                    .filter(F.col(marker).isNotNull() | null_ok)
                    .drop(marker)
                )
                feed = feed.with_table(fk.child, pruned)
                frontier.append(fk.child)
        return feed

    def checkpoint(self, eager: bool = True) -> "FeedDataset":
        """Truncate every table's lineage via ``localCheckpoint``.

        Deep operator chains (truncate -> merge -> simplify -> split ->
        extend) build plan trees that Catalyst re-analyzes at every step
        — past ~4 stacked operators, analysis itself can OOM the
        driver. The reference faces the same wall and materializes
        intermediate SQLite DBs between pipeline stages
        (multi_file.py:437-458); ``checkpoint`` is the in-memory
        analog (block-manager storage, no disk round-trip), and
        :func:`impuls_spark.sources.save_feed_parquet` the durable one.

        Only tables with lineage to cut run a job:

        - a table that is already a live checkpoint (its analyzed plan
          is a bare ``LogicalRDD``) is carried through as it is;
        - a table whose optimized plan is an empty ``LocalRelation`` —
          an absent table, or a cascade child of one — becomes a fresh
          :func:`~.tools.rows.empty_df` of the same schema. It is never
          checkpointed: an RDD would hide the emptiness from every
          later plan, which could then no longer fold it away;
        - the rest are checkpointed through
          :func:`~.tools.concurrency.parallel_writes`, up to 3 in
          flight, so their small single-stage jobs overlap instead of
          each paying the scheduling floor in turn. A failure in one
          re-raises from here once the others have finished.
        """
        out: dict[str, DataFrame] = {}
        cut = []
        for name, df in self._tables.items():
            if checkpoint_rdd(df) is not None:
                out[name] = df
                continue
            plan = df._jdf.queryExecution().optimizedPlan()
            if plan.getClass().getSimpleName() == "LocalRelation" and plan.data().isEmpty():
                out[name] = empty_df(self.spark, df.schema)
            else:
                cut.append(name)

        def cut_one(name: str) -> None:
            out[name] = self._tables[name].localCheckpoint(eager=eager)

        parallel_writes(*[lambda n=name: cut_one(n) for name in cut])
        return FeedDataset(self.spark, {name: out[name] for name in self._tables})

    def counts(self) -> dict[str, int]:
        """Row count per table (action — driver-side diagnostics only)."""
        return {name: df.count() for name, df in self._tables.items()}
