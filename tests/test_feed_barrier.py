"""The checkpoint barrier runs jobs only for tables with lineage to cut:
absent tables are empty ``LocalRelation``s the optimizer folds away,
live checkpoints are carried through, and a Pipeline frees the blocks
of a barrier once the next one has superseded it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impuls_spark import schema as S
from impuls_spark.feed import FeedDataset
from impuls_spark.pipeline import Pipeline
from impuls_spark.task import BaseTask
from impuls_spark.tools.checkpoints import checkpoint_rdd


def _plan(df, phase: str) -> str:
    return getattr(df._jdf.queryExecution(), phase)().getClass().getSimpleName()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_empty_feed_tables_are_typed_local_relations(spark):
    feed = FeedDataset.empty(spark)
    assert set(feed) == set(S.TABLES)
    for name, df in feed.items():
        assert _plan(df, "optimizedPlan") == "LocalRelation", name
        # StructField equality covers nullability and metadata
        assert df.schema == S.TABLES[name].schema, name


def test_checkpoint_runs_no_job_for_absent_tables(spark, spark_jobs):
    stops = spark.range(20).select(F.col("id").cast("string").alias("stop_id"))
    feed = FeedDataset.empty(spark).with_table("stops", stops)
    before = spark_jobs()
    cut = feed.checkpoint()
    assert spark_jobs() == before + 1  # stops only
    for name, df in cut.items():
        if name != "stops":
            assert _plan(df, "analyzed") == "LocalRelation", name
            assert df.schema == S.TABLES[name].schema, name
    assert checkpoint_rdd(cut["stops"]) is not None

    # a second barrier has nothing to cut: every frame is carried through
    before = spark_jobs()
    again = cut.checkpoint()
    assert spark_jobs() == before
    assert again["stops"] is cut["stops"]
    assert again["stops"].count() == 20


def test_cascade_into_absent_children_checkpoints_without_jobs(
    spark, spark_jobs, feed
):
    empty = FeedDataset.empty(spark)
    feed = feed.with_tables(
        {"frequencies": empty["frequencies"], "transfers": empty["transfers"]}
    )
    trips = feed["trips"]
    pruned = feed.cascade_delete("trips", trips.filter(F.col("direction_id") == 0))
    children = FeedDataset(
        spark, {n: pruned[n] for n in ("frequencies", "transfers")}
    )
    before = spark_jobs()
    cut = children.checkpoint()
    assert spark_jobs() == before
    for name, df in cut.items():
        assert _plan(df, "analyzed") == "LocalRelation", name
        assert df.schema == pruned[name].schema, name
    # the pruned tables with rows still checkpoint and agree
    assert pruned.checkpoint()["stop_times"].count() == pruned["stop_times"].count()


def test_checkpoint_failure_reraises(spark):
    ok = spark.range(10).select(F.col("id").cast("string").alias("stop_id"))
    bad = spark.range(10).select(
        F.when(F.col("id") > 5, F.raise_error(F.lit("barrier boom")))
        .otherwise(F.col("id").cast("string")).alias("trip_id")
    )
    feed = FeedDataset(spark, {"stops": ok, "trips": bad, "routes": ok})
    with pytest.raises(Exception, match="barrier boom"):
        feed.checkpoint()


class _Touch(BaseTask):
    """Rewrites ``stops`` and ``routes`` so every barrier re-cuts them."""

    def transform(self, feed, runtime):
        return feed.with_tables({
            "stops": feed["stops"].filter(F.col("stop_id").isNotNull()),
            "routes": feed["routes"].filter(F.col("route_id").isNotNull()),
        })


def test_pipeline_frees_superseded_barrier(spark, feed):
    # the caller passes one checkpoint of its own; the pipeline must
    # never free it, although barrier 1 re-cuts that table
    own = feed["routes"].localCheckpoint(eager=True)
    feed = feed.with_table("routes", own)
    before = _persistent_ids(spark)
    out = Pipeline([_Touch() for _ in range(6)], checkpoint_every=3).run(spark, feed)
    held = {r.id() for r in map(checkpoint_rdd, out.values()) if r is not None}
    assert held
    # only the last barrier's checkpoints (fresh or carried) stay
    # pinned; the GC may meanwhile drop older tests' frames, so compare
    # the RDDs this run added rather than the total
    added = {i for i in _persistent_ids(spark) if i > max(before)}
    assert added == held
    assert own._jdf.queryExecution().analyzed().rdd().id() in _persistent_ids(spark)
    for df in out.values():
        df.collect()
    assert own.count() == feed["routes"].count()
