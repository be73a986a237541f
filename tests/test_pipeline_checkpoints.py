"""A pipeline run owns the checkpoints its tasks and barriers make: it
frees each one once the feed no longer reads it, frees all of them when
it fails, and MultiFile frees what a version's snapshotted feed reads."""

from __future__ import annotations

import datetime

import pytest

from impuls_spark.feed import FeedDataset
from impuls_spark.multi_file import IntermediateFeed, MultiFile
from impuls_spark.operators import RemoveUnusedEntities
from impuls_spark.pipeline import Pipeline
from impuls_spark.resource import LocalResource
from impuls_spark.task import BaseTask, PipelineOptions
from impuls_spark.tools.checkpoints import read_rdds
from tests.test_feed_barrier import _Touch


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


class _Boom(BaseTask):
    def transform(self, feed, runtime):
        raise RuntimeError("task failed")


class _CutStopKeys(BaseTask):
    """Prunes ``stop_times`` against a lazy cut of the stop ids and
    drops ``stops``: the result reads the stops barrier checkpoint only
    through the cut's lineage."""

    def transform(self, feed, runtime):
        keys = runtime.checkpoints.checkpoint(
            feed["stops"].select("stop_id"), eager=False)
        return feed.with_tables({
            "stop_times": feed["stop_times"].join(keys, "stop_id", "left_semi"),
            "stops": FeedDataset.empty(runtime.spark)["stops"],
        })


def _read_ids(feed) -> set:
    return set(read_rdds(feed.values()))


def test_pipeline_frees_operator_cuts(spark, feed):
    """RemoveUnusedEntities' five lazy key cuts are freed once the
    barrier has materialized the feed; only the checkpoints the returned
    feed reads stay pinned."""
    before = _persistent_ids(spark)
    out = Pipeline([RemoveUnusedEntities(), _Touch(), _Touch()],
                   checkpoint_every=3).run(spark, feed)
    added = _persistent_ids(spark) - before
    assert added and added == _read_ids(out)
    for df in out.values():
        df.collect()
    assert out["trips"].count() == feed["trips"].count()


def test_failed_pipeline_pins_nothing(spark, feed):
    before = _persistent_ids(spark)
    pipe = Pipeline([RemoveUnusedEntities(), _Touch(), _Touch(), _Boom()],
                    checkpoint_every=3)
    with pytest.raises(RuntimeError, match="task failed"):
        pipe.run(spark, feed)
    assert not _persistent_ids(spark) - before


def test_returned_lazy_cut_keeps_what_it_reads(spark, feed):
    """The run returns a feed that reads a lazy cut no job has
    materialized; the barrier checkpoint behind that cut stays pinned,
    so the feed still computes."""
    want = feed["stop_times"].count()
    out = Pipeline([_Touch(), _Touch(), _CutStopKeys()],
                   checkpoint_every=2).run(spark, feed)
    assert out["stop_times"].count() == want
    assert out["stops"].count() == 0


def test_multi_file_pins_only_what_its_feed_reads(spark, tmp_path):
    """Each version's pipeline (RemoveUnusedEntities, a rewrite and the
    truncation, so one barrier) leaves nothing pinned once its snapshot
    is written; only the Merge cuts the merged feed reads stay."""
    from tests.fixtures.make_feed import write_feed

    def next_year(rows):
        for c in rows["calendar.txt"]:
            c["start_date"] = "20270601"
            c["end_date"] = "20280530"

    v1 = write_feed(str(tmp_path / "v1.zip"))
    v2 = write_feed(str(tmp_path / "v2.zip"), mutate=next_year)

    def provider():
        return [
            IntermediateFeed(LocalResource(v1), "v1", datetime.date(2026, 6, 1)),
            IntermediateFeed(LocalResource(v2), "v2", datetime.date(2027, 6, 1)),
        ]

    mf = MultiFile(
        provider=provider,
        intermediate_pipeline_tasks_factory=lambda f: [
            RemoveUnusedEntities(), _Touch()],
        options=PipelineOptions(workspace_directory=str(tmp_path / "ws")),
        for_date=datetime.date(2026, 6, 1),
    )
    before = _persistent_ids(spark)
    merged = mf.run(spark)
    added = _persistent_ids(spark) - before
    assert added == _read_ids(merged)
    assert merged["trips"].count() == 2 * 186
