"""Pipeline — ordered task execution with per-task tracking.

Parity target: reference impuls/pipeline.py:40-132 (sequential task
runner with wall-time + peak-RSS logging via machine_load) and
impuls/app.py (CLI wrapper). Differences by design:

- tasks are pure ``FeedDataset -> FeedDataset`` transforms, so a
  pipeline is one lazy Catalyst DAG; ``checkpoint_every`` inserts
  lineage-truncation barriers (the analog of the reference's
  intermediate database materialization) so arbitrarily long pipelines
  keep analysis cost bounded;
- resources resolve on the driver before the first task, with the same
  fetch/cache/InputNotModified semantics (see resource.py).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Sequence

from pyspark.sql import SparkSession

from .errors import InputNotModified
from .feed import FeedDataset
from .task import PipelineOptions, Task, TaskRuntime
from .tools.checkpoints import checkpoint_rdd, free_local_checkpoint
from .tools.machine_load import LoadTracker

logger = logging.getLogger(__name__)


class Pipeline:
    def __init__(
        self,
        tasks: Sequence[Task],
        *,
        options: PipelineOptions | None = None,
        resources: dict | None = None,
        prefetched_resources: dict | None = None,
        checkpoint_every: int | None = 3,
    ) -> None:
        self.tasks = list(tasks)
        self.options = options or PipelineOptions()
        self.resources = resources or {}
        #: already-fetched resources (name -> FetchResult) merged into the
        #: runtime without re-fetching and without participating in the
        #: InputNotModified decision — MultiFile uses this to hand its
        #: additional_resources to intermediate/final pipelines (reference
        #: multi_file.py:448-455, 528-534)
        self.prefetched_resources = prefetched_resources or {}
        self.checkpoint_every = checkpoint_every
        self.run_stats: list[dict] = []

    def prepare_resources(self) -> dict:
        """Conditional-fetch every resource; raise InputNotModified when
        nothing changed and force_run is off (reference
        pipeline.py:89-90)."""
        from .resource import prepare_resources

        fetched, any_changed = prepare_resources(
            self.resources, self.options.workspace_directory,
            from_cache=self.options.from_cache,
        )
        if self.resources and not any_changed and not self.options.force_run:
            raise InputNotModified("all pipeline inputs are unchanged")
        return fetched

    def run(self, spark: SparkSession, feed: FeedDataset | None = None) -> FeedDataset:
        resources = self.prepare_resources() if self.resources else {}
        resources = {**self.prefetched_resources, **resources}
        runtime = TaskRuntime(spark=spark, resources=resources, options=self.options)
        feed = feed if feed is not None else FeedDataset.empty(spark)

        self.run_stats = []
        #: checkpoints this run's barriers made that the feed still uses
        owned: list = []
        for i, task in enumerate(self.tasks, start=1):
            with LoadTracker() as tracker:
                feed = task.transform(feed, runtime)
                if self.checkpoint_every and i % self.checkpoint_every == 0:
                    feed, owned = _barrier(feed, owned)
            stats = {"task": task.name, **tracker.stats()}
            self.run_stats.append(stats)
            logger.info(
                "Task %s finished in %.2fs (peak RSS %.0f MiB)",
                task.name, stats["seconds"], stats["peak_rss_mib"],
            )
        return feed


def _barrier(feed: FeedDataset, owned: list) -> tuple[FeedDataset, list]:
    """Checkpoint ``feed``, then free the blocks of every frame in
    ``owned`` (checkpoints earlier barriers made) that the new feed no
    longer holds. Once the barrier has materialized, nothing reads
    them: every table is a fresh checkpoint, an empty
    ``LocalRelation``, or a checkpoint carried through, and the RDDs of
    the carried ones stay. Frames the caller passed in are never in
    ``owned``. Returns the new feed and its ``owned`` list."""
    cut = feed.checkpoint()
    rdds = {name: checkpoint_rdd(df) for name, df in cut.items()}
    held = {rdd.id() for rdd in rdds.values() if rdd is not None}
    keep, done = [], []
    for df in owned:
        rdd = checkpoint_rdd(df)
        (keep if rdd is not None and rdd.id() in held else done).append(df)
    free_local_checkpoint(*done)
    made = [cut[name] for name, rdd in rdds.items()
            if rdd is not None and cut[name] is not feed[name]]
    return cut, keep + made
