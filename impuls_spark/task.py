"""Task — one pure transformation of the feed.

Reference: ``Task.execute(TaskRuntime)`` mutates a live SQLite DB
(impuls/task.py:25-46). Here a task is a pure
``FeedDataset -> FeedDataset`` function; the runtime carries the
SparkSession, resolved resources, and pipeline options. Because tasks
are lazy, a whole pipeline compiles into one Catalyst DAG and only the
sink triggers execution.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Protocol, runtime_checkable

from pyspark.sql import SparkSession

from .feed import FeedDataset
from .tools.checkpoints import Checkpoints


@dataclass
class PipelineOptions:
    """Reference: impuls/options.py:8-40."""

    force_run: bool = False
    from_cache: bool = False
    workspace_directory: str = "_impuls_workspace"


@dataclass
class TaskRuntime:
    """Reference: impuls/task.py:14-22 (db+resources+options)."""

    spark: SparkSession
    resources: dict = field(default_factory=dict)
    options: PipelineOptions = field(default_factory=PipelineOptions)
    #: records the task's lazy cuts; a pipeline run passes its own scope
    checkpoints: Checkpoints = field(default_factory=Checkpoints)


@runtime_checkable
class Task(Protocol):
    def transform(self, feed: FeedDataset, runtime: TaskRuntime) -> FeedDataset: ...

    @property
    def name(self) -> str: ...


class BaseTask:
    """Convenience base: name defaults to the class name (reference
    impuls/task.py:31-36)."""

    @property
    def name(self) -> str:
        return type(self).__name__

    def transform(self, feed: FeedDataset, runtime: TaskRuntime) -> FeedDataset:
        raise NotImplementedError
