"""Spans around calls into the library's layers, with Spark counters.

A span records name, start, end, parent and cycle id. When a span ends
it reads the Spark work submitted while it was open: the DAG scheduler
hands out job and stage ids in order, so the ids allocated between a
span's start and end belong to it (the benchmark drives the library
from one thread; worker threads the library starts itself are covered
too, which job groups would miss). Stage metrics come from the status
store right after the span ends and are cached per stage id, so the
store's 1000-stage retention only has to cover one span.

The tracer is off unless ``enabled``; untraced runs never patch or
record anything.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JError

#: counters summed over the stages a span covers
STAGE_COUNTERS = (
    "spark.tasks", "spark.executor_cpu_s", "spark.executor_run_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.input_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        #: recording now: set per cycle by the run loop
        self.active = False
        self.spans: list[dict] = []
        self.cycle: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._stage_cache: dict[int, dict] = {}
        jsc = spark.sparkContext._jsc
        self._jsc = jsc
        self._sc = jsc.sc()
        self._gateway = spark.sparkContext._gateway

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield {}
            return
        dag = self._sc.dagScheduler()
        stack = self._stack()
        rec = {
            "name": name, "cycle": self.cycle,
            # a span opened on a library worker thread hangs off the cycle
            "parent": stack[-1]["id"] if stack else self._root,
            "counters": {},
        }
        with self._lock:  # MultiFile builds versions on worker threads
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        j0, s0 = dag.nextJobId(), dag.nextStageId()
        rec["start"] = time.monotonic()
        try:
            yield rec["counters"]
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            j1, s1 = dag.nextJobId(), dag.nextStageId()
            rec["counters"].update(self._spark_counters(j1 - j0, s0, s1))

    @contextmanager
    def cycle_span(self, cycle: int):
        """The root span of one cycle; spans opened inside carry its id."""
        self.cycle = cycle
        with self.span("cycle") as counters:
            if self.active:
                self._root = self.spans[-1]["id"]
            try:
                yield counters
            finally:
                self._root = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str, after=None):
        """``fn`` run inside span ``name``; ``after(result, counters,
        *args, **kwargs)`` may add counts from the call's result."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as counters:
                result = fn(*args, **kwargs)
                if after is not None and self.active:
                    after(result, counters, *args, **kwargs)
                return result

        return traced

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        setattr(owner, attr, self.wrap(getattr(owner, attr), name, after))

    # -- Spark counters --------------------------------------------------

    def _spark_counters(self, jobs: int, s0: int, s1: int) -> dict:
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        out["spark.jobs"] = jobs
        out["spark.stages"] = 0
        if s1 > s0:
            # metrics reach the status store through the listener bus
            self._sc.listenerBus().waitUntilEmpty()
        for sid in range(s0, s1):
            stage = self._stage(sid)
            if stage is None:
                continue
            out["spark.stages"] += stage["ran"]
            for k in STAGE_COUNTERS:
                out[k] += stage[k]
        return out

    def _stage(self, sid: int) -> dict | None:
        if sid in self._stage_cache:
            return self._stage_cache[sid]
        jvm = self._gateway.jvm
        try:
            seq = self._sc.statusStore().stageData(
                sid, False, jvm.java.util.ArrayList(), False,
                self._gateway.new_array(jvm.double, 0),
            )
        except Py4JError:  # an unknown or evicted stage id
            return None
        if seq.isEmpty():
            return None
        s = seq.apply(seq.size() - 1)  # the last attempt
        done = s.numCompleteTasks()
        rec = {
            "ran": 1 if done else 0,
            "spark.tasks": done,
            "spark.executor_cpu_s": s.executorCpuTime() / 1e9,
            "spark.executor_run_s": s.executorRunTime() / 1e3,
            "spark.gc_s": s.jvmGcTime() / 1e3,
            "spark.shuffle_read_bytes": s.shuffleReadBytes(),
            "spark.shuffle_write_bytes": s.shuffleWriteBytes(),
            "spark.spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "spark.input_bytes": s.inputBytes(),
        }
        if str(s.status().toString()) in ("COMPLETE", "SKIPPED", "FAILED"):
            self._stage_cache[sid] = rec
        return rec

    def pinned_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    # -- reports ---------------------------------------------------------

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")

    def cycle_totals(self, cycles) -> dict[int, dict]:
        """Per cycle: seconds and counts summed per span name (seconds
        under ``<name>.s``), plus the Spark counters of the cycle's root
        span."""
        wanted = set(cycles)
        totals: dict[int, dict] = {c: defaultdict(float) for c in wanted}
        for s in self.spans:
            if s["cycle"] not in wanted:
                continue
            t = totals[s["cycle"]]
            if s["name"] == "cycle":
                for k, v in s["counters"].items():
                    t[k] += v
                continue
            t[s["name"] + ".s"] += s["end"] - s["start"]
            for k, v in s["counters"].items():
                if not k.startswith("spark."):
                    t[k] += v
        return totals

    def self_times(self, cycles) -> dict[str, float]:
        """Seconds per span name, less the time its child spans cover,
        summed over ``cycles``."""
        wanted = set(cycles)
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["cycle"] in wanted:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["cycle"] in wanted:
                out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(sorted(out.items(), key=lambda kv: -kv[1]))
