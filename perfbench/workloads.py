"""The benchmark's workloads: seeded inputs, set-up, one cycle of
public-API calls, and the checks on every cycle's outputs.

A workload object is made once per run. ``setup(root)`` builds inputs
and state under ``root`` and may be called again on a fresh root (the
run sets up several times and keeps the last). ``cycle(i)`` runs the
timed calls and returns ``{operation: seconds}``; it raises
``CheckFailed`` when an output is wrong. ``trace()`` installs the spans
of the traced run.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random
import time
import zipfile
from contextlib import contextmanager


class CheckFailed(AssertionError):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def zip_digest(path: str) -> tuple[dict[str, int], str]:
    """Data rows per file, and an md5 over every file's name and bytes."""
    rows, h = {}, hashlib.md5()
    with zipfile.ZipFile(path) as zf:
        for name in sorted(zf.namelist()):
            data = zf.read(name)
            rows[name] = max(data.count(b"\n") - 1, 0)
            h.update(name.encode() + b"\0" + data)
    return rows, h.hexdigest()


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


class Workload:
    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0

    @contextmanager
    def op(self, name: str, times: dict, span: str):
        """Time one public-API call; it counts as attempted either way."""
        self.attempted += 1
        t0 = time.monotonic()
        with self.tracer.span(span) as counters:
            yield counters
        times[name] = time.monotonic() - t0

    def trace(self) -> None:
        pass


# -- GTFS ------------------------------------------------------------------

#: the files written by the GTFS workloads (GTFS column names)
GTFS_HEADERS = {
    "agency.txt": ["agency_id", "agency_name", "agency_url", "agency_timezone"],
    "stops.txt": ["stop_id", "stop_name", "stop_lat", "stop_lon",
                  "location_type", "parent_station", "wheelchair_boarding"],
    "routes.txt": ["agency_id", "route_id", "route_short_name",
                   "route_long_name", "route_type"],
    "trips.txt": ["route_id", "service_id", "trip_id", "trip_headsign",
                  "direction_id", "block_id"],
    "stop_times.txt": ["trip_id", "stop_sequence", "stop_id", "arrival_time",
                       "departure_time", "pickup_type", "drop_off_type"],
    "calendar.txt": ["service_id", "monday", "tuesday", "wednesday",
                     "thursday", "friday", "saturday", "sunday",
                     "start_date", "end_date"],
    "calendar_dates.txt": ["service_id", "date", "exception_type"],
}


class TimedTask:
    """A pipeline task inside span ``operators.<Task>``."""

    def __init__(self, task, tracer) -> None:
        self.task = task
        self.tracer = tracer

    @property
    def name(self) -> str:
        return self.task.name

    def transform(self, feed, runtime):
        with self.tracer.span(f"operators.{self.task.name}"):
            return self.task.transform(feed, runtime)


class GtfsWorkload(Workload):
    def _trace_gtfs(self) -> None:
        from impuls_spark.feed import FeedDataset

        self.tracer.patch(FeedDataset, "checkpoint", "pipeline.checkpoint")

    def _tasks(self, tasks) -> list:
        if not self.tracer.enabled:
            return list(tasks)
        return [TimedTask(t, self.tracer) for t in tasks]


#: the krakow_like operators gtfs_bulk runs: a SQL mass update of trips,
#: a cascading delete of trips, a window over stop_times
TASKS = ("DropBlockID", "RemoveTripsWithoutPickup", "GenerateTripHeadsign")


def _core_files(rows: dict) -> None:
    for name in list(rows):
        if name not in GTFS_HEADERS:
            del rows[name]


class GtfsBulk(GtfsWorkload):
    """One feed, the same every cycle: load, curate, save."""

    name = "gtfs_bulk"
    ops = ("load", "pipeline", "save")
    trips_per_route = 1240

    def setup(self, root: str) -> None:
        from tests.fixtures.make_feed import write_feed

        self.root = root
        self.src = write_feed(os.path.join(root, "feed.zip"), seed=self.seed,
                              trips_per_route=self.trips_per_route,
                              mutate=_core_files)
        self.src_rows = sum(zip_digest(self.src)[0].values())
        self.expect = None

    def trace(self) -> None:
        self._trace_gtfs()

    def cycle(self, i: int) -> dict[str, float]:
        from examples.krakow_like import build_pipeline
        from impuls_spark.pipeline import Pipeline
        from impuls_spark.sources import load_gtfs, save_gtfs

        times: dict[str, float] = {}
        out = os.path.join(self.root, "out.zip")
        with self.op("load", times, "sources.gtfs_read") as c:
            feed = load_gtfs(self.spark, self.src)
            c["sources.gtfs_read.rows"] = self.src_rows
        # three krakow_like operators: the default barrier (every 3rd
        # task) checkpoints once, after the last
        tasks = [t for t in build_pipeline().tasks
                 if type(t).__name__ in TASKS]
        check(len(tasks) == len(TASKS), f"krakow_like lacks one of {TASKS}")
        pipeline = Pipeline(self._tasks(tasks))
        with self.op("pipeline", times, "pipeline.run"):
            feed = pipeline.run(self.spark, feed)
        with self.op("save", times, "sources.gtfs_write") as c:
            save_gtfs(feed, GTFS_HEADERS, out, ensure_order=True)
            c["sources.gtfs_write.bytes"] = os.path.getsize(out)
        got = zip_digest(out)
        check(all(got[0].get(f) for f in ("stops.txt", "trips.txt",
                                           "stop_times.txt")),
              f"empty core table in {got[0]}")
        if self.expect is None:
            self.expect = got
        check(got == self.expect, f"cycle {i}: output {got} differs from "
              f"the run's first cycle {self.expect} on the same input")
        return times


class MultiFileUpdate(GtfsWorkload):
    """Versioned feeds merged into one; each cycle replaces the newest
    version, alternating between two variants, so one intermediate
    rebuilds and the others are reused."""

    name = "multifile_update"
    ops = ("update",)
    versions = (2026, 2027, 2028)
    trips_per_route = 62

    def _write_newest(self, variant: int) -> None:
        from tests.fixtures.make_feed import write_feed

        year = self.versions[-1]
        path = os.path.join(self.feeds, f"{year}-06-01.zip")
        write_feed(path, seed=self.seed * 10 + variant,
                   trips_per_route=self.trips_per_route,
                   mutate=_starting(year))
        # the conditional fetch compares mtimes: make every rewrite new
        self._mtime += 1
        os.utime(path, (self._mtime, self._mtime))

    def setup(self, root: str) -> None:
        from tests.fixtures.make_feed import write_feed

        self.root = root
        self.feeds = os.path.join(root, "feeds")
        os.makedirs(self.feeds)
        self._mtime = 1_700_000_000
        for year in self.versions[:-1]:
            write_feed(os.path.join(self.feeds, f"{year}-06-01.zip"),
                       seed=self.seed * 10 + year,
                       trips_per_route=self.trips_per_route,
                       mutate=_starting(year))
        self._write_newest(1)
        self.expect: dict[int, tuple] = {}
        self._multi_file().run(self.spark)

    def _multi_file(self):
        from examples.warsaw_like import build_multi_file
        from impuls_spark.task import PipelineOptions

        mf = build_multi_file(
            self.feeds, os.path.join(self.root, "merged.zip"), None,
            PipelineOptions(workspace_directory=os.path.join(self.root, "ws")),
            for_date=datetime.date(self.versions[0], 6, 1),
        )
        if self.tracer.enabled:
            from impuls_spark.sources import load_gtfs

            mf.loader = self.tracer.wrap(load_gtfs, "sources.gtfs_read")
            factory = mf.intermediate_pipeline_tasks_factory
            mf.intermediate_pipeline_tasks_factory = (
                lambda f: self._tasks(factory(f)))
        return mf

    def trace(self) -> None:
        import impuls_spark.multi_file as mf_mod
        from examples import warsaw_like
        from impuls_spark.operators.merge import Merge

        t = self.tracer
        self._trace_gtfs()

        def fetched(result, counters, *args, **kwargs):
            counters["resource.changed"] = sum(
                r.changed for r in result[0].values())

        def snapshot_bytes(result, counters, feed, target_dir):
            counters["sources.snapshot.bytes"] = dir_usage(target_dir)[1]

        def built(result, counters, *args, **kwargs):
            counters["multi_file.versions_built"] = 1

        t.patch(mf_mod, "prepare_resources", "resource.prepare", fetched)
        t.patch(mf_mod, "save_feed_parquet", "sources.snapshot.save",
                snapshot_bytes)
        t.patch(mf_mod, "load_feed_parquet", "sources.snapshot.load")
        t.patch(mf_mod.MultiFile, "_build_intermediate",
                "multi_file.build_intermediate", built)
        t.patch(Merge, "merged", "operators.merge")
        t.patch(warsaw_like, "save_gtfs", "sources.gtfs_write",
                lambda r, c, feed, headers, target, **kw: c.update(
                    {"sources.gtfs_write.bytes": os.path.getsize(target)}))

    def cycle(self, i: int) -> dict[str, float]:
        variant = i % 2
        self._write_newest(variant)
        times: dict[str, float] = {}
        with self.op("update", times, "multi_file.run") as c:
            self._multi_file().run(self.spark)
            c["multi_file.versions"] = len(self.versions)
        got = zip_digest(os.path.join(self.root, "merged.zip"))
        check(all(got[0].get(f) for f in ("stops.txt", "trips.txt",
                                           "stop_times.txt")),
              f"empty core table in {got[0]}")
        want = self.expect.setdefault(variant, got)
        check(got == want, f"cycle {i}: merged output {got} differs from "
              f"the earlier merge of the same inputs {want}")
        return times


def _starting(year: int):
    def mutate(rows):
        for c in rows["calendar.txt"]:
            c["start_date"] = f"{year}0601"
            c["end_date"] = f"{year + 1}0530"
        for d in rows["calendar_dates.txt"]:
            d["date"] = f"{year}{d['date'][4:]}"
    return mutate


# -- corpus index ----------------------------------------------------------

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "order", "group", "join", "key", "row", "data", "hash",
    "sort", "filter", "agg", "scan", "batch", "query", "a", "small",
    "big", "fast", "slow", "line", "part", "customer", "the",
]


def md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


class CorpusIndex(Workload):
    """A tracked DedupIndex taking one batch per cycle: classify it,
    ingest it, then take down ``takedowns`` documents."""

    name = "corpus_index"
    ops = ("classify", "ingest", "takedown")
    base_docs = 5000
    batch_docs = 500
    exact_copies = 25
    near_copies = 25
    takedowns = 50

    def _text(self, rng: random.Random) -> str:
        # documents of scripts/gen_scale.py: 10-100 words over VOCAB,
        # with 5% near-duplicates (an earlier text plus " dup")
        return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))

    def setup(self, root: str) -> None:
        from impuls_spark.llm.dedup import DedupIndex

        rng = random.Random(self.seed)
        texts: list[str] = []
        for i in range(self.base_docs):
            if i and rng.random() < 0.05:
                texts.append(texts[rng.randrange(i)] + " dup")
            else:
                texts.append(self._text(rng))
        self.base = texts
        #: md5 of every text the index holds, with how many docs hold it
        self.held: dict[str, int] = {}
        for t in texts:
            self.held[md5(t)] = self.held.get(md5(t), 0) + 1
        self.next_id = len(texts)
        self.removed: list[tuple[int, str]] = []
        corpus = self.spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string")
        self.path = os.path.join(root, "index")
        self.index = DedupIndex.build(corpus, self.path, track_ids=True)

    def _batch(self, i: int):
        """Planted exact copies and near-duplicates of indexed texts,
        documents of unique words (taken down at the end of the cycle),
        the previous cycle's taken-down documents, and fresh texts."""
        rng = random.Random(self.seed * 1_000_003 + i)
        rows: list[tuple[int, str]] = []

        def add(text: str) -> None:
            rows.append((self.next_id, text))
            self.next_id += 1

        for _ in range(self.exact_copies):
            add(rng.choice(self.base))
        for _ in range(self.near_copies):
            add(rng.choice(self.base) + " dup")
        takedown = []
        for k in range(self.takedowns):
            add(" ".join(f"u{self.seed}c{i}d{k}w{j}" for j in range(12)))
            takedown.append(rows[-1])
        resubmitted = list(self.removed)
        rows += resubmitted
        while len(rows) < self.batch_docs:
            add(self._text(rng))
        return rows, takedown, resubmitted

    def cycle(self, i: int) -> dict[str, float]:
        rows, takedown, resubmitted = self._batch(i)
        batch = self.spark.createDataFrame(rows, "doc_id long, text string")
        expect_exact = sum(md5(t) in self.held for _, t in rows)
        times: dict[str, float] = {}
        t = self.tracer
        with self.op("classify", times, "llm.dedup.classify") as c:
            verdict = dict(self.index.classify(batch, broadcast_new=True)
                           .collect())
            for s in ("exact", "near", "novel"):
                c[f"llm.dedup.verdict.{s}"] = sum(
                    v == s for v in verdict.values())
        with self.op("ingest", times, "llm.dedup.ingest"):
            ingested = dict(self.index.ingest(batch, broadcast_new=True)
                            .collect())
        with self.op("takedown", times, "llm.dedup.remove") as c:
            self.index.remove([str(d) for d, _ in takedown])
            if t.active:
                c["llm.dedup.index_files"], c["llm.dedup.index_bytes"] = (
                    dir_usage(self.path))
                c["tools.checkpoints.pinned_rdds"] = t.pinned_rdds()

        counts = {s: sum(v == s for v in verdict.values())
                  for s in ("exact", "near", "novel")}
        check(len(verdict) == len(rows), f"{len(verdict)} verdicts for "
              f"{len(rows)} documents")
        check(counts["exact"] == expect_exact, f"cycle {i}: {counts['exact']}"
              f" exact, md5 says {expect_exact}")
        check(expect_exact >= self.exact_copies, "planted copies missing")
        check(ingested == verdict, f"cycle {i}: ingest and classify disagree")
        for doc_id, _ in takedown + resubmitted:
            check(verdict[doc_id] == "novel", f"cycle {i}: document {doc_id} "
                  f"of unique words (or taken down) is {verdict[doc_id]}")
        for doc_id, text in rows:
            if verdict[doc_id] == "novel":
                self.held[md5(text)] = self.held.get(md5(text), 0) + 1
        for _, text in takedown:
            self.held[md5(text)] -= 1
            if not self.held[md5(text)]:
                del self.held[md5(text)]
        self.removed = takedown
        return times


WORKLOADS = {w.name: w for w in (GtfsBulk, MultiFileUpdate, CorpusIndex)}
