"""ModifyStopsFromCSV / ModifyRoutesFromCSV — curation patch upserts.

Parity target: reference impuls/tasks/modify_from_csv.py:26-191. A
small curation CSV keyed by entity id overwrites non-empty attribute
cells on matching rows. Missing ids warn (or raise when
``must_curate_all``); duplicate patch keys are an error.

Spark shape: the patch is dimension-sized -> broadcast join; per-column
``coalesce(nullif(patch, ''), base)``; missing-id detection is one
anti-join count (driver-side smallness is guaranteed by the patch, not
the feed).
"""

from __future__ import annotations

import logging
from collections.abc import Mapping

from pyspark.sql import functions as F

from ..errors import DataError
from ..feed import FeedDataset
from ..sources.gtfs_read import _peek_header, _read_csv
from ..task import BaseTask, TaskRuntime

logger = logging.getLogger(__name__)


class ModifyFromCSV(BaseTask):
    """Generic curation task; see the two concrete subclasses below.

    ``columns`` maps CSV column name -> internal column name for every
    patchable attribute (mirrors the per-entity column tables at
    modify_from_csv.py:222-234, 273-282).
    """

    table: str = ""
    key_csv: str = ""
    key_internal: str = ""
    columns: Mapping[str, str] = {}
    #: optional per-internal-column cell converter (reference's
    #: per-cell converters, modify_from_csv.py:26-191)
    converters: Mapping = {}

    def __init__(self, csv_path: str, must_curate_all: bool = False) -> None:
        self.csv_path = csv_path
        self.must_curate_all = must_curate_all

    @property
    def name(self) -> str:
        return f"{type(self).__name__}({self.csv_path})"

    def transform(self, feed: FeedDataset, runtime: TaskRuntime) -> FeedDataset:
        spark = runtime.spark
        # csv_path may be a pipeline resource NAME (the reference's
        # calling convention, e.g. examples/radom/__main__.py
        # ModifyStopsFromCSV("soap_stops.csv")) or a literal path
        res = runtime.resources.get(self.csv_path)
        path = res.path if res is not None else self.csv_path
        # read like load_gtfs (a local file): no header-inference job
        patch = _read_csv(spark, path, _peek_header(path))
        if self.key_csv not in patch.columns:
            raise DataError(f"{self.csv_path}: missing key column {self.key_csv}")

        # duplicate patch rows: warn and keep the first occurrence
        # (reference logs-and-skips, modify_from_csv.py:26-191)
        from pyspark.sql import Window

        dupes = (
            patch.groupBy(self.key_csv).agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1).limit(20).collect()
        )
        if dupes:
            logger.warning(
                "%s: duplicate keys (keeping first): %s",
                self.csv_path, [r[0] for r in dupes],
            )
            w = Window.partitionBy(self.key_csv).orderBy(F.monotonically_increasing_id())
            patch = (
                patch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn")
            )

        base = feed[self.table]
        # ids in the patch but not in the feed: always warn-and-skip
        missing = (
            patch.select(F.col(self.key_csv).alias(self.key_internal))
            .join(base.select(self.key_internal), self.key_internal, "left_anti")
            .limit(20)
            .collect()
        )
        if missing:
            logger.warning("%s: skipping unknown ids: %s",
                           self.csv_path, [r[0] for r in missing])

        # must_curate_all: every FEED entity must appear in the CSV
        # (reference check_if_all_entities_were_curated — the QA
        # guarantee runs in this direction, not the other)
        if self.must_curate_all:
            uncurated = (
                base.select(self.key_internal)
                .join(patch.select(F.col(self.key_csv).alias(self.key_internal)),
                      self.key_internal, "left_anti")
                .limit(20)
                .collect()
            )
            if uncurated:
                raise DataError(
                    f"{self.csv_path}: entities not curated: "
                    f"{[r[0] for r in uncurated]}"
                )

        sel = [F.col(self.key_csv).alias(self.key_internal)]
        patched_cols = []
        for csv_col, internal in self.columns.items():
            if csv_col in patch.columns:
                sel.append(F.nullif(F.col(csv_col), F.lit("")).alias(f"__patch_{internal}"))
                patched_cols.append(internal)
        patch_typed = patch.select(*sel)

        out = base.join(F.broadcast(patch_typed), self.key_internal, "left")
        for internal in patched_cols:
            field = next(f for f in base.schema.fields if f.name == internal)
            conv = self.converters.get(internal)
            patch_col = F.col(f"__patch_{internal}")
            typed = conv(patch_col) if conv else patch_col.cast(field.dataType)
            out = out.withColumn(internal, F.coalesce(typed, F.col(internal)))
        out = out.drop(*[f"__patch_{c}" for c in patched_cols])
        return feed.with_table(self.table, out.select(*base.columns))


class ModifyStopsFromCSV(ModifyFromCSV):
    """Reference column set: modify_from_csv.py:222-234."""

    table = "stops"
    key_csv = "stop_id"
    key_internal = "stop_id"
    columns = {
        "stop_name": "name",
        "stop_lat": "lat",
        "stop_lon": "lon",
        "stop_code": "code",
        "zone_id": "zone_id",
        "platform_code": "platform_code",
        "wheelchair_boarding": "wheelchair_boarding",
    }

    @property
    def converters(self):
        from ..functions.gtfs import recode_wheelchair

        return {"wheelchair_boarding": recode_wheelchair}


class ModifyRoutesFromCSV(ModifyFromCSV):
    """Reference column set: modify_from_csv.py:273-282."""

    table = "routes"
    key_csv = "route_id"
    key_internal = "route_id"
    columns = {
        "route_short_name": "short_name",
        "route_long_name": "long_name",
        "route_type": "type",
        "route_color": "color",
        "route_text_color": "text_color",
        "route_sort_order": "sort_order",
    }
