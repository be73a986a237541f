"""RemoveUnusedEntities — cascading existence prunes over the feed.

Parity target: reference impuls/tasks/remove_unused_entities.py:28-99,
which runs 7 ``DELETE ... NOT EXISTS`` statements and relies on SQLite
``ON DELETE CASCADE``. Semantics preserved; the execution shape is
optimized for scale:

1. compute the **final surviving key set** of every parent table first
   (trips -> calendars -> routes -> agencies, plus stops) — these are
   small key frames derived with one pass over stop_times each;
2. then prune every table exactly **once** against those key sets.

The naive translation (prune, cascade, prune, cascade ...) re-walks the
fact-table lineage per FK edge — measured 109 s on a 1.4 M-row feed vs
~15 s for this shape. The cascade closure here is explicit and total:
pruning parents first can only shrink the key sets children are checked
against, which is exactly SQLite's cascade fixpoint for this graph
(no cycles except the stops self-edge, handled via station logic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..feed import FeedDataset
from ..schema import LocationType
from ..task import BaseTask, TaskRuntime


def _semi(df: DataFrame, keys: DataFrame, col: str, keep_null: bool = False) -> DataFrame:
    # keys frames are checkpointed (statsless) key sets — hint broadcast
    # explicitly; at GTFS scale every key set is MB-sized next to the
    # fact tables it prunes
    keys = F.broadcast(keys)
    if keep_null:
        marked = keys.withColumn("__k", F.lit(1))
        return (
            df.join(marked, col, "left")
            .filter(F.col("__k").isNotNull() | F.col(col).isNull())
            .drop("__k")
        )
    return df.join(keys, col, "left_semi")


class RemoveUnusedEntities(BaseTask):
    def transform(self, feed: FeedDataset, runtime: TaskRuntime) -> FeedDataset:
        trips = feed["trips"]
        stop_times = feed["stop_times"]

        # ---- surviving key sets (all small frames) -------------------
        # trips need >=2 stop_times
        st_counts = (
            stop_times.groupBy("trip_id").agg(F.count("*").alias("__n"))
            .filter(F.col("__n") >= 2).select("trip_id")
        )
        trips_k1 = trips.join(st_counts, "trip_id", "left_semi")

        # calendars: referenced by a surviving trip AND actually active
        # on >=1 date — the real active-days computation (weekday flags
        # intersected with the date range, minus REMOVED exceptions),
        # not a flags-only approximation: a Monday calendar whose range
        # contains no Monday, or whose every Monday is REMOVED, must be
        # pruned (reference remove_unused_entities.py prune #3)
        from .calendars import active_days

        has_active_date = active_days(feed).select("calendar_id").distinct()
        cal_keys = (
            feed["calendars"]
            .join(trips_k1.select("calendar_id").distinct(), "calendar_id", "left_semi")
            .join(has_active_date, "calendar_id", "left_semi")
            .select("calendar_id")
        )
        # trips of dropped calendars cascade away
        trip_keys = trips_k1.join(cal_keys, "calendar_id", "left_semi").select("trip_id")

        # routes with surviving trips; agencies with surviving routes
        surviving_trips = trips.join(trip_keys, "trip_id", "left_semi")
        route_keys = surviving_trips.select("route_id").distinct()
        agency_keys = (
            feed["routes"].join(route_keys, "route_id", "left_semi")
            .select("agency_id").distinct()
        )

        # stops: plain stops need stop_times (of surviving trips);
        # stations need surviving children
        used_stops = (
            _semi(stop_times, trip_keys, "trip_id")
            .select("stop_id").distinct().withColumn("__used", F.lit(1))
        )
        stops1 = (
            feed["stops"].join(used_stops, "stop_id", "left")
            .filter(
                (F.col("location_type") != int(LocationType.STOP))
                | F.col("__used").isNotNull()
            )
            .drop("__used")
        )
        # stations need at least one surviving PLATFORM child
        # (location_type=0 — exits don't keep a station alive,
        # reference remove_unused_entities.py prune #5)
        parents = (
            stops1.filter(
                F.col("parent_station").isNotNull()
                & (F.col("location_type") == int(LocationType.STOP))
            )
            .select(F.col("parent_station").alias("stop_id")).distinct()
            .withColumn("__child", F.lit(1))
        )
        stops2 = (
            stops1.join(parents, "stop_id", "left")
            .filter(
                (F.col("location_type") != int(LocationType.STATION))
                | F.col("__child").isNotNull()
            )
            .drop("__child")
        )
        # children of dropped parents cascade away (SQLite's self-FK
        # ON DELETE CASCADE on parent_station)
        surviving_parents = stops2.select(F.col("stop_id").alias("parent_station")) \
            .distinct().withColumn("__p", F.lit(1))
        stops_final = (
            stops2.join(surviving_parents, "parent_station", "left")
            .filter(F.col("parent_station").isNull() | F.col("__p").isNotNull())
            .drop("__p")
        )
        stop_keys = stops_final.select("stop_id")

        # key frames are metadata-small but *used* by many prunes below;
        # without a lineage cut each use re-derives them from the fact
        # table (measured ~12 redundant passes over stop_times on a
        # 1.4 M-row feed). A lazy checkpoint materializes each once.
        trip_keys, cal_keys, route_keys, agency_keys, stop_keys = (
            runtime.checkpoints.checkpoint(keys, eager=False) for keys in
            (trip_keys, cal_keys, route_keys, agency_keys, stop_keys))

        # ---- single-pass prunes against the final key sets -----------
        out = {
            "agencies": _semi(feed["agencies"], agency_keys, "agency_id"),
            "routes": _semi(
                _semi(feed["routes"], route_keys, "route_id"),
                agency_keys, "agency_id",
            ),
            "calendars": _semi(feed["calendars"], cal_keys, "calendar_id"),
            "calendar_exceptions": _semi(
                feed["calendar_exceptions"], cal_keys, "calendar_id"
            ),
            "trips": _semi(surviving_trips, route_keys, "route_id"),
            "stops": stops_final,
            "stop_times": _semi(
                _semi(stop_times, trip_keys, "trip_id"), stop_keys, "stop_id"
            ),
            "frequencies": _semi(feed["frequencies"], trip_keys, "trip_id"),
            "fare_attributes": _semi(
                feed["fare_attributes"], agency_keys, "agency_id"
            ),
            "transfers": feed["transfers"],
        }
        # transfers: six nullable FK edges, all checked in one plan
        xfer = out["transfers"]
        for col, keys in (
            ("from_stop_id", stop_keys), ("to_stop_id", stop_keys),
            ("from_route_id", route_keys), ("to_route_id", route_keys),
            ("from_trip_id", trip_keys), ("to_trip_id", trip_keys),
        ):
            xfer = _semi(
                xfer, keys.select(F.col(keys.columns[0]).alias(col)), col,
                keep_null=True,
            )
        out["transfers"] = xfer
        # fare_rules: fare FK (cascade) + nullable route FK
        frules = _semi(feed["fare_rules"],
                       out["fare_attributes"].select("fare_id"), "fare_id")
        out["fare_rules"] = _semi(
            frules, route_keys.select(F.col("route_id")), "route_id", keep_null=True
        )

        return feed.with_tables(out)