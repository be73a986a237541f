"""SplitTripLegs — segment trips into legs wherever a per-stop flag flips.

Parity target: reference impuls/tasks/split_trip_legs.py:15-324. The
reference walks each trip's stop_times in Python, cutting a new leg
every time a data flag (default: ``platform == 'BUS'``) changes,
duplicating the boundary stop into both legs (arrival-only in the
earlier leg, departure-only in the later), replacing multi-leg trips
with ``{trip_id}_{i}`` trips — bus legs moved onto a cloned
``{route_id}_BUS`` route of type BUS — and adding TIMED transfers
between consecutive legs. Whole-trip-is-bus short-circuits to a plain
route reassignment (split_trip_legs.py:254-259).

Spark-first shape: classic sessionization — ``lag`` over
(trip_id, stop_sequence) marks flag changes, a running ``sum`` of the
change marker numbers the legs; boundary duplication is a filtered,
shifted union; new trips / routes / transfers are small derived frames.
The big table (stop_times) is window-scanned once per branch on the
same partition key, so every shuffle is on trip_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..feed import FeedDataset
from ..schema import PassengerExchange, RouteType, TransferType
from ..task import BaseTask, TaskRuntime


class SplitTripLegs(BaseTask):
    """``flag`` defaults to ``platform = 'BUS'`` (NULL -> false). Rows
    where the flag is true form "replacement bus" legs.

    Customization points (the Spark-idiomatic analog of the reference's
    row-level override methods, split_trip_legs.py:80-324): instead of
    mutating one Trip/StopTime at a time, each hook contributes a Column
    expression or transforms a whole (small) frame, so subclasses stay
    on the JVM fast path:

    ===============================  =====================================
    reference method                 hook here
    ===============================  =====================================
    get_departure_data (:231)        :meth:`departure_data` -> Column
    whole_trip_is_replacement_bus    :meth:`whole_trip_is_replacement_bus`
      (:294, + ctor pattern)           -> Column over trips (short-circuits
                                        splitting: the whole trip moves to
                                        the bus route, stop_times untouched)
    update_trip / _BUS suffix        :meth:`bus_route_id` -> Column
      (:212-226)
    save_bus_replacement_route /     :meth:`make_bus_routes` -> DataFrame
      update_bus_replacement_route     (new route rows for bus parents)
      (:234-250)
    get_transfer (:314)              :meth:`make_transfers` -> DataFrame
                                        or None (None = no transfers)
    leg id suffix ``_{i}`` (:162)    ``leg_trip_id_infix`` ctor arg
    ===============================  =====================================

    ``examples/pkpic_like.py`` ports the reference's
    ``examples/pkpic/split_bus_legs.py`` subclass against these hooks.
    """

    def __init__(
        self,
        flag: Column | str | None = None,
        bus_route_suffix: str = "_BUS",
        transfer_type: int = int(TransferType.TIMED),
        routes: "Routes | None" = None,
        replacement_bus_short_name_pattern: str | None = None,
        leg_trip_id_infix: str = "_",
    ) -> None:
        from ..selector import Routes as _Routes

        self.flag = flag
        self.bus_route_suffix = bus_route_suffix
        self.transfer_type = transfer_type
        # the reference defaults its route selector to rail routes
        # (split_trip_legs.py ctor); mirror that default
        self.routes = routes if routes is not None else _Routes(
            types=(int(RouteType.RAIL),)
        )
        self.replacement_bus_short_name_pattern = replacement_bus_short_name_pattern
        self.leg_trip_id_infix = leg_trip_id_infix

    # -- hooks ----------------------------------------------------------

    def departure_data(self) -> Column:
        """Boolean Column over stop_times rows: true on replacement-bus
        departures (reference get_departure_data)."""
        if self.flag is None:
            return F.coalesce(F.col("platform") == "BUS", F.lit(False))
        if isinstance(self.flag, str):
            return F.coalesce(F.expr(self.flag), F.lit(False))
        return F.coalesce(self.flag, F.lit(False))

    def whole_trip_is_replacement_bus(self) -> Column:
        """Boolean Column over trips rows: true when the entire trip is
        a replacement bus (reference :294 — the trip is moved to the bus
        route without any leg splitting)."""
        if self.replacement_bus_short_name_pattern is None:
            return F.lit(False)
        return F.coalesce(
            F.col("short_name").rlike(self.replacement_bus_short_name_pattern),
            F.lit(False),
        )

    def bus_route_id(self, route_id: Column) -> Column:
        """Bus-route id for a parent route id (reference update_trip's
        ``{route_id}_BUS``)."""
        return F.concat(route_id, F.lit(self.bus_route_suffix))

    def make_bus_routes(self, routes: DataFrame, parent_route_ids: DataFrame) -> DataFrame:
        """New route rows for the given parent route ids (reference
        save_bus_replacement_route + update_bus_replacement_route:
        clone the parent, rewrite the id, set type BUS)."""
        return (
            routes.join(parent_route_ids, "route_id", "left_semi")
            .withColumn("route_id", self.bus_route_id(F.col("route_id")))
            .withColumn("type", F.lit(int(RouteType.BUS)))
        )

    def make_transfers(
        self, leg_pairs: DataFrame, existing_transfers: DataFrame
    ) -> DataFrame | None:
        """Transfer rows linking consecutive legs, or None for no
        transfers (reference get_transfer returning None). ``leg_pairs``
        has one row per (earlier leg, later leg) boundary:
        (trip_id, __out_leg, __xfer_stop, from_trip_id, to_trip_id).

        Ids must be deterministic (reference transfer.py:58-79 uses
        AUTOINCREMENT; parity needs stable numbering, not any specific
        order of work), so they are the global (trip_id, __out_leg)
        rank — computed by :func:`distributed_row_number` in
        ``span="global"`` mode (VERDICT r7 item 1: the per-trip count
        table is one row per multi-leg trip, row-scale on a big feed,
        so its old global-ordered prefix-sum window was the package's
        last data-proportional single-partition stage). The bucketed
        ranker's only scalar reduces are the one-row leading-key span
        and the one-row max-existing-id base — both bounded by the
        partition count, never the data."""
        from .ranks import distributed_row_number

        base_id = existing_transfers.agg(
            F.coalesce(F.max("transfer_id"), F.lit(0)).alias("m")
        )
        ranked = distributed_row_number(
            leg_pairs, ["trip_id", "__out_leg"], "__rank", span="global"
        )
        return (
            ranked.crossJoin(F.broadcast(base_id))
            .select(
                (F.col("__rank") + F.col("m")).cast("long").alias("transfer_id"),
                F.col("__xfer_stop").alias("from_stop_id"),
                F.col("__xfer_stop").alias("to_stop_id"),
                F.lit(None).cast("string").alias("from_route_id"),
                F.lit(None).cast("string").alias("to_route_id"),
                F.col("from_trip_id"),
                F.col("to_trip_id"),
                F.lit(self.transfer_type).alias("transfer_type"),
                F.lit(None).cast("int").alias("min_transfer_time"),
                F.lit(None).cast("map<string,string>").alias("extra_fields"),
            )
        )

    def _leg_trip_id(self, trip_id: Column, leg: Column) -> Column:
        return F.concat(trip_id, F.lit(self.leg_trip_id_infix), leg.cast("string"))

    def transform(self, feed: FeedDataset, runtime: TaskRuntime) -> FeedDataset:
        trips = feed["trips"]
        routes = feed["routes"]

        # scope to the selected routes (reference selector; default:
        # rail) — out-of-scope trips/stop_times pass through untouched
        sel_routes = self.routes.apply(routes).select("route_id")
        in_scope_trips = trips.join(F.broadcast(sel_routes), "route_id", "left_semi") \
            .select("trip_id")
        st_all = feed["stop_times"]
        st = st_all.join(in_scope_trips, "trip_id", "left_semi")
        st_out_of_scope = st_all.join(in_scope_trips, "trip_id", "left_anti")
        trips_out_of_scope = trips.join(in_scope_trips, "trip_id", "left_anti")
        trips = trips.join(in_scope_trips, "trip_id", "left_semi")

        # whole-trip replacement buses short-circuit the splitter
        # (reference compute_legs:137-138): the trip keeps its
        # stop_times and just moves to the bus route. Only wire the
        # extra branches into the plan when the hook can actually fire —
        # the default (pattern None) contributes zero plan nodes.
        wtb_active = (
            self.replacement_bus_short_name_pattern is not None
            or type(self).whole_trip_is_replacement_bus
            is not SplitTripLegs.whole_trip_is_replacement_bus
        )
        wtb_trips: DataFrame | None = None
        if wtb_active:
            wtb_trips = trips.filter(self.whole_trip_is_replacement_bus())
            wtb_ids = wtb_trips.select("trip_id")
            trips = trips.join(wtb_ids, "trip_id", "left_anti")
            st_wtb = st.join(wtb_ids, "trip_id", "left_semi")
            st = st.join(wtb_ids, "trip_id", "left_anti")

        w = Window.partitionBy("trip_id").orderBy("stop_sequence")
        cum = w.rowsBetween(Window.unboundedPreceding, 0)
        marked = (
            st.withColumn("__flag", self.departure_data())
            .withColumn(
                "__change",
                (F.lag("__flag").over(w).isNotNull()
                 & (F.lag("__flag").over(w) != F.col("__flag"))).cast("int"),
            )
            .withColumn(
                "__is_last",
                F.row_number().over(
                    Window.partitionBy("trip_id").orderBy(F.col("stop_sequence").desc())
                ) == 1,
            )
        )
        # a flag flip on the trip's LAST row would create a degenerate
        # 1-stop trailing leg; the reference drops it (split_trip_legs.py
        # compute_legs final `len(leg) > 1`), leaving that stop as the
        # previous leg's arrival-only terminus
        trailing = F.col("__is_last") & (F.col("__change") == 1)
        marked = (
            marked.withColumn(
                "departure_time",
                F.when(trailing, F.col("arrival_time")).otherwise(F.col("departure_time")),
            )
            .withColumn(
                "pickup_type",
                F.when(trailing, F.lit(int(PassengerExchange.NONE))).otherwise(
                    F.col("pickup_type")
                ),
            )
            .withColumn("__change", F.when(trailing, F.lit(0)).otherwise(F.col("__change")))
            .withColumn("__leg", F.sum("__change").over(cum))
            .drop("__is_last")
        )
        # the windowed frame feeds 5+ downstream branches (single-leg
        # rows, multi-leg main, boundary copies, per-leg metadata, trip
        # rewrites) — cut lineage once so each branch reuses the
        # materialized window result instead of re-running it
        marked = runtime.checkpoints.checkpoint(marked, eager=False)
        per_trip = marked.groupBy("trip_id").agg(
            (F.max("__leg") + 1).alias("__n_legs"),
            # a single-leg trip is "whole-bus" iff its LEADING flag is
            # bus (an absorbed trailing flip doesn't change the leg's
            # identity — reference update_trip_with_single_leg uses the
            # leg's own data)
            F.min(F.struct("stop_sequence", "__flag"))["__flag"]
            .cast("int").alias("__any_bus"),
        )
        marked = marked.join(per_trip, "trip_id")
        marked = runtime.checkpoints.checkpoint(marked, eager=False)

        # ---- single-leg trips: stop_times unchanged; whole-bus trips
        # just move to the cloned bus route -------------------------------
        single_st = marked.filter(F.col("__n_legs") == 1).drop(
            "__flag", "__change", "__leg", "__n_legs", "__any_bus"
        )

        # ---- multi-leg: boundary duplication + renumbering --------------
        multi = marked.filter(F.col("__n_legs") > 1)
        main = multi.withColumn("__out_leg", F.col("__leg"))
        # the first row of each leg>0 is the boundary: copy it into the
        # previous leg as an arrival-only stop (reference
        # split_trip_legs.py:97-160)
        boundary_prev = (
            multi.filter((F.col("__change") == 1))
            .withColumn("__out_leg", F.col("__leg") - 1)
            .withColumn("departure_time", F.col("arrival_time"))
            .withColumn("pickup_type", F.lit(int(PassengerExchange.NONE)))
        )
        # ... and make the original (in its own leg) departure-only
        main = main.withColumn(
            "drop_off_type",
            F.when(F.col("__change") == 1, F.lit(int(PassengerExchange.NONE))).otherwise(
                F.col("drop_off_type")
            ),
        ).withColumn(
            "arrival_time",
            F.when(F.col("__change") == 1, F.col("departure_time")).otherwise(
                F.col("arrival_time")
            ),
        )
        multi_all = main.unionByName(boundary_prev)
        new_tid = self._leg_trip_id(F.col("trip_id"), F.col("__out_leg"))
        w_new = Window.partitionBy("trip_id", "__out_leg").orderBy(
            "stop_sequence", F.col("__change").desc()
        )
        multi_st = (
            multi_all.withColumn("stop_sequence", F.row_number().over(w_new) - 1)
            .withColumn("trip_id", new_tid)
            .drop("__flag", "__change", "__leg", "__n_legs", "__any_bus", "__out_leg")
        )

        new_stop_times = single_st.unionByName(multi_st)
        if wtb_trips is not None:
            new_stop_times = new_stop_times.unionByName(st_wtb)

        # ---- per-leg metadata (tiny: one row per leg) -------------------
        legs = (
            multi.groupBy("trip_id", "__leg")
            .agg(
                # the leg's flag is its FIRST row's flag (an absorbed
                # trailing arrival-only stop may carry the other flag)
                F.min(F.struct("stop_sequence", "__flag"))["__flag"].alias("__is_bus"),
                F.min(F.struct("stop_sequence", "stop_id")).alias("__first"),
            )
            .withColumnRenamed("__leg", "__out_leg")
        )

        # ---- new trips table --------------------------------------------
        whole_bus = per_trip.filter((F.col("__n_legs") == 1) & (F.col("__any_bus") == 1))
        split_ids = per_trip.filter(F.col("__n_legs") > 1).select("trip_id")

        # single-leg trips (possibly rerouted to the bus clone)
        kept_trips = (
            trips.join(split_ids, "trip_id", "left_anti")
            .join(whole_bus.select("trip_id").withColumn("__wb", F.lit(1)),
                  "trip_id", "left")
            .withColumn(
                "route_id",
                F.when(F.col("__wb").isNotNull(),
                       self.bus_route_id(F.col("route_id")))
                .otherwise(F.col("route_id")),
            )
            .drop("__wb")
        )
        # replacement trips, one per leg
        leg_trips = (
            trips.join(
                legs.select("trip_id", "__out_leg", "__is_bus"), "trip_id"
            )
            .withColumn(
                "route_id",
                F.when(F.col("__is_bus"),
                       self.bus_route_id(F.col("route_id")))
                .otherwise(F.col("route_id")),
            )
            .withColumn("trip_id", self._leg_trip_id(F.col("trip_id"), F.col("__out_leg")))
            .drop("__out_leg", "__is_bus")
        )
        new_trips = kept_trips.unionByName(leg_trips)
        if wtb_trips is not None:
            new_trips = new_trips.unionByName(
                wtb_trips.withColumn("route_id", self.bus_route_id(F.col("route_id")))
            )

        # ---- cloned bus routes ------------------------------------------
        bus_parents = (
            trips.join(
                legs.filter(F.col("__is_bus")).select("trip_id").distinct(),
                "trip_id", "left_semi",
            ).select("route_id")
            .unionByName(
                trips.join(whole_bus.select("trip_id"), "trip_id", "left_semi")
                .select("route_id")
            )
        )
        if wtb_trips is not None:
            bus_parents = bus_parents.unionByName(wtb_trips.select("route_id"))
        bus_parents = bus_parents.distinct()
        bus_routes = self.make_bus_routes(routes, bus_parents)
        new_routes = routes.unionByName(bus_routes)

        # ---- transfers between consecutive legs (hookable) --------------
        next_legs = legs.select(
            "trip_id",
            (F.col("__out_leg") - 1).alias("__out_leg"),
            F.col("__first.stop_id").alias("__xfer_stop"),
        ).filter(F.col("__out_leg") >= 0)
        pair = (
            legs.select("trip_id", "__out_leg")
            .join(next_legs, ["trip_id", "__out_leg"])
            .withColumn(
                "from_trip_id", self._leg_trip_id(F.col("trip_id"), F.col("__out_leg"))
            )
            .withColumn(
                "to_trip_id", self._leg_trip_id(F.col("trip_id"), F.col("__out_leg") + 1)
            )
        )
        new_transfers = self.make_transfers(pair, feed["transfers"])

        # split (deleted) trip ids cascade into frequencies and existing
        # transfers, as SQLite's ON DELETE CASCADE did for the reference
        frequencies = feed["frequencies"].join(split_ids, "trip_id", "left_anti")
        old_transfers = feed["transfers"]
        for col in ("from_trip_id", "to_trip_id"):
            old_transfers = old_transfers.join(
                split_ids.select(F.col("trip_id").alias(col)), col, "left_anti"
            )

        out_transfers = (
            old_transfers.unionByName(new_transfers)
            if new_transfers is not None
            else old_transfers
        )
        return feed.with_tables({
            "stop_times": new_stop_times.unionByName(st_out_of_scope),
            "trips": new_trips.unionByName(trips_out_of_scope),
            "routes": new_routes,
            "frequencies": frequencies,
            "transfers": out_transfers,
        })
