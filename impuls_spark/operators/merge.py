"""Merge — combine N versioned feeds into one continuous dataset.

Parity target: reference impuls/tasks/merge.py:105-627. Per-entity
strategies, mirrored:

- **dedup by id** (agencies, attributions; merge.py:315-321): same id in
  a later feed = same entity; first feed wins.
- **dedup by content hash** (routes: (agency_id, short_name, type,
  color), merge.py:39-59,341-367; stops: attribute hash **plus a greedy
  ≤10 m haversine match within equal-hash groups**, merge.py:62-88,
  387-425,612-627): equal-content entities collapse onto the earliest
  feed's row; all references are remapped through a mapping frame.
- **never merge, always prefix** (calendars, trips, stop_times, shapes,
  frequencies, fares, transfers, calendar_exceptions;
  merge.py:427-525): ids become ``{prefix}:{id}`` so disjoint versions
  coexist.
- **feed_info reduce** (merge.py:557-579): min/max dates, versions
  joined with '/'.

Id conflicts between *different-content* winners are resolved with a
deterministic ``:N`` suffix (the reference probes numeric suffixes via
find_non_conflicting_id, impuls/tools/strings.py:72-92 — same
uniqueness guarantee, simpler scheme, order-stable).

Scale shape: every strategy is a union + window/groupBy keyed on the
entity id or content hash; the only non-relational piece is the greedy
geo match, which runs ``applyInPandas`` per content-hash group (groups
are tiny by construction — stops sharing name/code/zone — and the
in-block pass is grid-indexed O(b), with an opt-in coarse geo-cell
pre-split for mega-blocks; see ``_make_greedy_geo_match``). Mapping
frames are dimension-sized and broadcast into the big-table remaps.
Like the reference, the stop-merge outcome depends on feed order.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..feed import FeedDataset
from ..task import BaseTask, TaskRuntime
from ..tools.checkpoints import Checkpoints
from .ranks import distributed_row_number
SEP = ":"
STOP_MERGE_DISTANCE_M = 10.0


def _prefix(col: str, prefix_col) -> F.Column:
    return F.concat(prefix_col, F.lit(SEP), F.col(col))


def _make_greedy_geo_match(dist_m: float):
    """Build the per-block greedy first-wins geo matcher (reference
    merge.py:387-425) as a self-contained closure: everything it touches
    is defined inside, so cloudpickle ships it by value and executor
    Python workers don't need ``impuls_spark`` importable.

    Exact greedy semantics, made near-linear with a spatial grid over
    the ACCEPTED set: accepted stops are pairwise > ``dist_m`` apart by
    construction (a stop within range of one merges instead of being
    accepted), so with a cell edge >= ``dist_m`` each 3x3 neighborhood
    holds O(1) accepted stops and the whole block is O(b) — a 10k-stop
    pathological same-hash block no longer goes O(b^2).  "First wins" is
    recovered by taking the minimum acceptance order among in-range
    candidates; output is bit-identical to the naive ordered scan
    (pinned by test)."""
    import math

    def _hav_m(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
        dlat = math.radians(lat2 - lat1)
        dlon = math.radians(lon2 - lon1)
        a = (
            math.sin(dlat / 2) ** 2
            + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
            * math.sin(dlon / 2) ** 2
        )
        return 2 * 6371008.8 * math.asin(math.sqrt(a))

    def greedy(pdf):
        import pandas as pd  # noqa: F811 — ships with the closure

        pdf = pdf.sort_values(["__ix", "stop_id"], kind="mergesort")
        # Cell edge must be STRICTLY larger than dist_m in degrees or a
        # knife-edge pair can span 2 cells: spherical meters/deg lat is
        # ~111,195, so dividing by 110,000 oversizes cells ~1%.
        # Longitude shrinks by cos(lat); use the block's max |lat|
        # (smallest cos) so the bound holds for every row. Past 89
        # degrees cos underflows toward 0 (cells would have to span the
        # globe), so near-polar blocks take the exact naive ordered
        # scan instead — rare and small in practice, never wrong.
        max_abs_lat = float(pdf["lat"].abs().max()) if len(pdf) else 0.0
        use_grid = max_abs_lat <= 89.0
        dlat = dist_m / 110_000.0
        dlon = (
            dist_m / (110_000.0 * math.cos(math.radians(max_abs_lat)))
            if use_grid
            else 360.0
        )
        accepted = []  # (ix, id, lat, lon), in acceptance order
        grid = {}  # (cell_i, cell_j) -> [indexes into accepted]
        out = []

        def cells_j(lon: float) -> list[int]:
            # register near-seam stops under both signs of the +-180
            # antimeridian so a pair straddling it is still a 3x3
            # neighbor (haversine itself handles the wrapped delta)
            cjs = [int(lon // dlon)]
            if lon >= 180.0 - dlon:
                cjs.append(int((lon - 360.0) // dlon))
            if lon <= -180.0 + dlon:
                cjs.append(int((lon + 360.0) // dlon))
            return cjs

        # plain tuples: itertuples mangles dunder-prefixed names
        for ix, sid, lat, lon in zip(
            pdf["__ix"], pdf["stop_id"], pdf["lat"], pdf["lon"]
        ):
            best = None  # smallest acceptance index within dist_m
            if use_grid:
                ci, cj = int(lat // dlat), int(lon // dlon)
                for di in (-1, 0, 1):
                    for dj in (-1, 0, 1):
                        for k in grid.get((ci + di, cj + dj), ()):
                            if best is not None and k >= best:
                                continue
                            if _hav_m(
                                lat, lon, accepted[k][2], accepted[k][3]
                            ) <= dist_m:
                                best = k
            else:
                for k in range(len(accepted)):
                    if _hav_m(lat, lon, accepted[k][2], accepted[k][3]) <= dist_m:
                        best = k
                        break
            if best is None:
                if use_grid:
                    for cjx in cells_j(lon):
                        grid.setdefault((ci, cjx), []).append(len(accepted))
                accepted.append((ix, sid, lat, lon))
                target = (ix, sid)
            else:
                target = (accepted[best][0], accepted[best][1])
            out.append((int(ix), sid, int(target[0]), target[1]))
        return pd.DataFrame(
            out, columns=["__ix", "stop_id", "__w_ix", "__w_id"]
        )

    return greedy


class Merge(BaseTask):
    """``sources`` is an ordered list of (prefix, FeedDataset); earlier
    feeds win all dedup ties.

    Its cuts are lazy local checkpoints (``runtime.checkpoints``) like
    every other cut of a pipeline run, so no other kind of cut here
    alone would make a run survive an executor loss."""

    def __init__(self, sources: Sequence[tuple[str, FeedDataset]],
                 distance_m: float = STOP_MERGE_DISTANCE_M,
                 geo_presplit_deg: float | None = None) -> None:
        if not sources:
            raise ValueError("Merge needs at least one source feed")
        self.sources = list(sources)
        self.distance_m = distance_m
        # Opt-in mega-block distribution: include a floor(lat/deg),
        # floor(lon/deg) coarse cell in the stop blocking key so a
        # pathological content-hash block (hundreds of thousands of
        # same-name stops) spreads across tasks.  APPROXIMATE at cell
        # boundaries — a pair within distance_m straddling two cells no
        # longer merges — so it is off by default; the exact path is
        # already near-linear via the in-block spatial grid.
        if geo_presplit_deg is not None and geo_presplit_deg <= 0:
            raise ValueError("geo_presplit_deg must be positive")
        self.geo_presplit_deg = geo_presplit_deg

    # -- helpers -------------------------------------------------------

    def _union(self, table: str) -> DataFrame:
        parts = []
        for ix, (prefix, feed) in enumerate(self.sources):
            parts.append(
                feed[table]
                .withColumn("__ix", F.lit(ix))
                .withColumn("__prefix", F.lit(prefix))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _dedup_by_id(df: DataFrame, id_col: str) -> DataFrame:
        w = Window.partitionBy(id_col).orderBy("__ix")
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__ix", "__prefix")
        )

    # -- routes --------------------------------------------------------

    def _merge_routes(self, routes_all: DataFrame):
        """Returns (merged routes, mapping df [__ix, route_id, __new_route_id])."""
        # content hash INCLUDES the id (reference RouteHash,
        # merge.py:40-59): different-id routes are never collapsed, only
        # same-id same-content duplicates across feeds merge
        hashed = routes_all.withColumn(
            "__hash",
            F.md5(F.concat_ws("\x1f", "route_id", "agency_id", "short_name",
                              F.col("type").cast("string"),
                              F.coalesce("color", F.lit("")))),
        )
        w_grp = Window.partitionBy("__hash").orderBy("__ix", "route_id")
        with_win = hashed.withColumn("__rn", F.row_number().over(w_grp))
        winners = with_win.filter(F.col("__rn") == 1)
        # id conflicts among different-content winners -> :N suffix
        w_id = Window.partitionBy("route_id").orderBy("__ix", "__hash")
        winners = winners.withColumn("__idrn", F.row_number().over(w_id)).withColumn(
            "__final_id",
            F.when(F.col("__idrn") == 1, F.col("route_id")).otherwise(
                F.concat_ws(SEP, "route_id", F.col("__idrn").cast("string"))
            ),
        )
        mapping = (
            with_win.select("__ix", "route_id", "__hash")
            .join(winners.select("__hash", "__final_id"), "__hash")
            .select("__ix", "route_id", F.col("__final_id").alias("__new_route_id"))
        )
        merged = (
            winners.withColumn("route_id", F.col("__final_id"))
            .drop("__hash", "__rn", "__idrn", "__final_id", "__ix", "__prefix")
        )
        return merged, mapping

    # -- stops ---------------------------------------------------------

    def _merge_stops(self, stops_all: DataFrame, cps: Checkpoints):
        """Content-hash blocking + greedy first-wins geo match (≤10 m)
        within each block (reference merge.py:387-425). Per-block greedy
        pass runs in pandas, grid-indexed so even a pathological
        mega-block is O(b); ``geo_presplit_deg`` additionally spreads
        such a block across tasks (approximate at cell edges)."""
        # hash includes id + parent/wheelchair/platform attributes
        # (reference StopHash, merge.py:62-88): e.g. two platform poles
        # with platform_code '1' vs '2' must never geo-merge
        hashed = stops_all.withColumn(
            "__hash",
            F.md5(F.concat_ws(
                "\x1f", "stop_id", "name",
                F.coalesce("code", F.lit("")),
                F.coalesce("zone_id", F.lit("")),
                F.col("location_type").cast("string"),
                F.coalesce("parent_station", F.lit("")),
                F.coalesce(F.col("wheelchair_boarding").cast("string"), F.lit("")),
                F.coalesce("platform_code", F.lit("")),
            )),
        )
        greedy = _make_greedy_geo_match(self.distance_m)

        if self.geo_presplit_deg is not None:
            # mega-block distribution: fold a coarse geo-cell into the
            # blocking key (SCALING.md Merge row).  Approximate at cell
            # boundaries, hence opt-in; see __init__.
            cell = F.concat_ws(
                ",",
                F.floor(F.col("lat") / self.geo_presplit_deg).cast("string"),
                F.floor(F.col("lon") / self.geo_presplit_deg).cast("string"),
            )
            hashed = hashed.withColumn(
                "__hash", F.concat_ws("|", "__hash", cell)
            )
        pairs = (
            hashed.select("__hash", "__ix", "stop_id", "lat", "lon")
            .groupBy("__hash")
            .applyInPandas(
                greedy,
                "__ix int, stop_id string, __w_ix int, __w_id string",
            )
        )
        # the pairs frame fans out to winners + the stop mapping, and
        # the mapping feeds EVERY stop-id remap site (transfers twice,
        # translations, parent_station, ...) — without a lineage cut
        # each site re-embeds and RE-EXECUTES the geo-match pandas
        # subtree (the r8 e2e plan audit counted 36 FlatMapGroupsInPandas
        # nodes in the merged transfers plan alone). Materialize once.
        pairs = cps.checkpoint(pairs, eager=False)
        winners_keys = pairs.filter(
            (F.col("__ix") == F.col("__w_ix")) & (F.col("stop_id") == F.col("__w_id"))
        ).select("__ix", "stop_id")

        winners = stops_all.join(winners_keys, ["__ix", "stop_id"], "left_semi")
        w_id = Window.partitionBy("stop_id").orderBy("__ix")
        winners = (
            winners.withColumn("__idrn", F.row_number().over(w_id))
            .withColumn(
                "__final_id",
                F.when(F.col("__idrn") == 1, F.col("stop_id")).otherwise(
                    F.concat_ws(SEP, "stop_id", F.col("__idrn").cast("string"))
                ),
            )
        )
        mapping = (
            pairs.join(
                winners.select(
                    F.col("__ix").alias("__w_ix"),
                    F.col("stop_id").alias("__w_id"),
                    "__final_id",
                ),
                ["__w_ix", "__w_id"],
            )
            .select("__ix", "stop_id", F.col("__final_id").alias("__new_stop_id"))
        )
        # winners keep __ix/__final_id so the caller can remap
        # parent_station (a same-feed reference) before finalizing ids
        return winners, mapping

    # -- main ----------------------------------------------------------

    def merged(self, runtime: TaskRuntime) -> FeedDataset:
        spark = runtime.spark
        cps = runtime.checkpoints

        agencies = self._dedup_by_id(self._union("agencies"), "agency_id")
        attributions = self._dedup_by_id(self._union("attributions"), "attribution_id")

        routes, route_map = self._merge_routes(self._union("routes"))
        stop_winners, stop_map = self._merge_stops(self._union("stops"), cps)
        # mapping frames feed one remap site per FK column across the
        # whole feed; cut their window/join lineage so each site reuses
        # a materialized map instead of replaying it (broadcast hints at
        # the sites stay explicit — checkpointed frames are statsless)
        route_map = cps.checkpoint(route_map, eager=False)
        stop_map = cps.checkpoint(stop_map, eager=False)

        def remap(df: DataFrame, col: str, mapping: DataFrame,
                  key: str, new: str) -> DataFrame:
            m = mapping.select(
                "__ix", F.col(key).alias(col), F.col(new).alias("__mapped")
            )
            return (
                df.join(F.broadcast(m), ["__ix", col], "left")
                .withColumn(col, F.coalesce(F.col("__mapped"), F.col(col)))
                .drop("__mapped")
            )

        # parent_station is a same-feed reference: remap it through the
        # stop mapping, then finalize winner ids
        stops = (
            remap(stop_winners, "parent_station", stop_map, "stop_id", "__new_stop_id")
            .withColumn("stop_id", F.col("__final_id"))
            .drop("__idrn", "__final_id", "__ix", "__prefix", "__hash")
        )

        prefix_tables: dict[str, DataFrame] = {}

        cal = self._union("calendars").withColumn(
            "calendar_id", _prefix("calendar_id", F.col("__prefix"))
        )
        prefix_tables["calendars"] = cal.drop("__ix", "__prefix")

        cexc = self._union("calendar_exceptions").withColumn(
            "calendar_id", _prefix("calendar_id", F.col("__prefix"))
        )
        prefix_tables["calendar_exceptions"] = cexc.drop("__ix", "__prefix")

        shapes = self._union("shapes").withColumn(
            "shape_id", _prefix("shape_id", F.col("__prefix"))
        )
        prefix_tables["shapes"] = shapes.drop("__ix", "__prefix")

        shape_points = self._union("shape_points").withColumn(
            "shape_id", _prefix("shape_id", F.col("__prefix"))
        )
        prefix_tables["shape_points"] = shape_points.drop("__ix", "__prefix")

        trips = self._union("trips")
        trips = remap(trips, "route_id", route_map, "route_id", "__new_route_id")
        trips = (
            trips.withColumn("trip_id", _prefix("trip_id", F.col("__prefix")))
            .withColumn("calendar_id", _prefix("calendar_id", F.col("__prefix")))
            .withColumn(
                "shape_id",
                F.when(F.col("shape_id").isNotNull(),
                       _prefix("shape_id", F.col("__prefix"))),
            )
            .withColumn(
                "block_id",
                F.when(F.col("block_id").isNotNull(),
                       _prefix("block_id", F.col("__prefix"))),
            )
        )
        prefix_tables["trips"] = trips.drop("__ix", "__prefix")

        st = self._union("stop_times")
        st = remap(st, "stop_id", stop_map, "stop_id", "__new_stop_id")
        st = st.withColumn("trip_id", _prefix("trip_id", F.col("__prefix")))
        prefix_tables["stop_times"] = st.drop("__ix", "__prefix")

        freq = self._union("frequencies").withColumn(
            "trip_id", _prefix("trip_id", F.col("__prefix"))
        )
        prefix_tables["frequencies"] = freq.drop("__ix", "__prefix")

        fares = self._union("fare_attributes").withColumn(
            "fare_id", _prefix("fare_id", F.col("__prefix"))
        )
        prefix_tables["fare_attributes"] = fares.drop("__ix", "__prefix")

        frules = self._union("fare_rules")
        frules = remap(frules, "route_id", route_map, "route_id", "__new_route_id")
        frules = frules.withColumn("fare_id", _prefix("fare_id", F.col("__prefix")))
        # surrogate ids are the global (__ix, old_id) rank, but computed
        # WITHOUT a global-ordered window (VERDICT r6 item 1): the
        # reference only needs deterministic AUTOINCREMENT-like ids
        # (impuls/tasks/merge.py:457-458,517-518,536-537), and these
        # tables are row-scale (translations ~ records x languages), so
        # an Exchange SinglePartition here is a 100x bottleneck.
        frules = distributed_row_number(
            frules, ["__ix", "fare_rule_id"], "fare_rule_id"
        )
        prefix_tables["fare_rules"] = frules.drop("__ix", "__prefix")

        xfer = self._union("transfers")
        xfer = remap(xfer, "from_stop_id", stop_map, "stop_id", "__new_stop_id")
        xfer = remap(xfer, "to_stop_id", stop_map, "stop_id", "__new_stop_id")
        xfer = remap(xfer, "from_route_id", route_map, "route_id", "__new_route_id")
        xfer = remap(xfer, "to_route_id", route_map, "route_id", "__new_route_id")
        for c in ("from_trip_id", "to_trip_id"):
            xfer = xfer.withColumn(
                c, F.when(F.col(c).isNotNull(), _prefix(c, F.col("__prefix")))
            )
        xfer = distributed_row_number(xfer, ["__ix", "transfer_id"], "transfer_id")
        prefix_tables["transfers"] = xfer.drop("__ix", "__prefix")

        # translations (reference selector rules, merge.py:527-544):
        # trips/stop_times record ids are trip ids -> prefixed;
        # stops/routes record ids go through the merge mappings;
        # feed_info translations are dropped (the merged feed_info is
        # synthesized, its translations are meaningless)
        trans = self._union("translations").filter(
            F.col("table_name") != "feed_info"
        )
        trans = trans.withColumn(
            "record_id",
            F.when(
                F.col("table_name").isin("trips", "stop_times")
                & F.col("record_id").isNotNull(),
                _prefix("record_id", F.col("__prefix")),
            ).otherwise(F.col("record_id")),
        )
        for tbl, mapping, key, new in (
            ("stops", stop_map, "stop_id", "__new_stop_id"),
            ("routes", route_map, "route_id", "__new_route_id"),
        ):
            m = mapping.select(
                F.col("__ix").alias("__m_ix"),
                F.col(key).alias("__m_rec"),
                F.col(new).alias("__mapped_rec"),
            )
            trans = (
                trans.join(
                    F.broadcast(m),
                    (F.col("table_name") == tbl)
                    & (F.col("__ix") == F.col("__m_ix"))
                    & (F.col("record_id") == F.col("__m_rec")),
                    "left",
                )
                .withColumn(
                    "record_id",
                    F.coalesce(F.col("__mapped_rec"), F.col("record_id")),
                )
                .drop("__m_ix", "__m_rec", "__mapped_rec")
            )
        trans = distributed_row_number(
            trans, ["__ix", "translation_id"], "translation_id"
        )
        prefix_tables["translations"] = trans.drop("__ix", "__prefix")

        etr = self._union("extra_table_rows")
        etr = distributed_row_number(
            etr, ["__ix", "extra_table_row_id"], "extra_table_row_id"
        )
        prefix_tables["extra_table_rows"] = etr.drop("__ix", "__prefix")

        # feed_info: min/max dates + '/'-joined versions (merge.py:557-579)
        fi = self._union("feed_info")
        fi_first = self._dedup_by_id(fi, "feed_info_id")
        fi_agg = fi.agg(
            F.min("start_date").alias("__min_start"),
            F.max("end_date").alias("__max_end"),
            # collect_list has no cross-partition order guarantee: sort
            # by feed index so the joined version string is stable
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__ix", "version"))),
                    lambda s: s["version"],
                ),
                "/",
            ).alias("__versions"),
        )
        feed_info = (
            fi_first.crossJoin(F.broadcast(fi_agg))
            .withColumn("start_date", F.col("__min_start"))
            .withColumn("end_date", F.col("__max_end"))
            .withColumn("version", F.col("__versions"))
            .drop("__min_start", "__max_end", "__versions")
        )

        out = FeedDataset.empty(spark)
        return out.with_tables({
            "agencies": agencies,
            "attributions": attributions,
            "routes": routes,
            "stops": stops,
            "feed_info": feed_info,
            **prefix_tables,
        })

    def transform(self, feed: FeedDataset, runtime: TaskRuntime) -> FeedDataset:
        return self.merged(runtime)
