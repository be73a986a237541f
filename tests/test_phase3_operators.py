"""Phase-3 tests: SplitTripLegs sessionization + Merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impuls_spark.operators import Merge, SplitTripLegs
from impuls_spark.task import TaskRuntime


@pytest.fixture()
def rt(spark):
    return TaskRuntime(spark)


# ---------------------------------------------------------------------------
# SplitTripLegs
# ---------------------------------------------------------------------------

def test_split_trip_legs(feed, rt):
    out = SplitTripLegs().transform(feed, rt)

    # ZA* routes have platform='BUS' from stop_sequence>=2: every ZA trip
    # splits into exactly 2 legs
    za_trip = "C-ZA1-000"
    legs = (
        out["stop_times"].filter(F.col("trip_id").startswith(za_trip + "_"))
        .select("trip_id").distinct().collect()
    )
    assert {r[0] for r in legs} == {za_trip + "_0", za_trip + "_1"}
    # original multi-leg trip is gone
    assert out["trips"].filter(F.col("trip_id") == za_trip).count() == 0

    orig = feed["stop_times"].filter(F.col("trip_id") == za_trip).orderBy("stop_sequence").collect()
    leg0 = out["stop_times"].filter(F.col("trip_id") == za_trip + "_0").orderBy("stop_sequence").collect()
    leg1 = out["stop_times"].filter(F.col("trip_id") == za_trip + "_1").orderBy("stop_sequence").collect()

    # boundary stop duplicated: leg0 = rows [0,1] + boundary copy; leg1
    # starts at the boundary stop
    assert len(leg0) + len(leg1) == len(orig) + 1
    boundary = orig[2]
    assert leg0[-1]["stop_id"] == boundary["stop_id"]
    assert leg1[0]["stop_id"] == boundary["stop_id"]
    # arrival-only copy: no pickup, departure == arrival
    assert leg0[-1]["pickup_type"] == 1
    assert leg0[-1]["departure_time"] == leg0[-1]["arrival_time"]
    # departure-only boundary in the later leg: no drop-off
    assert leg1[0]["drop_off_type"] == 1
    # sequences renumbered 0..n
    assert [r["stop_sequence"] for r in leg0] == list(range(len(leg0)))
    assert [r["stop_sequence"] for r in leg1] == list(range(len(leg1)))

    # bus leg rides a cloned _BUS route of type 3; non-bus leg keeps route
    trips_out = {r["trip_id"]: r for r in out["trips"].collect()}
    assert trips_out[za_trip + "_0"]["route_id"] == "ZA1"
    assert trips_out[za_trip + "_1"]["route_id"] == "ZA1_BUS"
    routes = {r["route_id"]: r for r in out["routes"].collect()}
    assert routes["ZA1_BUS"]["type"] == 3

    # TIMED transfer links consecutive legs at the boundary stop
    xfer = out["transfers"].filter(
        (F.col("from_trip_id") == za_trip + "_0")
        & (F.col("to_trip_id") == za_trip + "_1")
    ).collect()
    assert len(xfer) == 1
    assert xfer[0]["transfer_type"] == 1
    assert xfer[0]["from_stop_id"] == boundary["stop_id"]

    # A1 trips (no BUS platform) are untouched
    a1 = out["stop_times"].filter(F.col("trip_id") == "D-A1-001").count()
    assert a1 == feed["stop_times"].filter(F.col("trip_id") == "D-A1-001").count()


def test_split_trip_legs_total_conservation(feed, rt):
    out = SplitTripLegs().transform(feed, rt)
    n_multi_trips = 2 * 62  # every ZA1/ZA12 trip has exactly one boundary
    assert out["stop_times"].count() == feed["stop_times"].count() + n_multi_trips
    assert out["trips"].count() == feed["trips"].count() + n_multi_trips
    assert out["transfers"].count() == feed["transfers"].count() + n_multi_trips


# ---------------------------------------------------------------------------
# Merge
# ---------------------------------------------------------------------------

def _second_feed(spark, tmp_path_factory):
    from tests.fixtures.make_feed import write_feed
    from impuls_spark.sources import load_gtfs

    def mutate(rows):
        # shift dates a month later; move one stop >10m; rename another
        for c in rows["calendar.txt"]:
            c["start_date"] = "20270601"
            c["end_date"] = "20280530"
        rows["stops.txt"][0]["stop_lat"] = str(float(rows["stops.txt"][0]["stop_lat"]) + 0.01)
        rows["stops.txt"][1]["stop_name"] = "Renamed Ochota"
        rows["feed_info.txt"][0]["feed_version"] = "2027-06-01"

    target = tmp_path_factory.mktemp("feed2") / "wkd_next"
    write_feed(str(target), mutate=mutate)
    return load_gtfs(spark, str(target))


def test_merge_two_feeds(spark, feed, rt, tmp_path_factory):
    feed2 = _second_feed(spark, tmp_path_factory)
    merged = Merge([("v1", feed), ("v2", feed2)]).transform(feed, rt)

    # agencies dedup by id
    assert merged["agencies"].count() == 1
    # routes identical content -> deduped
    assert merged["routes"].count() == 3
    # trips/calendars prefixed, never merged
    assert merged["trips"].count() == 2 * feed["trips"].count()
    tids = [r[0] for r in merged["trips"].select("trip_id").limit(5).collect()]
    assert all(t.startswith(("v1:", "v2:")) for t in tids)

    # stops: 26 identical pairs merged; the moved stop (>10m) and the
    # renamed stop (different hash) stay separate
    assert merged["stops"].count() == 28 + 2

    # moved stop kept both copies with distinct ids
    wkd00 = merged["stops"].filter(F.col("name") == "Warszawa Srodmiescie WKD").collect()
    assert len(wkd00) == 2
    assert {r["stop_id"] for r in wkd00} == {"wkd00", "wkd00:2"}

    # stop_times reference merged stop ids (no dangling references)
    st_stops = merged["stop_times"].select("stop_id").distinct()
    dangling = st_stops.join(merged["stops"].select("stop_id"), "stop_id", "left_anti")
    assert dangling.count() == 0

    # feed_info: min/max dates and joined version
    fi = merged["feed_info"].collect()[0]
    assert fi["version"] == "2026-06-01/2027-06-01"


def test_merge_route_id_conflict_suffix(spark, feed, rt, tmp_path_factory):
    """Same route_id, different content (color changed) -> both kept,
    the later feed's route gets a :N suffix; its trips follow the
    remapped id (reference find_non_conflicting_id semantics)."""
    from tests.fixtures.make_feed import write_feed
    from impuls_spark.sources import load_gtfs

    def recolor(rows):
        rows["routes.txt"][0]["route_color"] = "FF0000"

    target = tmp_path_factory.mktemp("feed_c") / "wkd_recolored"
    feed2 = load_gtfs(spark, write_feed(str(target), mutate=recolor))
    merged = Merge([("v1", feed), ("v2", feed2)]).transform(feed, rt)

    a1 = {r["route_id"]: r for r in merged["routes"]
          .filter(F.col("route_id").startswith("A1")).collect()}
    assert set(a1) == {"A1", "A1:2"}
    assert a1["A1"]["color"] == "990099"     # first feed wins the bare id
    assert a1["A1:2"]["color"] == "FF0000"
    # v2 trips follow the suffixed id
    v2_routes = {
        r[0] for r in merged["trips"].filter(F.col("trip_id").startswith("v2:"))
        .select("route_id").distinct().collect()
    }
    assert "A1:2" in v2_routes and "A1" not in v2_routes
    # no dangling route references anywhere
    dangling = (
        merged["trips"].select("route_id").distinct()
        .join(merged["routes"].select("route_id"), "route_id", "left_anti")
    )
    assert dangling.count() == 0


def test_merge_preserves_active_service(spark, feed, rt, tmp_path_factory):
    """MultiFile semantics: each version is truncated to its validity
    window before merging (the reference auto-prepends TruncateCalendars,
    multi_file.py:505-525); the merged feed then serves a continuous
    range with no overlap."""
    import datetime

    from impuls_spark.operators import TruncateCalendars, active_days
    from impuls_spark.tools.temporal import DateRange

    D = datetime.date
    feed2 = _second_feed(spark, tmp_path_factory)
    v1 = TruncateCalendars(DateRange.bounded(D(2026, 6, 1), D(2027, 5, 31))).transform(feed, rt)
    v2 = TruncateCalendars(DateRange.bounded(D(2027, 6, 1), D(2028, 5, 30))).transform(feed2, rt)
    merged = Merge([("v1", v1), ("v2", v2)]).transform(feed, rt)
    days = active_days(merged)
    v1_max = days.filter(F.col("calendar_id").startswith("v1:")).agg(F.max("date")).collect()[0][0]
    v2_min = days.filter(F.col("calendar_id").startswith("v2:")).agg(F.min("date")).collect()[0][0]
    assert v1_max <= D(2027, 5, 31)
    assert v2_min >= D(2027, 6, 1)
