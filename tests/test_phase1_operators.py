"""Phase-1 operator tests: ExecuteSQL rewrites, AddEntity,
RemoveUnusedEntities cascades, ModifyFromCSV, selector, AssignDirections."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impuls_spark.errors import DataError, MultipleDataErrors
from impuls_spark.operators import (
    AddEntity,
    AssignDirections,
    ExecuteSQL,
    ModifyRoutesFromCSV,
    ModifyStopsFromCSV,
    RemoveUnusedEntities,
)
from impuls_spark.selector import Routes
from impuls_spark.task import TaskRuntime


@pytest.fixture()
def rt(spark):
    return TaskRuntime(spark)


def test_exec_sql_update(feed, rt):
    out = ExecuteSQL(
        statement="UPDATE routes SET short_name = 'X' || route_id, sort_order = 5 "
                  "WHERE route_id LIKE 'ZA%'"
    ).transform(feed, rt)
    rows = {r["route_id"]: r for r in out["routes"].collect()}
    assert rows["ZA1"]["short_name"] == "XZA1"
    assert rows["ZA1"]["sort_order"] == 5
    assert rows["A1"]["short_name"] == "A1"
    assert rows["A1"]["sort_order"] is None


def test_exec_sql_update_sees_pre_update_row(feed, rt):
    # SET a=b, b=a must swap (SQL semantics), not copy twice
    out = ExecuteSQL(
        statement="UPDATE routes SET short_name = long_name, long_name = short_name "
                  "WHERE route_id = 'A1'"
    ).transform(feed, rt)
    row = out["routes"].filter(F.col("route_id") == "A1").collect()[0]
    assert row["long_name"] == "A1"
    assert row["short_name"].startswith("Warszawa")


def test_exec_sql_delete(feed, rt):
    out = ExecuteSQL(
        statement="DELETE FROM routes WHERE route_id LIKE 'ZA%'"
    ).transform(feed, rt)
    assert out["routes"].count() == 1


def test_exec_sql_select_with_udf(feed, rt):
    out = ExecuteSQL(
        table="routes",
        statement="SELECT * FROM routes WHERE unicode_casefold(short_name) = 'za1'",
    ).transform(feed, rt)
    assert out["routes"].count() == 1


def test_exec_sql_unicode_udfs(feed, rt):
    """unicode_lower/upper/title mirror CPython's Unicode tables
    (reference db.py:211-215) — exercised on Polish diacritics, where
    str.title() differs from naive word-capitalization."""
    out = ExecuteSQL(
        statement="UPDATE stops SET name = unicode_title('źle DZIAŁAJĄCY przystanek') "
                  "WHERE stop_id = 'wkd00'"
    ).transform(feed, rt)
    row = out["stops"].filter(F.col("stop_id") == "wkd00").collect()[0]
    assert row["name"] == "Źle Działający Przystanek"
    out = ExecuteSQL(
        table="stops",
        statement="SELECT stop_id, unicode_lower('ŁÓDŹ') AS name, lat, lon "
                  "FROM stops",
    ).transform(feed, rt)
    assert out["stops"].collect()[0]["name"] == "łódź"
    out = ExecuteSQL(
        table="stops",
        statement="SELECT stop_id, unicode_upper('żółć') AS name FROM stops",
    ).transform(feed, rt)
    assert out["stops"].collect()[0]["name"] == "ŻÓŁĆ"


def test_exec_sql_qualifier_strip_keeps_literals(feed, rt):
    """Table-qualifier stripping must not rewrite string literals: the
    literal 'stops.' in replace() has to survive
    (UPDATE stops SET stops.name = replace(stops.name, 'stops.', ...))."""
    seeded = ExecuteSQL(
        statement="UPDATE stops SET name = 'stops.' || name WHERE stop_id = 'wkd00'"
    ).transform(feed, rt)
    row = seeded["stops"].filter(F.col("stop_id") == "wkd00").collect()[0]
    assert row["name"].startswith("stops.")
    out = ExecuteSQL(
        statement="UPDATE stops SET stops.name = replace(stops.name, 'stops.', 'S-') "
                  "WHERE stops.stop_id = 'wkd00'"
    ).transform(seeded, rt)
    row = out["stops"].filter(F.col("stop_id") == "wkd00").collect()[0]
    assert row["name"].startswith("S-") and "stops." not in row["name"]


def test_strip_qualifier_unit():
    from impuls_spark.operators.exec_sql import _strip_qualifier

    assert _strip_qualifier("stops.name = 'stops.x'", "stops") == "name = 'stops.x'"
    # doubled-quote escape stays inside the literal
    assert _strip_qualifier("name = 'it''s stops.ok' || stops.id", "stops") \
        == "name = 'it''s stops.ok' || id"
    # no false match on a longer identifier or mid-word occurrence
    assert _strip_qualifier("bus_stops.name", "stops") == "bus_stops.name"
    assert _strip_qualifier("STOPS.name", "stops") == "name"  # case-insensitive SQL


def test_add_entity(feed, rt):
    out = AddEntity("agencies", {
        "agency_id": "99", "name": "New", "url": "https://x", "timezone": "UTC",
    }).transform(feed, rt)
    assert out["agencies"].count() == 2


def test_remove_unused_entities(spark, feed, rt):
    # orphan a route by deleting its trips; add an unused agency & stop
    feed2 = feed.with_table("trips", feed["trips"].filter(F.col("route_id") != "ZA12"))
    feed2 = AddEntity("agencies", {
        "agency_id": "ghost", "name": "G", "url": "u", "timezone": "UTC",
    }).transform(feed2, rt)
    feed2 = AddEntity("stops", {
        "stop_id": "lonely", "name": "Lonely", "lat": 0.0, "lon": 0.0,
        "location_type": 0,
    }).transform(feed2, rt)

    out = RemoveUnusedEntities().transform(feed2, rt)
    route_ids = {r[0] for r in out["routes"].select("route_id").collect()}
    assert "ZA12" not in route_ids
    assert {r[0] for r in out["agencies"].select("agency_id").collect()} == {"0"}
    stop_ids = {r[0] for r in out["stops"].select("stop_id").collect()}
    assert "lonely" not in stop_ids
    # cascade: no stop_times reference removed trips
    remaining_trips = {r[0] for r in out["trips"].select("trip_id").collect()}
    st_trips = {r[0] for r in out["stop_times"].select("trip_id").distinct().collect()}
    assert st_trips <= remaining_trips


def test_modify_stops_from_csv(feed, rt, tmp_path):
    p = tmp_path / "patch.csv"
    p.write_text(
        "stop_id,stop_name,stop_lat,wheelchair_boarding\n"
        "wkd00,Renamed Stop,50.5,1\n"
        "wkd01,,,2\n"
    )
    out = ModifyStopsFromCSV(str(p)).transform(feed, rt)
    rows = {r["stop_id"]: r for r in out["stops"].collect()}
    assert rows["wkd00"]["name"] == "Renamed Stop"
    assert rows["wkd00"]["lat"] == 50.5
    assert rows["wkd00"]["wheelchair_boarding"] is True
    # empty cells leave values untouched
    assert rows["wkd01"]["name"] == "Warszawa Ochota WKD"
    assert rows["wkd01"]["wheelchair_boarding"] is False  # GTFS 2 -> False


def test_modify_from_csv_unknown_id_strict(feed, rt, tmp_path):
    p = tmp_path / "patch.csv"
    p.write_text("route_id,route_short_name\nNOPE,Z\n")
    with pytest.raises(Exception):
        ModifyRoutesFromCSV(str(p), must_curate_all=True).transform(feed, rt)


def test_modify_from_csv_empty_patch_is_a_data_error(feed, rt, tmp_path):
    p = tmp_path / "patch.csv"
    p.write_text("")
    with pytest.raises(DataError, match="missing key column"):
        ModifyStopsFromCSV(str(p)).transform(feed, rt)


def test_modify_from_csv_reads_patch_without_a_job(feed, rt, tmp_path,
                                                   spark_jobs):
    """The patch header is peeked on the driver, as load_gtfs does, so
    reading the patch runs no header-inference job. The transform's 4
    jobs are its duplicate-key and unknown-id checks."""
    p = tmp_path / "patch.csv"
    p.write_text("stop_id,stop_name\nwkd00,Renamed Stop\n")
    before = spark_jobs()
    ModifyStopsFromCSV(str(p)).transform(feed, rt)
    assert spark_jobs() == before + 4


def test_assign_directions(feed, rt):
    # wkd00 before wkd27 -> direction 0 (A1); reversed -> 1
    out = AssignDirections(
        rules=[("wkd00", "wkd27"), ("wkd18", "wkd27"), ("wkd18", "wkd22")],
        overwrite=True,
    ).transform(feed, rt)
    trips = out["trips"]
    assert trips.filter(F.col("direction").isNull()).count() == 0
    # A1 outbound trips got 0
    sample = trips.filter(F.col("trip_id") == "D-A1-001").collect()[0]
    assert sample["direction"] in (0, 1)


def test_assign_directions_unmatched_raises(feed, rt):
    with pytest.raises(MultipleDataErrors):
        AssignDirections(rules=[("nope1", "nope2")], overwrite=True).transform(feed, rt)


def test_selector_routes(feed):
    assert Routes(type=2).apply(feed["routes"]).count() == 3
    assert Routes(type=3).apply(feed["routes"]).count() == 0
    assert Routes(ids=("A1",)).apply(feed["routes"]).count() == 1
    assert Routes().apply(feed["routes"]).count() == 3
