"""Edge-case GTFS variant feeds — mirrors the reference's mutated
fixture set (wkd-no-agency-id.zip, wkd-calendar-dates-only.zip,
wkd-extra-files.zip; FIXTURES.md variants table)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from impuls_spark.sources import load_gtfs
from tests.fixtures.make_feed import write_feed


def test_no_agency_id_fallback(spark, tmp_path):
    """agency.txt without agency_id -> '(missing)' fallback on agencies
    AND routes (reference schema.rs:6)."""

    def mutate(rows):
        for r in rows["agency.txt"]:
            del r["agency_id"]
        for r in rows["routes.txt"]:
            del r["agency_id"]

    path = write_feed(str(tmp_path / "feed"), mutate=mutate)
    feed = load_gtfs(spark, path)
    assert feed["agencies"].collect()[0]["agency_id"] == "(missing)"
    assert {r[0] for r in feed["routes"].select("agency_id").collect()} == {"(missing)"}


def test_calendar_dates_only(spark, tmp_path):
    """No calendar.txt: service ids exist only in calendar_dates.txt ->
    implied exception-based calendars with sentinel dates
    (reference schema.rs:241-245)."""

    def mutate(rows):
        del rows["calendar.txt"]

    path = write_feed(str(tmp_path / "feed"), mutate=mutate)
    feed = load_gtfs(spark, path)
    cals = {r["calendar_id"]: r for r in feed["calendars"].collect()}
    assert set(cals) == {"C", "D"}
    assert all(not c["monday"] and not c["sunday"] for c in cals.values())
    assert all(c["start_date"] == datetime.date(1111, 11, 11) for c in cals.values())

    from impuls_spark.operators import active_days

    days = active_days(feed)
    # only the ADDED exceptions are active
    assert days.count() == 3  # C gets 3 ADDED holiday dates


def test_extra_files_to_generic_rows(spark, tmp_path):
    """Unknown .txt files land in extra_table_rows with stable line
    order (reference load_gtfs.py extra_files + extra_table_row.py)."""

    def mutate(rows):
        rows["vehicle_types.txt"] = [
            {"vehicle_id": "EN57", "label": "EMU"},
            {"vehicle_id": "SA105", "label": "DMU"},
        ]

    path = write_feed(str(tmp_path / "feed"), mutate=mutate)
    feed = load_gtfs(spark, path, extra_files=["vehicle_types.txt"])
    rows = feed["extra_table_rows"].orderBy("row_sort_order").collect()
    assert len(rows) == 2
    # table_name keeps the provided name verbatim (reference contract)
    assert rows[0]["table_name"] == "vehicle_types.txt"
    assert rows[0]["fields"]["vehicle_id"] == "EN57"
    assert [r["row_sort_order"] for r in rows] == [1, 2]

    # a requested-but-absent extra file is an error, not a silent skip
    import pytest as _pytest

    with _pytest.raises(Exception, match="extra_files"):
        load_gtfs(spark, path, extra_files=["nope.csv"])


def test_unknown_columns_roundtrip_through_extra_fields(spark, tmp_path):
    def mutate(rows):
        for i, r in enumerate(rows["trips.txt"]):
            if i % 2 == 0:
                r["vehicle_type"] = "EN57"

    path = write_feed(str(tmp_path / "feed"), mutate=mutate)
    feed = load_gtfs(spark, path, extra_fields=True)
    trips = feed["trips"]
    with_vt = trips.filter(
        F.element_at(F.col("extra_fields"), "vehicle_type").isNotNull()
    )
    assert 0 < with_vt.count() < trips.count()


def test_load_gtfs_runs_no_spark_job(spark, spark_jobs, tmp_path):
    """Every file's schema comes from its peeked header, so loading
    plans the reads without a header-inference job per file."""

    def mutate(rows):
        rows["vehicle_types.txt"] = [{"vehicle_id": "EN57", "label": "EMU"}]
        for r in rows["stops.txt"]:
            r["platform_note"] = "x"

    path = write_feed(str(tmp_path / "feed.zip"), mutate=mutate)
    before = spark_jobs()
    feed = load_gtfs(spark, path, extra_fields=True,
                     extra_files=["vehicle_types.txt"])
    assert spark_jobs() == before
    assert feed["stop_times"].count() > 0
    assert feed["extra_table_rows"].count() == 1


def test_bom_prefixed_header_loads_first_column(spark, tmp_path):
    path = write_feed(str(tmp_path / "feed"))
    agency = tmp_path / "feed" / "agency.txt"
    text = agency.read_text(encoding="utf-8")
    agency.write_text("﻿" + text, encoding="utf-8")
    feed = load_gtfs(spark, path)
    ids = [r["agency_id"] for r in feed["agencies"].collect()]
    assert ids and None not in ids
    assert feed["agencies"].columns[0] == "agency_id"


def test_header_names_match_spark_inference(spark, tmp_path):
    """A case-variant duplicate and an empty header cell get the names
    Spark's header inference gives them, under either case setting."""
    from impuls_spark.sources.gtfs_read import _peek_header, _read_csv

    def mutate(rows):
        for i, r in enumerate(rows["agency.txt"]):
            r.update({"Note": "a", "": "b", "note": "c", "NOTE": str(i)})

    path = write_feed(str(tmp_path / "feed"), mutate=mutate)
    agency = str(tmp_path / "feed" / "agency.txt")
    header = _peek_header(agency)
    assert "" in header and "note" in header
    key = "spark.sql.caseSensitive"
    old = spark.conf.get(key)
    try:
        for case_sensitive in ("false", "true"):
            spark.conf.set(key, case_sensitive)
            inferred = spark.read.csv(agency, header=True, quote='"',
                                      escape='"')
            ours = _read_csv(spark, agency, header)
            assert ours.columns == inferred.columns
            assert ours.collect() == inferred.collect()
            # the unknown columns never reach the typed projection
            assert load_gtfs(spark, path)["agencies"].count() == 1
    finally:
        spark.conf.set(key, old)
