"""Phase-0 end-to-end: load GTFS -> GenerateTripHeadsign -> save GTFS.

Mirrors the reference's golden-fixture strategy (SURVEY §5): exact-row
assertions on a deterministic synthetic feed.
"""

from __future__ import annotations

import csv
import io
import zipfile

from pyspark.sql import functions as F

from impuls_spark.operators import GenerateTripHeadsign
from impuls_spark.sources import load_gtfs, save_gtfs
from impuls_spark.task import TaskRuntime


def test_load_counts(feed):
    assert feed["agencies"].count() == 1
    assert feed["routes"].count() == 3
    assert feed["stops"].count() == 28
    assert feed["calendars"].count() == 2
    assert feed["calendar_exceptions"].count() == 6
    assert feed["trips"].count() == 3 * 62
    assert feed["shapes"].count() == 3  # implied parents from shapes.txt


def test_time_parse_exceeds_24h(feed):
    mx = feed["stop_times"].agg(F.max("arrival_time")).collect()[0][0]
    assert mx > 24 * 3600  # late trips roll past midnight


def test_types_and_nulls(feed):
    trips = feed["trips"]
    # empty CSV cells became NULLs, not ''
    assert trips.filter(F.col("block_id") == "").count() == 0
    assert trips.filter(F.col("direction").isNull()).count() > 0
    # wheelchair recode produced three-state booleans
    stops = feed["stops"]
    vals = {r[0] for r in stops.select("wheelchair_boarding").distinct().collect()}
    assert vals <= {True, False, None}


def test_generate_trip_headsign(spark, feed):
    out = GenerateTripHeadsign().transform(feed, TaskRuntime(spark))
    trips = out["trips"]
    assert trips.filter(F.col("headsign").isNull()).count() == 0
    # direction 0 trips on A1 end at the last stop of the line
    row = (
        trips.filter((F.col("route_id") == "A1") & (F.col("direction") == 0)
                     & (F.col("headsign") != "Special"))
        .select("headsign").distinct().collect()
    )
    assert {r[0] for r in row} == {"Brzózki"}
    # pre-existing headsigns preserved
    assert trips.filter(F.col("headsign") == "Special").count() > 0


def test_save_gtfs_roundtrip(spark, feed, tmp_path):
    out_zip = str(tmp_path / "out.zip")
    headers = {
        "agency.txt": ["agency_id", "agency_name", "agency_url", "agency_timezone"],
        "routes.txt": ["route_id", "agency_id", "route_short_name", "route_type"],
        "stops.txt": ["stop_id", "stop_name", "stop_lat", "stop_lon"],
        "trips.txt": ["route_id", "service_id", "trip_id", "trip_headsign"],
        "stop_times.txt": [
            "trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence",
        ],
        "calendar.txt": [
            "service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
            "saturday", "sunday", "start_date", "end_date",
        ],
    }
    save_gtfs(feed, headers, out_zip, ensure_order=True)

    with zipfile.ZipFile(out_zip) as zf:
        assert set(zf.namelist()) == set(headers)
        stop_times = list(csv.DictReader(io.TextIOWrapper(zf.open("stop_times.txt"))))
        cal = list(csv.DictReader(io.TextIOWrapper(zf.open("calendar.txt"))))

    assert len(stop_times) == feed["stop_times"].count()
    # times rendered HH:MM:SS incl. >24h
    assert all(len(st["arrival_time"]) >= 8 for st in stop_times)
    assert any(int(st["arrival_time"][:2]) >= 24 for st in stop_times)
    # dates rendered YYYYMMDD
    assert cal[0]["start_date"] == "20260601"
    # ordered by PK
    keys = [(st["trip_id"], int(st["stop_sequence"])) for st in stop_times]
    assert keys == sorted(keys)

    # reload the saved zip -> same row counts (roundtrip)
    feed2 = load_gtfs(spark, out_zip)
    assert feed2["stop_times"].count() == feed["stop_times"].count()
    assert feed2["trips"].count() == feed["trips"].count()


def test_gtfs_zip_parallel_assembly_is_byte_identical(feed, tmp_path):
    """save_gtfs writes the tables' CSV parts in parallel, then one
    writer streams each file (header line + parts) into the zip in the
    caller's header order. The archive must be byte-for-byte what the
    plain stdlib writer makes of the directory target's files: same
    entry order, same deterministic timestamps, same deflate bytes."""
    import glob
    import os
    import shutil

    from impuls_spark.sources.gtfs_write import _csv_quote

    headers = {
        "agency.txt": ["agency_id", "agency_name", "agency_url",
                       "agency_timezone"],
        "routes.txt": ["route_id", "agency_id", "route_short_name",
                       "route_type"],
        "trips.txt": ["route_id", "service_id", "trip_id"],
        "stop_times.txt": ["trip_id", "arrival_time", "departure_time",
                           "stop_id", "stop_sequence"],
    }
    out_zip = str(tmp_path / "par.zip")
    save_gtfs(feed, headers, out_zip, ensure_order=True)

    # sequential reference: rebuild the same entries with the plain
    # zipfile streaming writer from a dir-target save of the same feed
    out_dir = str(tmp_path / "dir_target")
    save_gtfs(feed, headers, out_dir, ensure_order=True)
    ref_zip = str(tmp_path / "seq.zip")
    with zipfile.ZipFile(ref_zip, "w", zipfile.ZIP_DEFLATED) as zf:
        for fname in headers:
            with zf.open(fname, "w") as dest, \
                    open(os.path.join(out_dir, fname), "rb") as src:
                shutil.copyfileobj(src, dest)

    with open(out_zip, "rb") as a, open(ref_zip, "rb") as b:
        assert a.read() == b.read()

    # determinism across saves of the same feed
    out_zip2 = str(tmp_path / "par2.zip")
    save_gtfs(feed, headers, out_zip2, ensure_order=True)
    with open(out_zip, "rb") as a, open(out_zip2, "rb") as b:
        assert a.read() == b.read()


def test_gtfs_zip_streamed_entry_zip64_counts_header(feed, tmp_path,
                                                     monkeypatch):
    """Each zip entry is streamed as the header line plus the staged
    CSV parts; its zip64 decision must count both. With the limit
    lowered so the largest entry's staged parts fit under it but parts
    + header do not, the save must still produce a readable archive
    instead of zipfile's "File size too large" at entry close."""
    import os

    headers = {
        "trips.txt": ["route_id", "service_id", "trip_id"],
        "stop_times.txt": ["trip_id", "arrival_time", "departure_time",
                           "stop_id", "stop_sequence"],
    }
    out_dir = str(tmp_path / "dir_target")
    save_gtfs(feed, headers, out_dir, ensure_order=True)
    # the dir target writes the same header + parts the zip streams
    expected = {}
    for fname in headers:
        with open(os.path.join(out_dir, fname), "rb") as f:
            expected[fname] = f.read()
    biggest = max(expected, key=lambda fn: len(expected[fn]))
    head_len = expected[biggest].index(b"\n") + 1
    staged = len(expected[biggest]) - head_len
    limit = staged + head_len // 2
    assert staged <= limit < staged + head_len

    out_zip = str(tmp_path / "boundary.zip")
    monkeypatch.setattr(zipfile, "ZIP64_LIMIT", limit)
    save_gtfs(feed, headers, out_zip, ensure_order=True)
    monkeypatch.undo()
    with zipfile.ZipFile(out_zip) as zf:
        assert zf.namelist() == list(headers)
        for fname, data in expected.items():
            assert zf.read(fname) == data
