"""Canonical relational schema of the feed dataset.

A feed is a fixed star schema of 17 tables, mirroring the reference's
SQLite DDLs (see /root/reference/impuls/model/*.py, e.g. trip.py:63-82,
stop_time.py:54-68). Here every table is a Spark ``StructType`` with a
declared primary key and foreign-key edges; the FK graph drives explicit
cascade deletes (Spark has no ``ON DELETE CASCADE``).

Type conventions (SURVEY.md §1.3):

- GTFS times are **integer seconds** (may exceed 24h — ``25:01:08`` is
  legal), never ``TimestampType``.
- Dates are ``DateType``; the sentinel ``SIGNALS_EXCEPTIONS``
  (1111-11-11) marks calendars defined purely by exceptions
  (reference: impuls/model/meta/utility_types.py:43-97).
- Optional booleans are nullable ``BooleanType`` (NULL/0/1 three-state).
- Enums are ``IntegerType`` + the IntEnum constants below.
- Unrecognized GTFS columns live in ``extra_fields:
  map<string,string>`` per row (reference keeps JSON text; a typed map
  is the columnar-native equivalent and serializes to JSON only at the
  GTFS sink).
- Optional text columns are NULL in storage (the reference stores ''
  in Python / NULL in SQL — we standardize on NULL, coalescing to ''
  only at API edges).
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass
from enum import IntEnum

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Enums (reference: impuls/model/{route,stop,trip,stop_time,transfer,
# calendar_exception}.py)
# ---------------------------------------------------------------------------


class RouteType(IntEnum):
    """GTFS route_type (reference: impuls/model/route.py:37-47)."""

    TRAM = 0
    METRO = 1
    RAIL = 2
    BUS = 3
    FERRY = 4
    CABLE_TRAM = 5
    GONDOLA = 6
    FUNICULAR = 7
    TROLLEYBUS = 11
    MONORAIL = 12


class LocationType(IntEnum):
    """GTFS location_type (reference: impuls/model/stop.py:39-42)."""

    STOP = 0
    STATION = 1
    EXIT = 2


class Direction(IntEnum):
    """GTFS direction_id (reference: impuls/model/trip.py:28-30)."""

    OUTBOUND = 0
    INBOUND = 1


class PassengerExchange(IntEnum):
    """GTFS pickup/drop_off type (reference: impuls/model/stop_time.py:27-31)."""

    SCHEDULED_STOP = 0
    NONE = 1
    MUST_PHONE = 2
    ON_REQUEST = 3


class TransferType(IntEnum):
    """GTFS transfer_type (reference: impuls/model/transfer.py:26-32)."""

    RECOMMENDED = 0
    TIMED = 1
    REQUIRES_MIN_TIME = 2
    IMPOSSIBLE = 3
    IN_SEAT = 4
    RE_BOARD = 5


class ExceptionType(IntEnum):
    """calendar_dates exception_type (reference: impuls/model/calendar_exception.py:29-31)."""

    ADDED = 1
    REMOVED = 2


#: Calendars whose start/end date equals this sentinel are defined purely
#: by calendar_exceptions (reference: impuls/model/meta/utility_types.py:60-63).
SIGNALS_EXCEPTIONS = datetime.date(1111, 11, 11)

# ---------------------------------------------------------------------------
# Table specs
# ---------------------------------------------------------------------------

_S = T.StringType()
_I = T.IntegerType()
_L = T.LongType()
_D = T.DoubleType()
_B = T.BooleanType()
_DATE = T.DateType()
_MAP = T.MapType(T.StringType(), T.StringType())


@dataclass(frozen=True)
class ForeignKey:
    """One FK edge: ``child.child_cols`` references ``parent.parent_cols``.

    ``cascade`` mirrors the reference's ``ON DELETE CASCADE``: pruning the
    parent must explicitly prune matching child rows.
    """

    child: str
    child_cols: tuple[str, ...]
    parent: str
    parent_cols: tuple[str, ...]
    cascade: bool = True


@dataclass(frozen=True)
class TableSpec:
    name: str
    schema: T.StructType
    pk: tuple[str, ...]
    #: surrogate integer PK assigned at sink time only (reference uses
    #: SQLite AUTOINCREMENT; we use row_number at write — SURVEY §4.2.3)
    surrogate_pk: bool = False
    has_extra_fields: bool = True


def _fields(*cols: tuple[str, T.DataType, bool]) -> T.StructType:
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in cols])


def _with_extra(st: T.StructType) -> T.StructType:
    return T.StructType(list(st.fields) + [T.StructField("extra_fields", _MAP, True)])


AGENCIES = TableSpec(
    # reference DDL: impuls/model/agency.py:48-57
    "agencies",
    _with_extra(
        _fields(
            ("agency_id", _S, False),
            ("name", _S, False),
            ("url", _S, False),
            ("timezone", _S, False),
            ("lang", _S, True),
            ("phone", _S, True),
            ("fare_url", _S, True),
        )
    ),
    pk=("agency_id",),
)

ATTRIBUTIONS = TableSpec(
    # reference DDL: impuls/model/attribution.py:43-54
    "attributions",
    _with_extra(
        _fields(
            ("attribution_id", _S, False),
            ("organization_name", _S, False),
            ("is_producer", _B, False),
            ("is_operator", _B, False),
            ("is_authority", _B, False),
            ("is_data_source", _B, False),
            ("url", _S, True),
            ("email", _S, True),
            ("phone", _S, True),
        )
    ),
    pk=("attribution_id",),
)

CALENDARS = TableSpec(
    # reference DDL: impuls/model/calendar.py:52-65
    "calendars",
    _with_extra(
        _fields(
            ("calendar_id", _S, False),
            ("monday", _B, False),
            ("tuesday", _B, False),
            ("wednesday", _B, False),
            ("thursday", _B, False),
            ("friday", _B, False),
            ("saturday", _B, False),
            ("sunday", _B, False),
            ("start_date", _DATE, False),
            ("end_date", _DATE, False),
            ("desc", _S, True),
        )
    ),
    pk=("calendar_id",),
)

CALENDAR_EXCEPTIONS = TableSpec(
    # reference DDL: impuls/model/calendar_exception.py:43-49
    "calendar_exceptions",
    _with_extra(
        _fields(
            ("calendar_id", _S, False),
            ("date", _DATE, False),
            ("exception_type", _I, False),
        )
    ),
    pk=("calendar_id", "date"),
)

FEED_INFO = TableSpec(
    # reference DDL: impuls/model/feed_info.py:46-57 (singleton row, id='0')
    "feed_info",
    _with_extra(
        _fields(
            ("feed_info_id", _S, False),
            ("publisher_name", _S, False),
            ("publisher_url", _S, False),
            ("lang", _S, False),
            ("version", _S, True),
            ("contact_email", _S, True),
            ("contact_url", _S, True),
            ("start_date", _DATE, True),
            ("end_date", _DATE, True),
        )
    ),
    pk=("feed_info_id",),
)

ROUTES = TableSpec(
    # reference DDL: impuls/model/route.py:65-78
    "routes",
    _with_extra(
        _fields(
            ("route_id", _S, False),
            ("agency_id", _S, False),
            ("short_name", _S, False),
            ("long_name", _S, False),
            ("type", _I, False),
            ("color", _S, True),
            ("text_color", _S, True),
            ("sort_order", _I, True),
        )
    ),
    pk=("route_id",),
)

STOPS = TableSpec(
    # reference DDL: impuls/model/stop.py:67-79 (self-FK parent_station)
    "stops",
    _with_extra(
        _fields(
            ("stop_id", _S, False),
            ("name", _S, False),
            ("lat", _D, False),
            ("lon", _D, False),
            ("code", _S, True),
            ("zone_id", _S, True),
            ("location_type", _I, False),
            ("parent_station", _S, True),
            ("wheelchair_boarding", _B, True),
            ("platform_code", _S, True),
        )
    ),
    pk=("stop_id",),
)

FARE_ATTRIBUTES = TableSpec(
    # reference DDL: impuls/model/fare_attribute.py:46-56
    "fare_attributes",
    _with_extra(
        _fields(
            ("fare_id", _S, False),
            ("price", _D, False),
            ("currency_type", _S, False),
            ("payment_method", _I, False),
            ("transfers", _I, True),
            ("agency_id", _S, False),
            ("transfer_duration", _I, True),
        )
    ),
    pk=("fare_id",),
)

FARE_RULES = TableSpec(
    # reference DDL: impuls/model/fare_rule.py:71-80 (AUTOINCREMENT pk)
    "fare_rules",
    _with_extra(
        _fields(
            ("fare_rule_id", _L, False),
            ("fare_id", _S, False),
            ("route_id", _S, True),
            ("origin_id", _S, True),
            ("destination_id", _S, True),
            ("contains_id", _S, True),
        )
    ),
    pk=("fare_rule_id",),
    surrogate_pk=True,
)

SHAPES = TableSpec(
    # reference DDL: impuls/model/shape_point.py:43-51 (bare id table)
    "shapes",
    _with_extra(_fields(("shape_id", _S, False))),
    pk=("shape_id",),
)

SHAPE_POINTS = TableSpec(
    # reference DDL: impuls/model/shape_point.py:43-51
    "shape_points",
    _with_extra(
        _fields(
            ("shape_id", _S, False),
            ("sequence", _I, False),
            ("lat", _D, False),
            ("lon", _D, False),
            ("shape_dist_traveled", _D, True),
        )
    ),
    pk=("shape_id", "sequence"),
)

TRIPS = TableSpec(
    # reference DDL: impuls/model/trip.py:63-82
    "trips",
    _with_extra(
        _fields(
            ("trip_id", _S, False),
            ("route_id", _S, False),
            ("calendar_id", _S, False),
            ("headsign", _S, True),
            ("short_name", _S, True),
            ("direction", _I, True),
            ("block_id", _S, True),
            ("shape_id", _S, True),
            ("wheelchair_accessible", _B, True),
            ("bikes_allowed", _B, True),
            ("exceptional", _B, True),
        )
    ),
    pk=("trip_id",),
)

STOP_TIMES = TableSpec(
    # reference DDL: impuls/model/stop_time.py:54-68
    "stop_times",
    _with_extra(
        _fields(
            ("trip_id", _S, False),
            ("stop_id", _S, False),
            ("stop_sequence", _I, False),
            ("arrival_time", _I, False),  # seconds since noon-12h; >86400 legal
            ("departure_time", _I, False),
            ("pickup_type", _I, False),
            ("drop_off_type", _I, False),
            ("stop_headsign", _S, True),
            ("shape_dist_traveled", _D, True),
            ("original_stop_id", _S, True),
            ("platform", _S, True),
        )
    ),
    pk=("trip_id", "stop_sequence"),
)

FREQUENCIES = TableSpec(
    # reference DDL: impuls/model/frequency.py:42-50
    "frequencies",
    _with_extra(
        _fields(
            ("trip_id", _S, False),
            ("start_time", _I, False),
            ("end_time", _I, False),
            ("headway", _I, False),
            ("exact_times", _B, False),
        )
    ),
    pk=("trip_id", "start_time"),
)

TRANSFERS = TableSpec(
    # reference DDL: impuls/model/transfer.py:58-79 (AUTOINCREMENT pk)
    "transfers",
    _with_extra(
        _fields(
            ("transfer_id", _L, False),
            ("from_stop_id", _S, True),
            ("to_stop_id", _S, True),
            ("from_route_id", _S, True),
            ("to_route_id", _S, True),
            ("from_trip_id", _S, True),
            ("to_trip_id", _S, True),
            ("transfer_type", _I, False),
            ("min_transfer_time", _I, True),
        )
    ),
    pk=("transfer_id",),
    surrogate_pk=True,
)

TRANSLATIONS = TableSpec(
    # reference DDL: impuls/model/translation.py:114-132 (AUTOINCREMENT pk)
    "translations",
    _with_extra(
        _fields(
            ("translation_id", _L, False),
            ("table_name", _S, False),
            ("field_name", _S, False),
            ("language", _S, False),
            ("translation", _S, False),
            ("record_id", _S, True),
            ("record_sub_id", _S, True),
            ("field_value", _S, True),
        )
    ),
    pk=("translation_id",),
    surrogate_pk=True,
)

EXTRA_TABLE_ROWS = TableSpec(
    # reference DDL: impuls/model/extra_table_row.py:40-45 — generic
    # escape-hatch rows for GTFS files outside the known 17
    "extra_table_rows",
    _fields(
        ("extra_table_row_id", _L, False),
        ("table_name", _S, False),
        ("fields", _MAP, False),
        ("row_sort_order", _L, True),
    ),
    pk=("extra_table_row_id",),
    surrogate_pk=True,
    has_extra_fields=False,
)

#: Topological loading order — parents before children (reference:
#: impuls/model/__init__.py:51-70).
TABLES: dict[str, TableSpec] = {
    spec.name: spec
    for spec in (
        AGENCIES,
        ATTRIBUTIONS,
        CALENDARS,
        CALENDAR_EXCEPTIONS,
        FEED_INFO,
        ROUTES,
        STOPS,
        FARE_ATTRIBUTES,
        FARE_RULES,
        SHAPES,
        SHAPE_POINTS,
        TRIPS,
        STOP_TIMES,
        FREQUENCIES,
        TRANSFERS,
        TRANSLATIONS,
        EXTRA_TABLE_ROWS,
    )
}

#: Static FK graph (16 edges; SURVEY §1.2). ``cascade=True`` edges mirror
#: the reference's ON DELETE CASCADE; transfers/fare_rules reference rows
#: but the reference declares them cascade too.
FOREIGN_KEYS: tuple[ForeignKey, ...] = (
    ForeignKey("calendar_exceptions", ("calendar_id",), "calendars", ("calendar_id",)),
    ForeignKey("routes", ("agency_id",), "agencies", ("agency_id",)),
    ForeignKey("stops", ("parent_station",), "stops", ("stop_id",)),
    ForeignKey("fare_attributes", ("agency_id",), "agencies", ("agency_id",)),
    ForeignKey("fare_rules", ("fare_id",), "fare_attributes", ("fare_id",)),
    ForeignKey("fare_rules", ("route_id",), "routes", ("route_id",)),
    ForeignKey("shape_points", ("shape_id",), "shapes", ("shape_id",)),
    ForeignKey("trips", ("route_id",), "routes", ("route_id",)),
    ForeignKey("trips", ("calendar_id",), "calendars", ("calendar_id",)),
    ForeignKey("trips", ("shape_id",), "shapes", ("shape_id",)),
    ForeignKey("stop_times", ("trip_id",), "trips", ("trip_id",)),
    ForeignKey("stop_times", ("stop_id",), "stops", ("stop_id",)),
    ForeignKey("frequencies", ("trip_id",), "trips", ("trip_id",)),
    ForeignKey("transfers", ("from_stop_id",), "stops", ("stop_id",)),
    ForeignKey("transfers", ("to_stop_id",), "stops", ("stop_id",)),
    ForeignKey("transfers", ("from_route_id",), "routes", ("route_id",)),
    ForeignKey("transfers", ("to_route_id",), "routes", ("route_id",)),
    ForeignKey("transfers", ("from_trip_id",), "trips", ("trip_id",)),
    ForeignKey("transfers", ("to_trip_id",), "trips", ("trip_id",)),
)


def children_of(table: str) -> list[ForeignKey]:
    """FK edges where ``table`` is the parent (for cascade deletes)."""
    return [fk for fk in FOREIGN_KEYS if fk.parent == table and fk.child != table]
