"""Schemas and key metadata.

Two families:

* GTFS tables — re-declaration of the reference DDL
  (``/root/reference/airflow/script/dbinit/05-create-schema.sh:10-195``)
  as Spark ``StructType``s, with the type decisions from SURVEY.md §1.3:
  YYYYMMDD calendar bounds stay ``IntegerType``; GTFS times
  (which may exceed 24:00:00, DDL uses INTERVAL at
  ``05-create-schema.sh:149-150``) are ``LongType`` seconds and are only
  combined into timestamps together with a concrete service date.
  Lineage columns ``(run_id, provider_id)`` prefix every fact table
  exactly as the reference loader adds them
  (``airflow/plugins/database_loader/operators.py:156-165``).

* Arrival events — the producer's event record and its JSON wire
  shape (``domain/GtfsArrival.java``).

``PRIMARY_KEYS`` / ``FOREIGN_KEYS`` mirror the reference's PK/FK web
(``05-create-schema.sh:39,59,76,95,118,136,157-160,174-181,192-194``).
Spark does not enforce constraints; PKs drive idempotent-load dedup
keys and FKs document the join graph.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Lineage prefix (database_loader/operators.py:156-165)
# ---------------------------------------------------------------------------

LINEAGE_FIELDS = [
    T.StructField("run_id", T.IntegerType(), True),
    T.StructField("provider_id", T.StringType(), True),
]


def _gtfs(fields: list[T.StructField]) -> T.StructType:
    return T.StructType(LINEAGE_FIELDS + fields)


def _f(name: str, dtype: T.DataType) -> T.StructField:
    return T.StructField(name, dtype, True)


S = T.StringType()
I = T.IntegerType()
L = T.LongType()
D = T.DoubleType()
B = T.BooleanType()
TS = T.TimestampType()

# ---------------------------------------------------------------------------
# GTFS tables (05-create-schema.sh:10-195)
# ---------------------------------------------------------------------------

AGENCY = _gtfs(
    [
        _f("agency_id", S),
        _f("agency_name", S),
        _f("agency_url", S),
        _f("agency_timezone", S),
        _f("agency_lang", S),
        _f("agency_phone", S),
        _f("agency_fare_url", S),
    ]
)

STOPS = _gtfs(
    [
        _f("stop_id", S),
        _f("stop_code", S),
        _f("stop_name", S),
        _f("stop_desc", S),
        _f("stop_lat", D),
        _f("stop_lon", D),
        _f("zone_id", S),
        _f("stop_url", S),
        _f("location_type", B),
        _f("parent_station", S),
        _f("stop_timezone", S),
        _f("wheelchair_boarding", S),
    ]
)

ROUTES = _gtfs(
    [
        _f("route_id", S),
        _f("agency_id", S),
        _f("route_short_name", S),
        _f("route_long_name", S),
        _f("route_desc", S),
        _f("route_type", I),
        _f("route_url", S),
        _f("route_color", S),
        _f("route_text_color", S),
    ]
)

CALENDAR = _gtfs(
    [
        _f("service_id", S),
        _f("monday", B),
        _f("tuesday", B),
        _f("wednesday", B),
        _f("thursday", B),
        _f("friday", B),
        _f("saturday", B),
        _f("sunday", B),
        _f("start_date", I),  # YYYYMMDD
        _f("end_date", I),  # YYYYMMDD
    ]
)

CALENDAR_DATES = _gtfs(
    [_f("service_id", S), _f("date", I), _f("exception_type", I)]
)

SHAPES = _gtfs(
    [
        _f("shape_id", S),
        _f("shape_pt_lat", D),
        _f("shape_pt_lon", D),
        _f("shape_pt_sequence", I),
        _f("shape_dist_traveled", S),
    ]
)

TRIPS = _gtfs(
    [
        _f("route_id", S),
        _f("service_id", S),
        _f("trip_id", S),
        _f("trip_headsign", S),
        _f("trip_short_name", S),
        _f("direction_id", B),
        _f("block_id", S),
        _f("shape_id", S),
        _f("wheelchair_accessible", S),
        _f("bikes_allowed", S),
    ]
)

STOP_TIMES = _gtfs(
    [
        _f("trip_id", S),
        _f("arrival_time", L),  # seconds; may exceed 86400 (GTFS >24:00:00)
        _f("departure_time", L),
        _f("stop_id", S),
        _f("stop_sequence", I),
        _f("stop_headsign", S),
        _f("pickup_type", I),
        _f("drop_off_type", I),
        _f("shape_dist_traveled", I),
    ]
)

TRANSFERS = _gtfs(
    [
        _f("from_stop_id", S),
        _f("to_stop_id", S),
        _f("transfer_type", I),
        _f("min_transfer_time", I),
        _f("from_route_id", S),
        _f("to_route_id", S),
        _f("from_trip_id", S),
        _f("to_trip_id", S),
    ]
)

FREQUENCIES = _gtfs(
    [
        _f("trip_id", S),
        _f("start_time", S),
        _f("end_time", S),
        _f("headway_secs", S),
        _f("exact_times", S),
    ]
)

GTFS_TABLES: dict[str, T.StructType] = {
    "agency": AGENCY,
    "stops": STOPS,
    "routes": ROUTES,
    "calendar": CALENDAR,
    "calendar_dates": CALENDAR_DATES,
    "shapes": SHAPES,
    "trips": TRIPS,
    "stop_times": STOP_TIMES,
    "transfers": TRANSFERS,
    "frequencies": FREQUENCIES,
}

#: FK-safe load order from the reference
#: (database_loader/operators.py:136-141). Spark enforces no FKs; kept
#: as documentation + referential-integrity check order.
GTFS_LOAD_ORDER = [
    "agency",
    "calendar",
    "shapes",
    "stops",
    "calendar_dates",
    "routes",
    "trips",
    "frequencies",
    "stop_times",
    "transfers",
]

#: Primary keys (dedup keys for idempotent load, 05-create-schema.sh).
PRIMARY_KEYS: dict[str, list[str]] = {
    "provider": ["provider_id"],
    "run": ["run_id"],
    # agency is keyed per provider, not per run (05-create-schema.sh:39)
    "agency": ["provider_id", "agency_id"],
    "stops": ["run_id", "stop_id"],
    "routes": ["run_id", "route_id"],
    "calendar": ["run_id", "service_id"],
    "calendar_dates": ["run_id", "service_id", "date"],
    "trips": ["run_id", "trip_id"],
    "stop_times": ["run_id", "trip_id", "stop_sequence"],
}

#: FK web (join-key metadata): (child, child_cols) -> (parent, parent_cols)
FOREIGN_KEYS: list[tuple[str, list[str], str, list[str]]] = [
    ("trips", ["run_id", "route_id"], "routes", ["run_id", "route_id"]),
    ("trips", ["run_id", "service_id"], "calendar", ["run_id", "service_id"]),
    ("stop_times", ["run_id", "trip_id"], "trips", ["run_id", "trip_id"]),
    ("stop_times", ["run_id", "stop_id"], "stops", ["run_id", "stop_id"]),
    # routes reference agency by provider scope (05-create-schema.sh:81)
    ("routes", ["provider_id", "agency_id"], "agency", ["provider_id", "agency_id"]),
    ("transfers", ["run_id", "from_stop_id"], "stops", ["run_id", "stop_id"]),
    ("transfers", ["run_id", "to_stop_id"], "stops", ["run_id", "stop_id"]),
    ("frequencies", ["run_id", "trip_id"], "trips", ["run_id", "trip_id"]),
]

#: Arrival event wire format (domain/GtfsArrival.java:14-42).
ARRIVAL_EVENT = T.StructType(
    [
        _f("ts", TS),
        _f("name", S),
        _f("latitude", D),
        _f("longitude", D),
    ]
)

#: JSON wire schema: keys per GtfsArrival.java:20-36 — "local-time" is a
#: formatted string (yyyy-MM-dd HH:mm:ss.SSSSSSS), see functions/jsonfns.
ARRIVAL_JSON = T.StructType(
    [
        _f("name", S),
        _f("latitude", D),
        _f("longitude", D),
        _f("local-time", S),
    ]
)
