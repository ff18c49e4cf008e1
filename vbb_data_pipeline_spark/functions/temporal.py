"""Temporal scalar helpers (SURVEY.md §2.7 F1-F3, §7 hard-parts 1-2).

Reference semantics being re-expressed:

* F1 ``extractDateInt`` — LocalDateTime → YYYYMMDD int
  (``streaming/.../data/GtfsDAO.java:51-53``).
* F2 ``createLocalDateTime`` — (YYYYMMDD int, time) → timestamp
  (``GtfsDAO.java:55-63``). GTFS times may exceed 24:00:00
  (DDL INTERVAL, ``05-create-schema.sh:149-150``), so times are
  LongType *seconds* and only become timestamps when fused with a
  concrete service date — a >24h arrival lands on the next calendar
  day, which plain timestamp parsing cannot represent.
* F3 ``detectWeekDays`` — enumerate days of a window per weekday
  (``GtfsDAO.java:65-81``). The reference increments YYYYMMDD ints
  numerically and fabricates invalid dates across month boundaries;
  here ``sequence()`` over real DateType is correct by construction
  (divergence documented per SURVEY.md §7.2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def date_int(col: Column | str) -> Column:
    """YYYYMMDD integer from a date/timestamp column (GtfsDAO.java:51-53).

    DuckDB oracle twin: ``CAST(strftime(col, '%Y%m%d') AS INT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyyMMdd").cast("int")


def date_from_int(col: Column | str) -> Column:
    """YYYYMMDD integer → DateType (inverse of :func:`date_int`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(c.cast("string"), "yyyyMMdd")


def event_timestamp(service_date: Column, seconds: Column) -> Column:
    """Concrete event timestamp = service date + seconds-of-service-day.

    Correctly rolls past midnight for GTFS >24:00:00 times
    (GtfsDAO.java:55-63 semantics without the INTERVAL type).
    DuckDB twin: ``d::TIMESTAMP + s * INTERVAL 1 SECOND``.
    """
    return F.timestamp_seconds(
        F.unix_timestamp(service_date.cast("timestamp")) + seconds.cast("long")
    )


def iso_dow(col: Column | str) -> Column:
    """ISO day-of-week: 1=Monday … 7=Sunday.

    Spark's ``dayofweek`` is 1=Sunday; DuckDB's ``isodow`` is ISO.
    Normalizing here keeps weekday-flag filters (GtfsDAO.java:108-112)
    portable. DuckDB twin: ``isodow(col)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return ((F.dayofweek(c) + 5) % 7) + 1


_WEEKDAY_COLS = [
    "monday",
    "tuesday",
    "wednesday",
    "thursday",
    "friday",
    "saturday",
    "sunday",
]


def weekday_flag(day: Column) -> Column:
    """Boolean: does the calendar row's weekday flag for ``day`` hold?

    Re-expresses the per-weekday set membership of GtfsDAO.java:108-112
    as ``element_at`` over the seven flag columns — codegen-friendly,
    no UDF.
    """
    flags = F.array(*[F.col(c) for c in _WEEKDAY_COLS])
    return F.element_at(flags, iso_dow(day))
