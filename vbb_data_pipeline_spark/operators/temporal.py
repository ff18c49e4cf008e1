"""Temporal operators — the calendar→arrivals expansion (G1) and the
service filters P3-P5 (SURVEY.md §2.8, §2.2).

This is the reference's flagship computation
(``streaming/.../data/GtfsDAO.java:83-123``): join calendar ⋈ trips ⋈
stop_times ⋈ stops, enumerate every concrete service date in the query
window, keep dates whose weekday flag is set AND that fall inside the
service validity range, and emit one arrival event per surviving
(date, stop_time) pair.

Spark-first restatement: one declarative expression tree —
``join → explode(sequence(...)) → filter → project → sort`` — that
Catalyst plans with pushdown + AQE. Two deliberate divergences
(SURVEY.md §7.2), both implementing *intended* semantics:

* validity filter uses AND; the reference uses ``||``
  (GtfsDAO.java:115) and accepts almost everything;
* date enumeration uses real DateType ``sequence()``; the reference
  increments YYYYMMDD ints and fabricates invalid dates across month
  boundaries (GtfsDAO.java:75-78).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions.temporal import (
    date_from_int,
    event_timestamp,
    weekday_flag,
)
from vbb_data_pipeline_spark.operators.core import equi_join


def service_window_filter(
    df: DataFrame, start_int: int, end_int: int
) -> DataFrame:
    """P3 (GtfsDAO.java:47,87-89): keep services whose validity range
    overlaps [start, end) — both sides YYYYMMDD ints; pushed to the
    scan by Catalyst."""
    return df.filter(
        (F.col("end_date") >= F.lit(start_int)) & (F.col("start_date") < F.lit(end_int))
    )


def expand_arrivals(
    calendar: DataFrame,
    trips: DataFrame,
    stop_times: DataFrame,
    stops: DataFrame,
    start: dt.date,
    end: dt.date,
) -> DataFrame:
    """G1: the scheduled-arrivals table function (GtfsDAO.java:83-123).

    Returns one row per concrete arrival event:
    ``(ts, stop_name, stop_lat, stop_lon)`` ordered by ts — the exact
    shape the reference's Kafka producer replays
    (``GtfsArrivalsProducer.java:143-190``).

    Scale notes: the 4-way join shuffles on the composite keys
    (J1, GtfsDAO.java:44-46); ``stops`` is broadcastable when it is a
    genuine dimension. The explode multiplies rows *after* all
    selective filters, and the weekday/validity predicates are applied
    on the exploded day before the wide projection.
    """
    start_int = int(start.strftime("%Y%m%d"))
    end_int = int(end.strftime("%Y%m%d"))

    cal = service_window_filter(calendar, start_int, end_int)
    joined = equi_join(cal, trips, ["run_id", "service_id"])
    joined = equi_join(joined, stop_times, ["run_id", "trip_id"])
    joined = equi_join(joined, stops, ["run_id", "stop_id"])

    # Window ∩ service-validity day range, enumerated as real dates.
    day_lo = F.greatest(F.lit(start), date_from_int("start_date"))
    day_hi = F.least(F.date_sub(F.lit(end), 1), F.date_sub(date_from_int("end_date"), 1))
    expanded = joined.withColumn(
        "service_day",
        F.explode(
            F.when(day_lo <= day_hi, F.sequence(day_lo, day_hi)).otherwise(
                F.array().cast("array<date>")
            )
        ),
    )

    # P4 weekday flag + (P5 validity is already folded into the
    # sequence bounds above with the corrected AND semantics).
    filtered = expanded.filter(weekday_flag(F.col("service_day")))

    return filtered.select(
        event_timestamp(F.col("service_day"), F.col("arrival_time")).alias("ts"),
        F.col("stop_name"),
        F.col("stop_lat"),
        F.col("stop_lon"),
    ).orderBy("ts", "stop_name")


def expand_days(
    df: DataFrame,
    start_col: Column,
    end_col: Column,
    out_col: str = "day",
) -> DataFrame:
    """Generic 1→N day expansion (F3 restated): one output row per date
    in [start_col, end_col] inclusive. Empty when start > end."""
    return df.withColumn(
        out_col,
        F.explode(
            F.when(start_col <= end_col, F.sequence(start_col, end_col)).otherwise(
                F.array().cast("array<date>")
            )
        ),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, attach the closest right row
    within the ``on`` group — the most recent with
    ``right_ts <= left_ts`` (``direction="backward"``) or the earliest
    with ``right_ts >= left_ts`` (``direction="forward"``), both
    inclusive.

    Spark has no native as-of join (SURVEY.md §2.3 gap list); this is
    the scale-friendly union-and-fill construction: tag both sides,
    union, and take ``last``/``first`` (ignorenulls) over an
    event-time window — one shuffle on the key, no range explosion,
    no per-group pandas. Right rows must be unique per
    ``(on, right_ts)`` (pre-aggregate otherwise) for determinism.

    DuckDB twins: backward is ``ASOF LEFT JOIN ... ON l.key = r.key
    AND l.ts >= r.ts``; forward is the same ASOF over NEGATED
    microsecond epochs (DuckDB only implements the >= direction).
    At equal timestamps the right row is visible to the left row in
    both directions (inclusive), enforced by the _src sort position.
    """
    from pyspark.sql.window import Window

    r = right.select(
        *on,
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_src"),
        *[F.col(c) for c in right_cols],
    )
    l = left.withColumn("_ats", F.col(left_ts)).withColumn("_src", F.lit(1))
    unioned = l.unionByName(r, allowMissingColumns=True)

    if direction == "backward":
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ats").asc(), F.col("_src").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pick = F.last
    elif direction == "forward":
        # left (_src=1) sorts before right (_src=0) at equal ts, so a
        # same-timestamp right row is inside the following frame
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ats").asc(), F.col("_src").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        pick = F.first
    else:  # pragma: no cover - caller error
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    # Fill ONE struct carrying the matched row's timestamp and all its
    # payload columns; per-column fills would backfill a NULL payload
    # from an *older* right row, mixing columns across rows (true ASOF
    # attaches the matched row verbatim, NULLs included).
    row_struct = F.when(
        F.col("_src") == 0,
        F.struct(F.col("_ats"), *[F.col(c) for c in right_cols]),
    )
    filled = unioned.select(
        "*",
        pick(row_struct, ignorenulls=True).over(w).alias("_asof_row"),
    )
    out = filled.filter(F.col("_src") == 1)
    for c in right_cols:
        out = out.drop(c).withColumn(c, F.col(f"_asof_row.{c}"))
    return (
        out.withColumn("_asof_ts", F.col("_asof_row._ats"))
        .drop("_src", "_ats", "_asof_row")
    )
