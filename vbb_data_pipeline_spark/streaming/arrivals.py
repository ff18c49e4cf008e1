"""Arrival-event stream: wire-format serde, geo stream filter, and
paced replay (SURVEY.md §2.9 T1-T5).

``geo_filter_arrivals`` completes the reference's *unfinished*
GeoFilterStream app — the Kafka Streams predicate exists
(``utils/GeoPredicate.java:15-52``) and the build references a main
class ``kafka.GeoFilterStream`` that is absent from the source tree
(``streaming/pom.xml:285-294``); here it is one declarative pipeline:
parse JSON (drop malformed, P9) → haversine radius filter (P6) →
re-serialize (P2).

Works identically on batch and streaming DataFrames — the driver
decides with ``spark.read`` vs ``spark.readStream``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions.geo import within_radius
from vbb_data_pipeline_spark.functions.jsonfns import arrival_to_json, parsed_arrivals


def geo_filter_arrivals(
    df: DataFrame,
    center_lat: float,
    center_lon: float,
    radius_m: float,
) -> DataFrame:
    """T4: the geo stream filter. Input: a ``value`` string column of
    arrival JSON; output: the same wire format, only events within the radius.
    Malformed payloads and null coordinates are dropped
    (GeoPredicate.java:42-48 semantics)."""
    arr = parsed_arrivals(df)
    kept = arr.filter(
        within_radius(
            F.col("latitude"), F.col("longitude"), center_lat, center_lon, radius_m
        )
    )
    return kept.select(
        arrival_to_json(
            F.col("ts"), F.col("name"), F.col("latitude"), F.col("longitude")
        ).alias("value")
    )


def arrivals_as_wire(df: DataFrame) -> DataFrame:
    """P2/S11 producer-side: (ts, stop_name, stop_lat, stop_lon) rows →
    single-column JSON wire format (GtfsArrival.java:20-36)."""
    return df.select(
        arrival_to_json(
            F.col("ts"), F.col("stop_name"), F.col("stop_lat"), F.col("stop_lon")
        ).alias("value")
    )


def replay_paced(df: DataFrame, emit) -> int:
    """T2 demo harness (NOT part of the correctness surface, SURVEY.md
    §7 hard-part 5): iterate a *small, already time-ordered* result in
    event-time pace — sleep max(0, Δevent − Δwall) between
    emits, equal timestamps back-to-back (GtfsArrivalsProducer.java:
    158-182). Driver-side by design: pacing is inherently sequential.
    Returns the number of emitted rows."""
    rows = df.toLocalIterator()
    t0_wall = None
    t0_event = None
    n = 0
    for row in rows:
        ts = row["ts"]
        if t0_wall is None:
            t0_wall, t0_event = time.monotonic(), ts
        else:
            d_event = (ts - t0_event).total_seconds()
            d_wall = time.monotonic() - t0_wall
            if d_event > d_wall:
                time.sleep(d_event - d_wall)
        emit(row)
        n += 1
    return n
