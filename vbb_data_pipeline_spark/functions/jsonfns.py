"""JSON wire-format serde (SURVEY.md §2.7 F7/F10, §2.2 P2/P9).

The reference serializes arrival events with Jackson
(``GtfsArrivalsProducer.java:143,185``) renaming
``stopName→name, lat→latitude, lon→longitude`` and formatting the
event time as ``yyyy-MM-dd HH:mm:ss.SSSSSSS``
(``domain/GtfsArrival.java:20-36``); the geo stream filter re-parses
and drops malformed payloads (``utils/GeoPredicate.java:42-48``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.schemas import ARRIVAL_JSON

#: GtfsArrival.java:33-36 timestamp wire format.
LOCAL_TIME_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSSS"


def arrival_to_json(ts: Column, name: Column, lat: Column, lon: Column) -> Column:
    """Serialize an arrival to the reference wire format (P2)."""
    return F.to_json(
        F.struct(
            name.alias("name"),
            lat.alias("latitude"),
            lon.alias("longitude"),
            F.date_format(ts, LOCAL_TIME_FORMAT).alias("local-time"),
        )
    )


def parse_arrival_json(col: Column | str) -> Column:
    """Parse the wire format; malformed JSON → NULL struct (P9 drop
    semantics via ``filter(parsed.isNotNull())``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, ARRIVAL_JSON)


def parsed_arrivals(df: DataFrame) -> DataFrame:
    """JSON-parse-or-drop (GeoPredicate.java:42-48): keep only rows
    whose ``value`` payload parses and carries coordinates."""
    parsed = df.withColumn("_arr", parse_arrival_json("value"))
    return (
        parsed.filter(F.col("_arr").isNotNull())
        .filter(F.col("_arr.latitude").isNotNull() & F.col("_arr.longitude").isNotNull())
        .select(
            F.to_timestamp(F.col("_arr.`local-time`")).alias("ts"),
            F.col("_arr.name").alias("name"),
            F.col("_arr.latitude").alias("latitude"),
            F.col("_arr.longitude").alias("longitude"),
        )
    )
