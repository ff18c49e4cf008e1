"""End-to-end Kafka round trip, gated on a live broker.

No broker (or no spark-sql-kafka jars) exists in this sandbox, so the
round trip skips here by design — set SPARK_GRAFT_KAFKA_BOOTSTRAP to a
reachable bootstrap server (and launch Spark with
--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)
to run it. The option wiring itself is covered unconditionally by
tests/test_connectors.py, and the file-source streaming twin proves
the wire-format semantics (tests/test_streaming.py) — this test closes
the one remaining gap: an actual produce/consume against a broker.
"""

from __future__ import annotations

import os
import uuid

import pytest

BOOTSTRAP = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="SPARK_GRAFT_KAFKA_BOOTSTRAP not set: no Kafka broker in "
    "this environment (sandbox has no broker and no network); the "
    "produce/consume round trip runs wherever one is provided",
)


def test_arrival_wire_roundtrip_through_broker(spark):
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.functions.jsonfns import parsed_arrivals
    from vbb_data_pipeline_spark.sources.connectors import (
        read_kafka_batch,
        write_kafka_batch,
    )
    from vbb_data_pipeline_spark.streaming.arrivals import arrivals_as_wire

    topic = f"spark_graft_rt_{uuid.uuid4().hex[:8]}"
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # batch twin: the wire rows we expect back, bit-for-bit
    sample = events.orderBy("event_id").limit(500)
    wire = arrivals_as_wire(sample)

    write_kafka_batch(wire, BOOTSTRAP, topic)
    raw = read_kafka_batch(spark, BOOTSTRAP, topic)
    got = raw.select(F.col("value").cast("string").alias("value"))

    sent = sorted(r.value for r in wire.collect())
    received = sorted(r.value for r in got.collect())
    assert received == sent

    # and the parser recovers the same rows the batch twin parses
    parsed_rt = parsed_arrivals(got)
    parsed_twin = parsed_arrivals(wire)
    assert sorted(map(str, parsed_rt.collect())) == sorted(
        map(str, parsed_twin.collect())
    )
