"""Connector option wiring (S7/S10/S11) — spec-level unit tests.

No Postgres driver or Kafka broker ships in this image, so these
verify the exact format/option/mode payload that would reach
``spark.read`` / ``df.write``, plus that executing a JDBC spec fails
fast (missing driver) rather than silently doing nothing.
"""

from __future__ import annotations

import pytest

from vbb_data_pipeline_spark.sources.connectors import (
    jdbc_sink_spec,
    jdbc_source_spec,
    kafka_sink_spec,
    kafka_source_spec,
)

URL = "jdbc:postgresql://db:5432/gtfs"


def test_jdbc_source_partitioned_options():
    spec = jdbc_source_spec(
        URL,
        "stop_times",
        num_partitions=16,
        partition_column="run_id",
        lower_bound=1,
        upper_bound=5000,
        fetchsize="10000",
    )
    assert spec.format == "jdbc"
    assert spec.options["url"] == URL
    assert spec.options["dbtable"] == "stop_times"
    # partitioned read: all four range-slicing options must be present
    # and stringly-typed (Spark's JDBC options are strings)
    assert spec.options["partitionColumn"] == "run_id"
    assert spec.options["lowerBound"] == "1"
    assert spec.options["upperBound"] == "5000"
    assert spec.options["numPartitions"] == "16"
    assert spec.options["fetchsize"] == "10000"
    assert spec.mode is None


def test_jdbc_source_unpartitioned_has_no_bounds():
    spec = jdbc_source_spec(URL, "provider")
    assert "partitionColumn" not in spec.options
    assert "numPartitions" not in spec.options


def test_jdbc_source_partition_requires_bounds():
    with pytest.raises(ValueError, match="lower_bound"):
        jdbc_source_spec(URL, "t", partition_column="id")


def test_jdbc_sink_batchsize_parity():
    """batchsize mirrors the reference's commit_every=100000
    (utils/__init__.py:17)."""
    spec = jdbc_sink_spec(URL, "stop_times")
    assert spec.options["batchsize"] == "100000"
    assert spec.mode == "append"


def test_jdbc_sink_custom_options():
    spec = jdbc_sink_spec(
        URL, "agency", mode="overwrite", batchsize=5000, isolationLevel="NONE"
    )
    assert spec.options["batchsize"] == "5000"
    assert spec.options["isolationLevel"] == "NONE"
    assert spec.mode == "overwrite"


def test_kafka_sink_options():
    spec = kafka_sink_spec(
        "broker:9092", "gtfs-arrivals", **{"kafka.acks": "all"}
    )
    assert spec.format == "kafka"
    assert spec.options["kafka.bootstrap.servers"] == "broker:9092"
    assert spec.options["topic"] == "gtfs-arrivals"
    assert spec.options["kafka.acks"] == "all"


def test_kafka_source_options():
    spec = kafka_source_spec("broker:9092", "gtfs-arrivals")
    assert spec.format == "kafka"
    assert spec.options == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "gtfs-arrivals",
        "startingOffsets": "earliest",
    }
    # options still override the starting offsets
    spec = kafka_source_spec(
        "broker:9092", "gtfs-arrivals", startingOffsets="latest"
    )
    assert spec.options["startingOffsets"] == "latest"


def test_jdbc_load_fails_fast_without_driver(spark):
    """Executing the spec reaches Spark's JDBC path and fails on the
    missing driver class — proving the spec is wired into a real
    reader, not a stub."""
    spec = jdbc_source_spec(URL, "provider")
    with pytest.raises(Exception) as exc:
        spec.load(spark)
    msg = str(exc.value)
    assert "driver" in msg.lower() or "jdbc" in msg.lower()
