"""External connectors (SURVEY.md §2.1 S7/S10/S11) — thin, gated.

The reference's JDBC source/sink (``GtfsDAO.java:28-48``,
``utils/__init__.py:17-53``) and Kafka producer
(``GtfsArrivalsProducer.java:123-190``) map directly onto Spark's
built-in connectors. The v1 image carries no Postgres driver or Kafka
broker, so the option wiring is factored into pure spec builders
(unit-testable without external services, ``tests/test_connectors.py``)
and thin executors that hand the spec to Spark.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class ConnectorSpec:
    """Declarative source/sink description: exactly what reaches
    ``spark.read``/``df.write`` — format, options, save mode."""

    format: str
    options: dict[str, str] = field(default_factory=dict)
    mode: str | None = None  # sinks only

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format(self.format)
        for k, v in self.options.items():
            reader = reader.option(k, v)
        return reader.load()

    def save(self, df: DataFrame) -> None:
        writer = df.write.format(self.format)
        for k, v in self.options.items():
            writer = writer.option(k, v)
        if self.mode is not None:
            writer = writer.mode(self.mode)
        writer.save()


def jdbc_source_spec(
    url: str,
    table: str,
    num_partitions: int = 8,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> ConnectorSpec:
    """S10: partitioned JDBC read spec. Unlike the reference's single
    ResultSet cursor (GtfsDAO.java:96-122), the read splits into
    ``num_partitions`` range slices so executors pull in parallel."""
    opts = {"url": url, "dbtable": table}
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound"
            )
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    opts.update(options)
    return ConnectorSpec("jdbc", opts)


def jdbc_sink_spec(
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 100_000,
    **options: str,
) -> ConnectorSpec:
    """S7: batched JDBC write spec. ``batchsize`` mirrors the
    reference's ``commit_every=100000`` (utils/__init__.py:17) but
    executes as JDBC batch statements per partition instead of one
    INSERT per row."""
    opts = {"url": url, "dbtable": table, "batchsize": str(batchsize)}
    opts.update(options)
    return ConnectorSpec("jdbc", opts, mode=mode)


def kafka_sink_spec(bootstrap: str, topic: str, **options: str) -> ConnectorSpec:
    """S11 batch parity: DataFrame with a ``value`` (and optional
    ``key``) column → Kafka. The streaming twin is a
    ``writeStream.format("kafka")`` over the same payload — see
    ``streaming/windows.run_to_memory`` for the sink wiring pattern.
    Requires the spark-sql-kafka package on the classpath."""
    opts = {"kafka.bootstrap.servers": bootstrap, "topic": topic}
    opts.update(options)
    return ConnectorSpec("kafka", opts)


def write_kafka_batch(
    df: DataFrame, bootstrap: str, topic: str, **options: str
) -> None:
    """Execute an S11 write (see :func:`kafka_sink_spec`)."""
    kafka_sink_spec(bootstrap, topic, **options).save(df)


def kafka_source_spec(
    bootstrap: str, topic: str, **options: str
) -> ConnectorSpec:
    """Batch Kafka read (the consume half of the S11/S12 round trip):
    ``spark.read.format("kafka")`` over the topic's full retained
    range (``startingOffsets`` is ``"earliest"`` unless ``options``
    sets it). Yields the standard Kafka columns (``key``, ``value``
    binary, ``topic``, ``partition``, ``offset``, ``timestamp``); cast
    ``value`` to string and feed the wire-format parser
    (``functions/jsonfns.parsed_arrivals``) to recover rows. Requires
    the spark-sql-kafka package on the classpath — the environment
    gate is a live broker URL (tests/test_kafka_roundtrip.py)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": "earliest",
    }
    opts.update(options)
    return ConnectorSpec("kafka", opts)


def read_kafka_batch(
    spark: SparkSession, bootstrap: str, topic: str, **options: str
) -> DataFrame:
    """Execute a batch Kafka read (see :func:`kafka_source_spec`)."""
    return kafka_source_spec(bootstrap, topic, **options).load(spark)
