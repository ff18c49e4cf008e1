"""Event-time windowed aggregation wrappers (batch ≡ streaming).

The reference has no watermarks/windows — event-time correctness is
faked with a pre-sorted queue (SURVEY.md §2.9). These wrappers expose
the Spark-native surface; each builds the same expression tree whether
``df`` is a batch DataFrame or a streaming one, so the DuckDB oracle
verifies the batch twin and the same code serves streams.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound for streaming inputs; no-op in batch."""
    return df.withWatermark(ts_col, delay) if df.isStreaming else df


def _unpack(df: DataFrame, start_name: str, end_name: str) -> DataFrame:
    rest = [c for c in df.columns if c != "w"]
    return df.select(
        F.col("w.start").alias(start_name),
        F.col("w.end").alias(end_name),
        *rest,
    )


def tumbling(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    *aggs: Column,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    out = df.groupBy(F.window(ts_col, duration).alias("w"), *keys).agg(*aggs)
    return _unpack(out, "window_start", "window_end")


def sliding(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    *aggs: Column,
    watermark: str | None = None,
) -> DataFrame:
    """Sliding event-time window aggregation."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    out = df.groupBy(F.window(ts_col, duration, slide).alias("w"), *keys).agg(*aggs)
    return _unpack(out, "window_start", "window_end")


def session(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    *aggs: Column,
) -> DataFrame:
    """Session windows (gap-merged); window end = last event + gap."""
    out = df.groupBy(F.session_window(ts_col, gap).alias("w"), *keys).agg(*aggs)
    return _unpack(out, "session_start", "session_end")


def dedup_within_watermark(
    df: DataFrame, keys: Sequence[str], ts_col: str, delay: str
) -> DataFrame:
    """Streaming exactly-once-per-key dedup (state bounded by the
    watermark); batch twin = dropDuplicates."""
    if df.isStreaming:
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """Drive a streaming DataFrame to completion into an in-memory
    table (local test harness).

    ``state_partitions``: number of shuffle (= state store) partitions
    for THIS query, restored after the query stops. Stateful streaming
    operators create one state store per shuffle partition, and every
    micro-batch pays per-store commit I/O regardless of row counts —
    the r10 measure-first pass clocked the identical 1-micro-batch
    tumbling leg at sf0.01 at ~14 s with 32 state partitions vs ~3.6 s
    with 8 (interleaved A/B; the cost is store open/commit latency,
    not compute). Same posture rule as CRAWL_CONF/fan_out_scan:
    partitions are sized to the DATA, not the core count — callers
    derive the value from their source's size (see
    queries/streaming_q._stream_state_partitions). Streaming disables
    AQE, so nothing coalesces these at runtime. ``None`` keeps the
    session's setting.

    SINGLE-THREADED ASSUMPTION (r10 advice): setting
    ``state_partitions`` mutates the session-global
    ``spark.sql.shuffle.partitions`` for the duration of the run
    (restored in the ``finally``); any batch or streaming query
    CONSTRUCTED concurrently on the same SparkSession during that
    window silently inherits the fixture-sized value. The bench /
    correctness harness is sequential, so this is latent; if a caller
    ever parallelizes query construction, scope the setting to a
    cloned session (``spark.newSession()``) instead.
    """
    from vbb_data_pipeline_spark.plans import capture

    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if state_partitions is not None:
        spark.conf.set(key, str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        # audit hook (no-op in production): the micro-batch plan is the
        # one this query actually executed — the memory-sink scan a
        # caller gets back never shows it
        capture.note_streaming_query(q, name)
        q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set(key, prev)
