"""Custom stateful streaming operators (SURVEY.md §2.9 extension).

The reference fakes event-time state with a pre-sorted queue
(``kafka/GtfsArrivalsProducer.java:72-73,145``); Spark gives real
keyed state. Two API generations are exposed:

* ``applyInPandasWithState`` (GroupState) — powers the oracle-checked
  ``stream_stateful_counts`` registry query
  (``queries/streaming_q.py``); works everywhere.
* ``transformWithStateInPandas`` (``StatefulProcessor``, Spark 4) —
  the successor API with named state variables, timers and TTL,
  wrapped here. Its Python runner needs the ``protobuf`` package and
  the RocksDB state store; environments without them (this sandbox
  has no protobuf) get a clear capability error instead of a worker
  crash, so the wrapper is import-safe and the test suite skips the
  execution path cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

#: State store provider required by transformWithState.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def tws_available() -> bool:
    """True iff transformWithStateInPandas can actually run here:
    Spark's streaming Python runner imports google.protobuf at
    startup and crashes the executor worker when it's missing."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class RunningCountsProcessor(StatefulProcessor):
    """Per-key running (count, max event-time) via a named ValueState.

    Semantics match ``queries/streaming_q._stateful_counts`` (the
    GroupState implementation): with a single-micro-batch source the
    emitted final state equals the batch ``groupBy(key).agg(count,
    max(ts))``, which is how a DuckDB oracle can check it; with a live
    source it emits monotone updates per micro-batch.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("agg", "cnt long, max_us long")

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        cnt, max_us = self._state.get() if self._state.exists() else (0, 0)
        for pdf in rows:
            cnt += len(pdf)
            batch_max = pdf["ts"].max()
            max_us = max(max_us, int(batch_max.value // 1000))
        self._state.update((cnt, max_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "last_ts": [pd.Timestamp(max_us * 1000)],
            }
        )

    def close(self) -> None:
        pass


def running_counts_tws(stream: DataFrame) -> DataFrame:
    """Running per-``user_id`` counters of ``ts`` events on the
    transformWithStateInPandas API.

    Raises a capability error up front when the environment cannot
    host the streaming Python runner (missing protobuf) — failing at
    plan build with a clear message instead of crashing executor
    workers mid-query. The session must use the RocksDB state store
    (``ROCKSDB_PROVIDER``); transformWithState refuses the default
    HDFS-backed provider.
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' Python "
            "package (Spark's streaming runner imports it); use the "
            "applyInPandasWithState path (stream_stateful_counts) here"
        )
    return (
        stream.select("user_id", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningCountsProcessor(),
            outputStructType="user_id long, n_events long, last_ts timestamp",
            outputMode="Update",
            timeMode="None",
        )
    )
