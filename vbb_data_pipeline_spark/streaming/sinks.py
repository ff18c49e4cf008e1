"""Idempotent streaming sinks (SURVEY.md §2.1 S8 under streaming).

The reference makes batch loads idempotent with ``ON CONFLICT DO
NOTHING`` (utils/__init__.py:55-56). The streaming equivalent is a
``foreachBatch`` upsert: every micro-batch dedups on the natural key
within the batch, anti-joins against keys already in the sink, and
appends only the remainder. Combined with checkpointing this gives
effectively-once delivery into a plain parquet directory — replayed
micro-batches (after a crash between write and checkpoint commit)
insert zero new rows, exactly like the reference's conflict-ignoring
INSERT.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def idempotent_batch_append(
    batch: DataFrame, path: str, key_cols: Sequence[str]
) -> None:
    """One micro-batch of the conflict-ignoring append (also usable
    for plain batch loads — same semantics as catalog.new_runs).

    Scale note: the anti-join shuffles only the batch side when the
    sink is read with the key filter pushed down; for very large sinks
    key-partition the sink directory and prune to the batch's
    partitions before the anti-join.
    """
    from pyspark.errors import AnalysisException

    spark = batch.sparkSession
    fresh = batch.dropDuplicates(list(key_cols))
    try:
        existing = spark.read.parquet(path).select(*key_cols)
    except AnalysisException as e:
        # ONLY a missing sink directory means "first batch". Any other
        # read failure (throttling, permissions, corrupt footer) must
        # fail the batch — appending without the anti-join would
        # silently break the effectively-once invariant.
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            existing = None
        else:
            raise
    if existing is not None:
        fresh = fresh.join(existing, list(key_cols), "left_anti")
    fresh.write.mode("append").parquet(path)


def write_stream_idempotent(
    stream_df: DataFrame,
    path: str,
    key_cols: Sequence[str],
    checkpoint: str,
):
    """S8 streaming twin: file-sink append that ignores conflicts on
    ``key_cols`` via foreachBatch, run as an available-now trigger.
    Returns the started query."""

    def _on_batch(batch: DataFrame, _batch_id: int) -> None:
        idempotent_batch_append(batch, path, key_cols)

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_on_batch)
        .trigger(availableNow=True)
        .start()
    )


def scd2_batch_fold(
    batch: DataFrame,
    dim_path: str,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    as_of: str,
) -> None:
    """Fold one snapshot micro-batch into an SCD2 dimension stored at
    ``dim_path`` (streaming CDC — the incremental-reconciliation leg
    the reference's append-only load lacks, continuously applied).

    First batch bootstraps the dimension (every row opened at
    ``as_of``); later batches run ``operators/cdc.scd2_apply``. The
    updated dimension writes to a temp sibling then swaps atomically
    (a failed fold never corrupts or loses the previous dimension).
    Rewrite-on-fold is the plain-parquet trade-off; at 100 TB back
    the dim with a table format's MERGE or partition the dim on a
    valid_to-derived flag so only the current slice rewrites.
    """
    import uuid

    from pyspark.errors import AnalysisException

    from vbb_data_pipeline_spark.sources.layout import _fs_swap, sibling_path

    from vbb_data_pipeline_spark.operators.cdc import HIGH_TS, scd2_apply

    spark = batch.sparkSession
    snapshot = batch.dropDuplicates(list(keys)).select(*keys, *attr_cols)
    try:
        dim = spark.read.parquet(dim_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        dim = None
    if dim is None:
        out = snapshot.withColumn(
            "valid_from", F.to_timestamp(F.lit(as_of))
        ).withColumn("valid_to", F.to_timestamp(F.lit(HIGH_TS)))
    else:
        out = scd2_apply(dim, snapshot, list(keys), list(attr_cols), as_of)
    tmp = sibling_path(dim_path, f".scd2_{uuid.uuid4().hex[:8]}")
    out.write.mode("overwrite").parquet(tmp)
    # Hadoop-FS rename swap (HDFS/object-store portable; shutil is
    # driver-local) — bootstrap (no dim yet) is a plain rename
    _fs_swap(spark, src=tmp, dst=dim_path)


def write_stream_scd2(
    stream_df: DataFrame,
    dim_path: str,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    checkpoint: str,
):
    """Streaming SCD2 sink: each micro-batch is treated as a full
    snapshot observation and folded into the dimension at
    ``dim_path`` via foreachBatch, run as an available-now trigger.
    Each batch's ``as_of`` timestamp is its batch id encoded as
    seconds since 2024-01-01 (deterministic). Returns the started
    query."""

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        as_of = f"2024-01-01 00:00:{batch_id % 60:02d}"
        scd2_batch_fold(batch, dim_path, keys, attr_cols, as_of)

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_on_batch)
        .trigger(availableNow=True)
        .start()
    )
