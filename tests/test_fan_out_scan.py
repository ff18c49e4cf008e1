"""fan_out_scan sizing contract (r10): the width is derived from the
scan's size statistic, not blanket-set to the core count, and the gate
still no-ops once the scan already has >= cores splits."""

from __future__ import annotations

import math

from vbb_data_pipeline_spark import queries
from vbb_data_pipeline_spark.queries import fan_out_scan, load_table

SF_DIR = "/root/testdata/sf0.001"


def _stats_bytes(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_fan_out_width_is_data_sized(spark):
    d = load_table(spark, SF_DIR, "documents")
    cores = spark.sparkContext.defaultParallelism
    expected = min(cores, max(2, math.ceil(_stats_bytes(d) / (64 << 10))))
    assert fan_out_scan(d).rdd.getNumPartitions() == expected


def test_fan_out_noop_when_scan_has_enough_splits(spark):
    d = load_table(spark, SF_DIR, "documents")
    wide = d.repartition(spark.sparkContext.defaultParallelism)
    # already >= cores partitions: fan_out_scan must not add an exchange
    assert fan_out_scan(wide) is wide


def test_fan_out_caps_at_default_parallelism(spark, monkeypatch):
    # a 1-byte target makes the bytes-derived width enormous; the cap
    # must clamp it to the live core count (scale-down safety: the
    # driver benches at lower core counts too)
    monkeypatch.setattr(queries, "FAN_OUT_TARGET_BYTES", 1)
    d = load_table(spark, SF_DIR, "documents")
    cores = spark.sparkContext.defaultParallelism
    assert fan_out_scan(d).rdd.getNumPartitions() == cores


def test_fan_out_fires_on_large_single_split_scan(spark, tmp_path):
    """r11 (verdict item 6): the gate must fire on a scale-shape input
    — ONE parquet file big enough that the bytes-derived width hits
    the core cap, but written as a single file so Spark plans a
    sub-core number of splits (the 100 TB failure mode this gate
    exists for: a large unsplittable input serializing the downstream
    chain onto a few cores)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "one_big_file")
    # ~2 MB of high-entropy strings in ONE file / one row group —
    # 32 × 64 KB, so width-by-bytes ≥ any test core count
    (
        spark.range(40_000)
        .select(F.md5(F.col("id").cast("string")).alias("s"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
    d = spark.read.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    assert d.rdd.getNumPartitions() < cores, "fixture must under-split"
    stats = _stats_bytes(d)
    assert stats >= cores * (64 << 10), "fixture must be scale-shaped"
    out = fan_out_scan(d)
    assert out is not d, "gate must fire on an under-split scan"
    # bytes-derived width saturates the cap = live core count
    assert out.rdd.getNumPartitions() == cores
    # and the fan-out changes no rows
    assert out.count() == 40_000


def test_fan_out_noop_on_multi_split_scan(spark, tmp_path):
    """r11: no-op assertion on a REAL multi-split parquet scan (the
    existing no-op test used an in-plan repartition, which does not
    prove the gate reads Spark's planned scan partitioning)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "many_files")
    cores = spark.sparkContext.defaultParallelism
    (
        spark.range(40_000)
        .select(F.md5(F.col("id").cast("string")).alias("s"))
        .repartition(cores)
        .write.mode("overwrite")
        .parquet(path)
    )
    d = spark.read.parquet(path)
    assert d.rdd.getNumPartitions() >= cores
    assert fan_out_scan(d) is d


def test_stream_state_partitions_use_session_width(spark, monkeypatch):
    """Stream state stores size by the fan_out_scan rule against the
    session's own defaultParallelism, not an environment core count
    (a session wider than SPARK_GRAFT_CPUS is not clamped to it)."""
    from vbb_data_pipeline_spark.queries import streaming_q

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    monkeypatch.setattr(streaming_q, "_STATE_PARTITIONS_MEMO", {})
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cores = spark.sparkContext.defaultParallelism
    expected = min(cores, max(2, math.ceil(_stats_bytes(events) / (64 << 10))))
    assert streaming_q._stream_state_partitions(spark, SF_DIR) == expected
