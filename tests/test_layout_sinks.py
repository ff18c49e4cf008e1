"""Storage layout (bucketing/partitioning API) and idempotent
streaming sink: replayed input must insert zero new rows."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from vbb_data_pipeline_spark.queries import load_table
from vbb_data_pipeline_spark.sources.layout import (
    read_table,
    write_bucketed,
    write_partitioned,
)
from vbb_data_pipeline_spark.streaming.sinks import (
    idempotent_batch_append,
    write_stream_idempotent,
)

SF = "/root/testdata/sf0.001"


def test_write_bucketed_join_no_exchange(spark, tmp_path):
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem").selectExpr(
        "l_orderkey", "l_extendedprice"
    )
    write_bucketed(o, "lay_orders", str(tmp_path / "o"), ["o_orderkey"], 8)
    write_bucketed(li, "lay_lineitem", str(tmp_path / "l"), ["l_orderkey"], 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lt = read_table(spark, "lay_lineitem")
        ot = read_table(spark, "lay_orders")
        j = lt.join(ot, lt.l_orderkey == ot.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS lay_orders")
        spark.sql("DROP TABLE IF EXISTS lay_lineitem")


def test_write_partitioned_prunes(spark, tmp_path):
    e = load_table(spark, SF, "events").withColumn(
        "etype", F.col("event_type")
    )
    path = str(tmp_path / "events_part")
    write_partitioned(e, path, ["etype"])
    back = spark.read.parquet(path).filter(F.col("etype") == "purchase")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter must appear as PartitionFilters, not a data filter
    assert "PartitionFilters: [" in plan
    assert "etype" in plan.split("PartitionFilters:")[1][:200]
    n_direct = e.filter(F.col("event_type") == "purchase").count()
    assert back.count() == n_direct


def test_idempotent_batch_append_ignores_conflicts(spark, tmp_path):
    path = str(tmp_path / "sink")
    e = load_table(spark, SF, "events").select("event_id", "user_id").filter(F.col("event_id") < 100)
    idempotent_batch_append(e, path, ["event_id"])
    idempotent_batch_append(e, path, ["event_id"])  # replay: no new rows
    got = spark.read.parquet(path)
    assert got.count() == 100
    # overlapping batch: only genuinely new keys append
    e2 = load_table(spark, SF, "events").select("event_id", "user_id").filter(F.col("event_id") < 150)
    idempotent_batch_append(e2, path, ["event_id"])
    assert spark.read.parquet(path).count() == 150


def test_stream_idempotent_replay(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink = str(tmp_path / "out")

    def run(checkpoint: str):
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(SF)
            .select("event_id", "user_id")
        )
        q = write_stream_idempotent(stream, sink, ["event_id"], checkpoint)
        q.awaitTermination(120)

    run(str(tmp_path / "cp1"))
    n1 = spark.read.parquet(sink).count()
    # fresh checkpoint → the whole input replays; sink must not grow
    run(str(tmp_path / "cp2"))
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2
    assert spark.read.parquet(sink).select("event_id").distinct().count() == n2


def test_write_range_sorted_gives_disjoint_file_ranges(spark, tmp_path):
    """Each output file must cover a disjoint slice of the sort key —
    the property that makes parquet min/max stats prune whole files."""
    from pathlib import Path

    from vbb_data_pipeline_spark.sources.layout import write_range_sorted

    o = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_sorted")
    write_range_sorted(o, path, ["o_orderdate"], num_files=4)
    files = sorted(str(p) for p in Path(path).glob("*.parquet"))
    assert len(files) >= 3
    ranges = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(F.min("o_orderdate"), F.max("o_orderdate"))
            .collect()[0]
        )
        ranges.append((r[0], r[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    from pathlib import Path

    from vbb_data_pipeline_spark.sources.layout import compact

    path = str(tmp_path / "fragmented")
    o = load_table(spark, SF, "orders")
    o.repartition(24).write.parquet(path)
    n = spark.read.parquet(path).count()
    assert len(list(Path(path).glob("*.parquet"))) >= 20
    compact(spark, path, target_files=2, sort_cols=["o_orderkey"])
    assert len(list(Path(path).glob("*.parquet"))) <= 3
    assert spark.read.parquet(path).count() == n


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """write_zordered vs a single-column sort: per-file min/max spread
    on the SECOND dimension must shrink (that spread is exactly what
    parquet stats skipping prunes on)."""
    import glob

    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.sources.layout import (
        write_range_sorted,
        write_zordered,
    )

    n = 1 << 12
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") * 2654435761 % n).alias("x"),  # decorrelated
            (F.col("id") * 40503 % n).alias("y"),
        )
        .localCheckpoint()
    )

    def total_spread(path: str, col: str) -> int:
        spread = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq_.read_metadata(f)
            lo = min(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            spread += hi - lo
        return spread

    p_sorted = str(tmp_path / "xsorted")
    p_z = str(tmp_path / "zordered")
    write_range_sorted(df, p_sorted, ["x"], num_files=16)
    write_zordered(df, p_z, ["x", "y"], num_files=16)

    # x stays well-clustered under z-order (not as tight as a pure
    # x-sort, but far below the unclustered worst case of 16 * n)
    assert total_spread(p_z, "x") < 8 * n
    # y: the x-sort leaves every file spanning ~the full y range;
    # z-order must cut the total y spread at least in half
    y_sorted = total_spread(p_sorted, "y")
    y_z = total_spread(p_z, "y")
    assert y_sorted > 12 * n * 0.9  # sanity: x-sort does NOT cluster y
    assert y_z < y_sorted * 0.5, (y_z, y_sorted)


def test_int_bucket_rejects_wide_domain():
    """(hi-lo)*(2^bits-1) >= 2^53 would make the double division
    engine-dependent (or overflow the int64 multiply); int_bucket
    must refuse such spans instead of silently corrupting buckets."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.sources.layout import int_bucket

    # microsecond epoch span of ~100 years: ~2^51.5 — over the bound
    with _pytest.raises(ValueError, match="pre-scale"):
        int_bucket(F.col("v"), 0, 3_200_000_000_000_000, bits=12)
    # seconds-resolution epoch span: fine
    int_bucket(F.col("v"), 0, 3_200_000_000, bits=12)


def test_zorder_key_rejects_bit_overflow():
    """bits * n_cols must fit the 63 usable bits of int64 — silent
    shiftleft wraparound would interleave garbage."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.sources.layout import zorder_key

    cols = [F.col(f"c{i}") for i in range(6)]
    with _pytest.raises(ValueError, match="63"):
        zorder_key(cols, bits=12)  # 72 bits
    zorder_key(cols, bits=10)  # 60 bits: ok


def test_write_zordered_rejects_all_null_column(spark, tmp_path):
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.sources.layout import write_zordered

    df = spark.range(10).select(
        F.col("id").alias("x"), F.lit(None).cast("long").alias("y")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="all-NULL"):
        write_zordered(df, str(tmp_path / "z"), ["x", "y"], num_files=2)


# ---------------------------------------------------------------------------
# Hilbert-curve clustering (sources/layout.hilbert_key_2d +
# write_hilbert_clustered) — exactness vs the classic xy2d reference,
# curve properties, and the measured file-stat spread vs Z-order.
# ---------------------------------------------------------------------------
def _rot(n, x, y, rx, ry):
    if ry == 0:
        if rx == 1:
            x, y = n - 1 - x, n - 1 - y
        x, y = y, x
    return x, y


def _xy2d(n, x, y):
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        x, y = _rot(n, x, y, rx, ry)
        s //= 2
    return d


def _d2xy(n, d):
    x = y = 0
    t, s = d, 1
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        x, y = _rot(s, x, y, rx, ry)
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y


def test_hilbert_key_matches_reference_and_is_bijection(spark):
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.sources.layout import hilbert_key_2d

    bits = 5
    n = 1 << bits
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.withColumn(
            "d", hilbert_key_2d(F.col("x"), F.col("y"), bits)
        ).collect()
    }
    for (x, y), d in got.items():
        assert d == _xy2d(n, x, y)
    assert sorted(got.values()) == list(range(n * n))


def test_hilbert_consecutive_keys_are_adjacent_cells():
    # the locality property z-order lacks: |Δx|+|Δy| == 1 between
    # consecutive curve positions (checked on the python twin the
    # Spark fold was proven equal to above)
    n = 1 << 5
    prev = _d2xy(n, 0)
    for d in range(1, n * n):
        cur = _d2xy(n, d)
        assert abs(cur[0] - prev[0]) + abs(cur[1] - prev[1]) == 1, d
        prev = cur


def test_hilbert_key_rejects_bad_bits():
    import pytest
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.sources.layout import hilbert_key_2d

    with pytest.raises(ValueError):
        hilbert_key_2d(F.col("x"), F.col("y"), bits=32)
    with pytest.raises(ValueError):
        hilbert_key_2d(F.col("x"), F.col("y"), bits=0)


def test_write_hilbert_clusters_both_dimensions(spark, tmp_path):
    """Same harness as the z-order spread test; Hilbert must cluster
    the second dimension at least as well (its selling point)."""
    import glob

    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.sources.layout import (
        write_hilbert_clustered,
        write_range_sorted,
        write_zordered,
    )

    n = 1 << 12
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") * 2654435761 % n).alias("x"),
            (F.col("id") * 40503 % n).alias("y"),
        )
        .localCheckpoint()
    )

    def total_spread(path: str, col: str) -> int:
        spread = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq_.read_metadata(f)
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            idx = names.index(col)
            lo = min(
                md.row_group(i).column(idx).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(idx).statistics.max
                for i in range(md.num_row_groups)
            )
            spread += hi - lo
        return spread

    p_sorted = str(tmp_path / "xsorted")
    p_h = str(tmp_path / "hilbert")
    p_z = str(tmp_path / "zordered")
    write_range_sorted(df, p_sorted, ["x"], num_files=16)
    write_hilbert_clustered(df, p_h, ["x", "y"], num_files=16)
    write_zordered(df, p_z, ["x", "y"], num_files=16)

    assert total_spread(p_h, "x") < 8 * n
    y_sorted = total_spread(p_sorted, "y")
    y_h = total_spread(p_h, "y")
    y_z = total_spread(p_z, "y")
    assert y_h < y_sorted * 0.5, (y_h, y_sorted)
    # hilbert's y-spread should be in z-order's league or tighter
    assert y_h <= y_z * 1.25, (y_h, y_z)


def test_write_hilbert_rejects_non_2d(spark, tmp_path):
    import pytest

    from vbb_data_pipeline_spark.sources.layout import (
        write_hilbert_clustered,
    )

    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    with pytest.raises(ValueError):
        write_hilbert_clustered(
            df, str(tmp_path / "h3"), ["a", "b", "c"], num_files=2
        )


def test_file_stats_and_compact_auto_plain(spark, tmp_path):
    """Size-aware compaction: many tiny append files → file count
    derived from actual bytes; row set unchanged."""
    from vbb_data_pipeline_spark.sources.layout import (
        compact_auto,
        file_stats,
    )

    path = str(tmp_path / "tiny")
    for i in range(12):
        spark.range(i * 100, (i + 1) * 100).write.mode("append").parquet(
            path
        )
    before = file_stats(spark, path)
    assert before["n_files"] >= 12
    res = compact_auto(spark, path)
    assert res["after"]["n_files"] == 1  # ~KBs of data, one file
    assert res["after"]["total_bytes"] > 0
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    assert got == set(range(1200))


def test_compact_auto_preserves_hive_partitions(spark, tmp_path):
    """E5-shaped table: hive-partitioned by ingest batch, several
    files per partition. Compaction must keep the partition layout
    (directories, pruning, replay-guard reads) while merging each
    partition's files into one."""
    import os

    from vbb_data_pipeline_spark.sources.layout import (
        compact_auto,
        file_stats,
    )

    path = str(tmp_path / "audited")
    for b in (0, 1, 2):
        for _ in range(4):  # 4 micro-batch-ish appends per partition
            (
                spark.range(b * 1000, b * 1000 + 50)
                .withColumn("ingest_batch", F.lit(b))
                .write.mode("append")
                .partitionBy("ingest_batch")
                .parquet(path)
            )
    before = file_stats(spark, path)
    assert before["n_files"] >= 12
    res = compact_auto(spark, path, partition_by=("ingest_batch",))
    assert res["after"]["n_files"] == 3  # one file per partition
    # partition DIRECTORIES survive → pruning still works
    dirs = {d for d in os.listdir(path) if d.startswith("ingest_batch=")}
    assert dirs == {"ingest_batch=0", "ingest_batch=1", "ingest_batch=2"}
    pruned = spark.read.parquet(path).filter(F.col("ingest_batch") == 1)
    assert pruned.count() == 200  # 4 appends x 50 rows
    assert {r["id"] for r in pruned.collect()} == set(range(1000, 1050))
    # whole-table row count unchanged
    assert spark.read.parquet(path).count() == 600


def test_int_bucket_nulls_go_to_bottom(spark):
    """least/greatest skip NULLs, so a NULL input used to 'clamp' to
    hi and cluster into the TOP bucket's files; NULLs now bucket to
    the bottom explicitly."""
    from vbb_data_pipeline_spark.sources.layout import int_bucket

    df = spark.createDataFrame(
        [(None,), (0,), (100,)], "v int"
    ).select(int_bucket(F.col("v"), 0, 100, bits=4).alias("b"))
    got = [r["b"] for r in df.collect()]
    assert got[0] == got[1] == 0  # NULL buckets with the minimum
    assert got[2] == 15


def test_zorder_key_rejects_degenerate_bits():
    import pytest as _pytest

    from vbb_data_pipeline_spark.sources.layout import zorder_key

    with _pytest.raises(ValueError, match="bits"):
        zorder_key([F.col("a"), F.col("b")], bits=0)


def test_compact_auto_partitioned_honors_sort_cols(spark, tmp_path):
    """The partitioned branch used to silently ignore sort_cols; rows
    inside each rewritten partition must now be sorted."""
    from vbb_data_pipeline_spark.sources.layout import compact_auto

    p = str(tmp_path / "t")
    spark.range(1000).select(
        (F.col("id") % 2).alias("part"),
        F.xxhash64("id").alias("v"),
    ).repartition(8).write.partitionBy("part").parquet(p)
    compact_auto(spark, p, partition_by=["part"], sort_cols=["v"])
    import glob

    for f in glob.glob(f"{p}/part=*/*.parquet"):
        vals = [r["v"] for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals), f
