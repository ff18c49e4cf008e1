"""Storage layout for the 100 TB tier (SURVEY.md §2.3/§4).

The reference answers every FK join with a Postgres index; at Spark
scale the equivalent decision is made ONCE at write time:

* **bucketing** — both sides of a recurring fact⋈fact join written
  bucketed by the join key read pre-shuffled: the sort-merge join
  plans with ZERO Exchange (asserted in tests/test_bucketing.py).
* **partitioning** — low-cardinality pruning columns (run_date,
  provider_id) become directory partitions, so Catalyst prunes whole
  directories before listing files.

Both are plain Spark writers — these helpers just pin the repo's
conventions (path + saveAsTable pairing, sorted buckets, sane file
counts) so callers can't half-configure them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) table.

    Joins and aggregations keyed on ``bucket_cols`` between tables
    bucketed with the SAME ``n_buckets`` read co-located data — the
    shuffle happens once here, not per query. Sorting within buckets
    additionally removes the sort of a sort-merge join.
    """
    (
        df.write.bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Write ``df`` hive-partitioned by ``partition_cols``.

    Use for the lineage/pruning columns (provider_id, run_date):
    filters on them prune directories before file listing. Keep
    partition cardinality bounded (≤ ~10k directories) — high-
    cardinality keys belong in bucketing, not partitioning.
    """
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a table written by :func:`write_bucketed` (metastore name,
    so the bucketing spec survives into the plan)."""
    return spark.table(table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int,
) -> None:
    """Write parquet range-partitioned and sorted on ``sort_cols`` —
    the poor-man's clustering/Z-order for ONE sort dimension.

    Each output file covers a disjoint range of the sort key, so its
    parquet min/max statistics are tight and a filter on the key skips
    whole files/row groups at scan time. Use for the dominant filter
    column of append-heavy fact tables (event time, order date).
    """
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files (optionally range-sorted).

    Streaming/idempotent appends (streaming/sinks.py) accumulate one
    file per micro-batch; at 100 TB the listing + open overhead of
    millions of small files dominates scans. Rewrites into a temp
    sibling then swaps, so a failed compaction never loses data.
    OFFLINE-ONLY, same as :func:`compact_auto`: stop readers and the
    ingest stream before compacting — the two-rename swap has a
    window where ``path`` is absent.
    """
    import uuid

    df = spark.read.parquet(path)
    tmp = sibling_path(path, f".compact_{uuid.uuid4().hex[:8]}")
    if sort_cols:
        write_range_sorted(df, tmp, sort_cols, target_files)
    else:
        df.repartition(target_files).write.mode("overwrite").parquet(tmp)
    _fs_swap(spark, src=tmp, dst=path)


def _list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (file, bytes) listing of a table directory via the
    Hadoop FileSystem API — metadata only, driver-side, catalog-scale
    (one RPC per listing page, no data read)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    it = fs.listFiles(jpath, True)
    out: list[tuple[str, int]] = []
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith(("_", ".")):
            continue  # _SUCCESS, hidden/temp files
        out.append((f.getPath().toString(), int(f.getLen())))
    return out


def file_stats(spark: SparkSession, path: str) -> dict:
    """Small-file observability for a parquet table: file count, total
    bytes, and the mean/min/max file size. The trigger metric for
    :func:`compact_auto` — streaming appends (E5 corpus/audit/index)
    add one file per micro-batch, and at 100 TB the listing + footer
    overhead of millions of tiny files dominates scan setup."""
    files = _list_data_files(spark, path)
    sizes = [b for _, b in files]
    total = sum(sizes)
    return {
        "n_files": len(sizes),
        "total_bytes": total,
        "avg_bytes": total // max(len(sizes), 1),
        "min_bytes": min(sizes, default=0),
        "max_bytes": max(sizes, default=0),
    }


def compact_auto(
    spark: SparkSession,
    path: str,
    partition_by: Sequence[str] = (),
    sort_cols: Sequence[str] | None = None,
) -> dict:
    """Size-aware, PARTITION-PRESERVING small-file compaction; returns
    ``{"before": file_stats, "after": file_stats}``.

    :func:`compact` takes an explicit file count and flattens the
    directory — correct for plain tables, WRONG for hive-partitioned
    ones (E5's corpus/audit are partitioned by ingest batch id: a
    flattening rewrite would turn the partition directories into data
    columns and break both partition pruning and the replay guard's
    partition-pruned anti-join). This variant:

    * unpartitioned: file count = ceil(total_bytes / 128 MB)
      from the ACTUAL on-disk listing (optionally range-sorted via
      ``sort_cols`` to preserve clustering);
    * ``partition_by``: rows are hash-repartitioned on the partition
      key, so each hive partition's many per-micro-batch files merge
      into ONE file inside its own directory — layout, pruning and
      replay guards all survive. (Per-partition output is one file by
      design: streaming partitions are micro-batch-sized; a table
      whose single partition outgrows 128 MB should be
      partitioned on something else, not compacted harder.)

    Same crash posture as :func:`compact`: rewrite into a temp
    sibling, then swap — a failed compaction never loses the source.

    OFFLINE-ONLY precondition (by design, like Delta/Iceberg's
    OPTIMIZE without a transaction log): the rename-rename swap is
    NOT atomic — there is a window where ``path`` is absent, and a
    concurrent reader errors or a concurrent writer (e.g. the E5
    ingest stream) re-creates the directory that is about to be
    swapped in, losing its rows. Stop every query reading or
    appending to ``path`` before compacting; the swap uses the Hadoop
    FileSystem API so it also runs against HDFS (on object stores
    where rename is copy+delete the window is proportionally longer —
    same precondition, just wider).
    """
    import math
    import uuid

    before = file_stats(spark, path)
    df = spark.read.parquet(path)
    tmp = sibling_path(path, f".compact_{uuid.uuid4().hex[:8]}")
    if partition_by:
        n = max(32, before["n_files"])
        out = df.repartition(n, *[df[c] for c in partition_by])
        if sort_cols:
            # the caller asked for clustering: honor it inside each
            # partition (this branch used to silently IGNORE
            # sort_cols, rewriting partitions in arbitrary row order
            # and destroying the parquet min/max stats the sort
            # exists for). Partition columns LEAD the sort: the
            # dynamic-partition writer inserts its own sort on them
            # otherwise, which would discard the requested order.
            out = out.sortWithinPartitions(*partition_by, *sort_cols)
        (
            out.write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(tmp)
        )
    else:
        n_files = max(
            1, math.ceil(before["total_bytes"] / (128 << 20))
        )
        if sort_cols:
            write_range_sorted(df, tmp, sort_cols, n_files)
        else:
            df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    _fs_swap(spark, src=tmp, dst=path)
    return {"before": before, "after": file_stats(spark, path)}


def sibling_path(path: str, name: str) -> str:
    """``<parent-of-path>/<name>`` by STRING manipulation — safe for
    URI-schemed data paths. ``pathlib.Path("s3a://b/t").parent``
    collapses the ``//`` to ``s3a:/b`` (a broken URI); every
    temp-sibling a swap writes must survive that, so no ``pathlib``
    on data paths.

    A bare relative segment (``"mytable"``) gets ``"./<name>"``
    (pathlib's parent semantics — NOT a child of the table, which a
    swap would then rename away together with the target); a
    scheme-root path (``"s3a://bucket"``) raises — a bucket has no
    parent to place the temp sibling in, and a swap of a bucket root
    can't rename anyway."""
    if "://" in path:
        scheme, _, tail = path.partition("://")
        authority, _, rest = tail.partition("/")
        rest = rest.rstrip("/")
        if not rest:
            raise ValueError(
                f"{path}: scheme-root path has no parent for a temp "
                f"sibling {name!r} — point the table one level below "
                "the bucket/volume root"
            )
        prefix = f"{scheme}://{authority}"
        if "/" in rest:
            return f"{prefix}/{rest.rsplit('/', 1)[0]}/{name}"
        return f"{prefix}/{name}"
    base = path.rstrip("/")
    if "/" not in base:
        return f"./{name}"
    parent = base.rsplit("/", 1)[0]
    return f"{parent}/{name}" if parent else f"/{name}"


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — works on
    any scheme the cluster mounts (file/hdfs/s3a/gs/abfs), where an
    ``os.path.exists`` probe is driver-local and silently False on
    remote stores (the r7 semantic-tier defect class)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jp = jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(conf).exists(jp)


def hadoop_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem API —
    driver-side, metadata-scale (markers, manifests). Same portability
    contract as :func:`hadoop_exists`: works on any scheme the cluster
    mounts, where ``open()`` would be driver-local."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jp = jvm.org.apache.hadoop.fs.Path(path)
    fs = jp.getFileSystem(conf)
    out = fs.create(jp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def hadoop_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file through the Hadoop FileSystem API
    (counterpart of :func:`hadoop_write_text`)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jp = jvm.org.apache.hadoop.fs.Path(path)
    fs = jp.getFileSystem(conf)
    stream = fs.open(jp)
    try:
        sink = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, sink, 8192, False)
        return bytes(sink.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def _fs_swap(spark: SparkSession, src: str, dst: str) -> None:
    """Swap ``src`` into ``dst`` via Hadoop FileSystem renames
    (portable to HDFS; shutil would be local-only). dst → dst.old,
    src → dst, delete dst.old — a crash between renames leaves the
    data recoverable at dst.old; callers hold the OFFLINE-ONLY
    precondition documented on :func:`compact_auto`. A missing dst
    (bootstrap) is a plain rename."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    jsrc = jvm.org.apache.hadoop.fs.Path(src)
    jold = jvm.org.apache.hadoop.fs.Path(dst + ".old")
    fs = jdst.getFileSystem(conf)
    if not fs.exists(jdst):
        if not fs.rename(jsrc, jdst):
            raise OSError(f"swap bootstrap: rename {src} -> {dst} failed")
        return
    if fs.exists(jold):
        fs.delete(jold, True)
    if not fs.rename(jdst, jold):
        raise OSError(f"compact swap: rename {dst} -> {dst}.old failed")
    if not fs.rename(jsrc, jdst):
        fs.rename(jold, jdst)  # roll back; source table restored
        raise OSError(f"compact swap: rename {src} -> {dst} failed")
    fs.delete(jold, True)


def int_bucket(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Map an integer column in ``[lo, hi]`` to ``[0, 2^bits)`` with
    PURE int64 arithmetic — ``((v − lo) · (2^bits − 1)) div (hi − lo)``
    — so any engine computes the identical bucket (no float division,
    no boundary ulps). ``lo``/``hi`` are table min/max: one metadata
    aggregate at write time. Values are clamped into the range first
    (late-arriving outliers degrade clustering, never correctness).

    Domain bound (checked): exactness requires
    ``(hi − lo) · (2^bits − 1) < 2^53`` — the scaled numerator must be
    a double-exact multiple of the span (and stay far inside int64).
    With the default ``bits=12`` that allows spans up to ~2^41
    (seconds-resolution epochs, ids, sizes). Wider domains
    (microsecond epochs, 64-bit hashes) must be pre-scaled by the
    caller (e.g. ``F.shiftright(col, 20)`` / ``div 1_000_000``) —
    silently producing engine-dependent buckets would corrupt the
    layout, so this raises instead."""
    from pyspark.sql import functions as F

    span = max(int(hi) - int(lo), 1)
    m = (1 << bits) - 1
    if span > (2**53 - 1) // m:
        raise ValueError(
            f"int_bucket: span {span} * (2^{bits}-1) exceeds 2^53; "
            "engine-identical bucketing is not guaranteed — pre-scale "
            "the column (integer divide / shiftright) before bucketing"
        )
    # NULLs bucket to the BOTTOM explicitly: least/greatest SKIP
    # NULLs, so a NULL input used to "clamp" to hi and land in the TOP
    # bucket, physically clustering every NULL row into the files
    # covering the max corner of the range
    c = F.coalesce(col.cast("long"), F.lit(int(lo)))
    v = F.greatest(F.least(c, F.lit(int(hi))), F.lit(int(lo)))
    num = (v - F.lit(int(lo))) * F.lit(m)
    # exact integer division: (num − num % span) is a multiple of span,
    # so the double division is exact (guarded: result < 2^53) in
    # every engine
    return ((num - num % F.lit(span)) / F.lit(span)).cast("long")


def zorder_key(cols: Sequence[Column], bits: int = 12) -> Column:
    """Morton/Z-order key: interleave the low ``bits`` bits of each
    (already-bucketized, non-negative) integer column.

    Sorting by this single key clusters ALL participating dimensions
    simultaneously: a file covering a contiguous z-range covers a
    small hyper-rectangle of the original space, so parquet min/max
    stats stay tight on EVERY column and a filter on any of them
    skips files — the property a single-column sort only provides for
    its leading column (Delta/Iceberg's OPTIMIZE ZORDER is this same
    construction). Pure bit expressions: ``bits × n_cols`` constant
    plan nodes, identical in any engine with int64 shifts.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    n = len(cols)
    if bits < 1 or n < 1:
        raise ValueError(
            f"zorder_key: bits ({bits}) and cols ({n}) must both be "
            ">= 1 — an empty term list would crash in reduce() far "
            "from the bad argument"
        )
    if bits * n > 63:
        raise ValueError(
            f"zorder_key: {bits} bits x {n} cols = {bits * n} exceeds "
            "the 63 usable bits of a signed int64 key; lower bits "
            "(coarser buckets still cluster well) or drop a column"
        )
    terms = []
    for b in range(bits):
        for i, c in enumerate(cols):
            terms.append(
                F.shiftleft(
                    F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
                    b * n + i,
                )
            )
    return reduce(lambda a, t: a.bitwiseOR(t), terms).cast("long")


def hilbert_key_2d(x: Column, y: Column, bits: int = 12) -> Column:
    """Hilbert-curve distance for two (already-bucketized,
    non-negative, ``< 2^bits``) integer columns — the
    locality-stronger sibling of :func:`zorder_key` (the construction
    behind Iceberg's Hilbert clustering): consecutive key values are
    ADJACENT cells in (x, y) space, so a file covering a contiguous
    key range covers one connected blob, not Z-order's split quadrant
    jumps — tighter parquet min/max on both dimensions at file
    boundaries.

    The classic per-bit state machine (quadrant index + rotate/flip;
    public-domain construction, e.g. Wikipedia "Hilbert curve"
    ``xy2d``), expressed as ONE ``aggregate`` fold over the bit
    levels with a ``(x, y, d)`` struct accumulator: runtime-iterative,
    so the plan stays a single codegen expression of constant size —
    building it as nested CASE columns would double the expression
    tree per bit level once CollapseProject inlines the aliases.

    All arithmetic is int64-exact: the only division is by a power of
    two on values ``< 2^bits`` (``bits <= 31`` enforced; the key needs
    ``2·bits`` bits). The DuckDB oracle replays the identical fold as
    one chained CTE per bit level.
    """
    from pyspark.sql import functions as F

    if bits < 1 or 2 * bits > 62:
        raise ValueError(
            f"hilbert_key_2d: bits={bits} out of range (need 1 <= "
            "bits and 2*bits <= 62 for a signed int64 key)"
        )
    n = 1 << bits
    # element list: s = 2^(bits-1) .. 1 (top bit first)
    svals = F.array(
        *[F.lit(1 << b).cast("long") for b in range(bits - 1, -1, -1)]
    )
    init = F.struct(
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    def step(acc, s):
        ax, ay, ad = acc["x"], acc["y"], acc["d"]
        # bit test via exact power-of-two division (values < 2^53)
        rx = ((ax - ax % s) / s).cast("long") % 2
        ry = ((ay - ay % s) / s).cast("long") % 2
        d2 = ad + s * s * ((F.lit(3) * rx).bitwiseXOR(ry))
        flip_x = F.lit(n - 1) - ax
        flip_y = F.lit(n - 1) - ay
        nx = F.when(ry == 1, ax).otherwise(
            F.when(rx == 1, flip_y).otherwise(ay)
        )
        ny = F.when(ry == 1, ay).otherwise(
            F.when(rx == 1, flip_x).otherwise(ax)
        )
        return F.struct(
            nx.cast("long").alias("x"),
            ny.cast("long").alias("y"),
            d2.cast("long").alias("d"),
        )

    return F.aggregate(svals, init, step, lambda acc: acc["d"])


#: Bits per column of the space-filling-curve keys below (4096 buckets
#: per dimension).
_CURVE_BITS = 12


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int,
) -> None:
    """Write parquet Hilbert-clustered on exactly TWO integer-ish
    columns (the dominant layout case: id × event-time). Same
    metadata-aggregate + range-partition + sortWithinPartitions shape
    as :func:`write_zordered`; only the space-filling curve differs.
    """
    from pyspark.sql import functions as F

    if len(cols) != 2:
        raise ValueError(
            "write_hilbert_clustered handles exactly 2 columns; for "
            "3+ dimensions use write_zordered (Morton generalizes "
            "trivially; N-D Hilbert state tables don't pay for "
            "themselves at bits<=12)"
        )
    stats = df.agg(
        *[
            f(F.col(c).cast("long")).alias(f"{agg}_{c}")
            for c in cols
            for agg, f in (("min", F.min), ("max", F.max))
        ]
    ).collect()[0]
    for c in cols:
        if stats[f"min_{c}"] is None or stats[f"max_{c}"] is None:
            raise ValueError(
                f"write_hilbert_clustered: column {c!r} is all-NULL "
                "(no min/max); clustering on it is meaningless"
            )
    bx, by = (
        int_bucket(F.col(c), stats[f"min_{c}"], stats[f"max_{c}"], _CURVE_BITS)
        for c in cols
    )
    keyed = df.withColumn("_hkey", hilbert_key_2d(bx, by, _CURVE_BITS))
    (
        keyed.repartitionByRange(num_files, "_hkey")
        .sortWithinPartitions("_hkey")
        .drop("_hkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int,
) -> None:
    """Write parquet Z-order-clustered on 2+ integer-ish columns.

    One metadata aggregate collects each column's min/max (bounded:
    2·|cols| longs), every row gets its interleaved key, and the data
    lands range-partitioned + sorted by that key. Filters on ANY of
    ``cols`` then skip files via parquet stats — see
    :func:`write_range_sorted` for the single-dimension counterpart
    and ``tests/test_layout_sinks.py`` for the measured spread
    comparison."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[
            f(F.col(c).cast("long")).alias(f"{agg}_{c}")
            for c in cols
            for agg, f in (("min", F.min), ("max", F.max))
        ]
    ).collect()[0]
    for c in cols:
        if stats[f"min_{c}"] is None or stats[f"max_{c}"] is None:
            raise ValueError(
                f"write_zordered: column {c!r} is all-NULL (no min/max); "
                "z-ordering on it is meaningless — drop it from cols"
            )
    buckets = [
        int_bucket(
            F.col(c), stats[f"min_{c}"], stats[f"max_{c}"], _CURVE_BITS
        ).cast("long")
        for c in cols
    ]
    keyed = df.withColumn("_zkey", zorder_key(buckets, _CURVE_BITS))
    (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
