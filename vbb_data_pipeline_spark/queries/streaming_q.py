"""Streaming queries in the correctness gate.

These run REAL Structured Streaming (file source → windowed agg →
memory sink, driven to completion) and return the materialized result.
Because the engine's window wrappers are batch/stream-identical
(streaming/windows.py), the same DuckDB oracle that checks the batch
twin checks the streaming result — a stronger guarantee than the
rows-only fallback (SURVEY.md §7 hard-part 6).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vbb_data_pipeline_spark.queries import (
    FAN_OUT_TARGET_BYTES,
    exact_sum,
    exact_sum_sql,
    register,
)
from vbb_data_pipeline_spark.streaming.windows import (
    dedup_within_watermark,
    run_to_memory,
    tumbling,
)

#: memo for :func:`_stream_state_partitions` — all eight stream legs
#: size from the same events file, and each construction otherwise
#: pays a fresh driver-side parquet listing/footer read (r10 advice).
#: Keyed on the session UUID so a stop/recreate cycle is a clean miss.
_STATE_PARTITIONS_MEMO: dict[tuple[str, str], int] = {}


def _stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """State-store partition count sized to the replayed source's
    bytes (ceil(bytes / FAN_OUT_TARGET_BYTES), capped at the session's
    ``defaultParallelism``) — the fan_out_scan sizing rule applied to
    streaming state. Every state
    store pays per-micro-batch open/commit I/O whether or not it holds
    rows, so a fixture-scale replay with core-count stores spends its
    wall in store commits (measured r10: 14 s -> 3.6 s per leg at
    sf0.01, interleaved A/B). Grows back to the core cap at real
    stream volumes; values identical either way (grouping keys decide
    results, not partition count). Sized from a batch scan's plan
    statistic, not a driver-local stat call — the path may be an
    object-store URI (fs-portability gate). Memoized per
    (session, sf_dir); only a missing/unreadable source path
    (AnalysisException) falls back to the core count — anything else
    surfaces instead of silently mis-sizing state stores."""
    from pyspark.errors import AnalysisException

    key = (spark._jsparkSession.sessionUUID(), sf_dir)
    if key in _STATE_PARTITIONS_MEMO:
        return _STATE_PARTITIONS_MEMO[key]
    cores = spark.sparkContext.defaultParallelism
    try:
        nbytes = int(
            spark.read.parquet(f"{sf_dir}/events.parquet")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    except AnalysisException:
        return cores
    n = min(cores, max(2, -(-nbytes // FAN_OUT_TARGET_BYTES)))
    _STATE_PARTITIONS_MEMO[key] = n
    return n


def _events_raw_schema(ts_type: str) -> T.StructType:
    ts_field = {
        "bigint": T.LongType(),  # TIMESTAMP(NANOS) surfaced as long
        "timestamp_ntz": T.TimestampNTZType(),  # timestamp[us], no UTC adj
    }.get(ts_type, T.TimestampType())
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_field),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table.

    Mirrors ``load_table``'s dtype branch (queries/__init__.py): the
    testdata's ``ts`` is either TIMESTAMP(NANOS)-as-long (divide to
    micros) or timestamp[us] with isAdjustedToUTC=false (surfaces as
    timestamp_ntz; cast to timestamp — the session zone is pinned UTC
    so the wall-clock value is preserved and watermarks get the
    TimestampType they require). A batch footer probe (driver-side,
    no job) picks the branch so both layouts stream correctly.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone") not in ("UTC", "Etc/UTC"):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_type = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes
    ).get("ts")
    # file-stream sources take directories: stream the sf dir with a
    # glob restricted to the events table
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_type == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


_TUMBLING_ORACLE = f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, {exact_sum_sql("value")} AS sum_value
    FROM events
    GROUP BY 1, 2
    """


def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = tumbling(
        _event_stream(spark, sf_dir),
        "ts",
        "1 hour",
        ["event_type"],
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("value")).alias("sum_value"),
        watermark="10 minutes",
    ).select("window_start", "event_type", "n", "sum_value")
    name = f"tumble_{uuid.uuid4().hex[:8]}"
    run_to_memory(agg, name, output_mode="complete", state_partitions=_stream_state_partitions(spark, sf_dir))
    return spark.table(name)


_DEDUP_KEYS_ORACLE = """
    SELECT DISTINCT user_id, event_type FROM events
    """


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _event_stream(spark, sf_dir).select("ts", "user_id", "event_type")
    deduped = dedup_within_watermark(
        stream, ["user_id", "event_type"], "ts", "1 hour"
    ).select("user_id", "event_type")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    run_to_memory(deduped, name, output_mode="append", state_partitions=_stream_state_partitions(spark, sf_dir))
    # append-mode may emit a key more than once across micro-batches at
    # the watermark edge; the semantic result is the key set
    return spark.table(name).distinct()


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState)
# ---------------------------------------------------------------------------
def _stateful_counts(key, pdf_iter, state):
    """Per-user running aggregate kept in GroupState: (count, max_ts).

    The events fixture arrives as one micro-batch (single parquet
    file), so the emitted final state equals the batch aggregate —
    which is what the oracle checks. With a live source the same code
    emits monotone updates per micro-batch.
    """
    import pandas as pd

    count, max_us = state.get() if state.exists else (0, 0)
    for pdf in pdf_iter:
        count += len(pdf)
        batch_max = pdf["ts"].max()
        max_us = max(max_us, int(batch_max.value // 1000))
    state.update((count, max_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [count],
            "last_ts": [pd.Timestamp(max_us * 1000)],
        }
    )


_STATEFUL_ORACLE = """
    SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """


def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _event_stream(spark, sf_dir).select("ts", "user_id")
    out = stream.groupBy("user_id").applyInPandasWithState(
        _stateful_counts,
        outputStructType="user_id long, n_events long, last_ts timestamp",
        stateStructType="count long, max_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"state_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, output_mode="update", state_partitions=_stream_state_partitions(spark, sf_dir))
    return spark.table(name)


# ---------------------------------------------------------------------------
# T4: geo stream filter (completes the reference's missing GeoFilterStream)
# ---------------------------------------------------------------------------
_GEO_CENTER = (10.0, 20.0)
_GEO_RADIUS_M = 3_000_000.0

_GEO_SQL_DIST = f"""
    2 * 6371000.0 * atan2(
        sqrt(
            sin(radians(lat - {_GEO_CENTER[0]}) / 2) * sin(radians(lat - {_GEO_CENTER[0]}) / 2)
            + cos(radians({_GEO_CENTER[0]})) * cos(radians(lat))
            * sin(radians(lon - {_GEO_CENTER[1]}) / 2) * sin(radians(lon - {_GEO_CENTER[1]}) / 2)
        ),
        sqrt(1 - (
            sin(radians(lat - {_GEO_CENTER[0]}) / 2) * sin(radians(lat - {_GEO_CENTER[0]}) / 2)
            + cos(radians({_GEO_CENTER[0]})) * cos(radians(lat))
            * sin(radians(lon - {_GEO_CENTER[1]}) / 2) * sin(radians(lon - {_GEO_CENTER[1]}) / 2)
        ))
    )
"""


_GEO_FILTER_ORACLE = f"""
    WITH pts AS (
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               CAST((user_id * 7) % 180 - 90 AS DOUBLE)    AS lat,
               CAST((event_id * 13) % 360 - 180 AS DOUBLE) AS lon
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    )
    SELECT event_id, k, lat, lon,
           CAST(round({_GEO_SQL_DIST}) AS BIGINT) AS dist_m
    FROM pts
    WHERE {_GEO_SQL_DIST} <= {_GEO_RADIUS_M}
    """


def stream_geo_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.geo import haversine_m

    stream = _event_stream(spark, sf_dir)
    parsed = (
        stream.withColumn("_p", F.from_json("props", "k INT"))
        .filter(F.col("_p.k").isNotNull())
        .select(
            "event_id",
            F.col("_p.k").alias("k"),
            ((F.col("user_id") * 7) % 180 - 90).cast("double").alias("lat"),
            ((F.col("event_id") * 13) % 360 - 180).cast("double").alias("lon"),
        )
    )
    dist = haversine_m(
        F.col("lat"), F.col("lon"), F.lit(_GEO_CENTER[0]), F.lit(_GEO_CENTER[1])
    )
    out = parsed.filter(dist <= _GEO_RADIUS_M).withColumn(
        "dist_m", F.round(dist).cast("long")
    )
    name = f"geo_{uuid.uuid4().hex[:8]}"
    run_to_memory(out, name, output_mode="append", state_partitions=_stream_state_partitions(spark, sf_dir))
    return spark.table(name)


@register(
    "stream_state_battery",
    oracle=f"""
    SELECT 'dedup_keys' AS variant, t.user_id, t.event_type,
           CAST(NULL AS BIGINT) AS n_events,
           CAST(NULL AS TIMESTAMP) AS last_ts,
           CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS INT) AS k,
           CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon,
           CAST(NULL AS BIGINT) AS dist_m
    FROM ({_DEDUP_KEYS_ORACLE}) t
    UNION ALL
    SELECT 'stateful_counts', t.user_id, CAST(NULL AS VARCHAR),
           t.n_events, t.last_ts,
           CAST(NULL AS BIGINT), CAST(NULL AS INT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT)
    FROM ({_STATEFUL_ORACLE}) t
    UNION ALL
    SELECT 'geo_filter', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
           t.event_id, t.k, t.lat, t.lon, t.dist_m
    FROM ({_GEO_FILTER_ORACLE}) t
    """,
    survey="§2.9 stateful/stateless streaming battery (folded r7 so "
    "every leg keeps a driver CORRECTNESS row inside the 50-entry "
    "window; each leg runs REAL Structured Streaming to a memory "
    "sink) — [dedup_keys] dropDuplicatesWithinWatermark (streaming "
    "stateful dedup; key projection makes the survivor choice "
    "immaterial); [stateful_counts] custom stateful operator "
    "(applyInPandasWithState, GroupState) — running per-user "
    "counters, single-micro-batch input makes the emitted state "
    "equal the batch aggregate; [geo_filter] T4 geo stream filter — "
    "the GeoFilterStream app the reference's build references but "
    "never ships (utils/GeoPredicate.java:15-52 + "
    "streaming/pom.xml:285-294): JSON parse-or-drop (P9) → haversine "
    "radius (P6/F4) → append sink, stateless so the stream result "
    "equals the batch oracle exactly",
)
def stream_state_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    null_i = F.lit(None).cast("int")
    null_d = F.lit(None).cast("double")
    null_ts = F.lit(None).cast("timestamp")
    dk = stream_dedup_keys(spark, sf_dir).select(
        F.lit("dedup_keys").alias("variant"),
        "user_id",
        "event_type",
        null_l.alias("n_events"),
        null_ts.alias("last_ts"),
        null_l.alias("event_id"),
        null_i.alias("k"),
        null_d.alias("lat"),
        null_d.alias("lon"),
        null_l.alias("dist_m"),
    )
    sc = stream_stateful_counts(spark, sf_dir).select(
        F.lit("stateful_counts").alias("variant"),
        "user_id",
        null_s.alias("event_type"),
        "n_events",
        "last_ts",
        null_l.alias("event_id"),
        null_i.alias("k"),
        null_d.alias("lat"),
        null_d.alias("lon"),
        null_l.alias("dist_m"),
    )
    gf = stream_geo_filter(spark, sf_dir).select(
        F.lit("geo_filter").alias("variant"),
        null_l.alias("user_id"),
        null_s.alias("event_type"),
        null_l.alias("n_events"),
        null_ts.alias("last_ts"),
        "event_id",
        "k",
        "lat",
        "lon",
        "dist_m",
    )
    return dk.unionByName(sc).unionByName(gf)


_SLIDING_ORACLE = f"""
    WITH buckets AS (
        SELECT e.*,
               TIMESTAMP '1970-01-01'
                 + CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * INTERVAL 1 SECOND
                 AS b
        FROM events e
    ),
    assigned AS (
        SELECT user_id, value, w.ws AS window_start
        FROM buckets,
             LATERAL unnest([b, b - 1800 * INTERVAL 1 SECOND]) AS w(ws)
        WHERE ts >= w.ws AND ts < w.ws + 3600 * INTERVAL 1 SECOND
    )
    SELECT window_start, count(*) AS n, {exact_sum_sql("value")} AS sum_value
    FROM assigned
    GROUP BY window_start
    """


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.streaming.windows import sliding

    agg = sliding(
        _event_stream(spark, sf_dir),
        "ts",
        "1 hour",
        "30 minutes",
        [],
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("value")).alias("sum_value"),
        watermark="10 minutes",
    ).select("window_start", "n", "sum_value")
    name = f"slide_{uuid.uuid4().hex[:8]}"
    run_to_memory(agg, name, output_mode="complete", state_partitions=_stream_state_partitions(spark, sf_dir))
    return spark.table(name)


# ---------------------------------------------------------------------------
# Stream-stream interval join (watermarked, bounded state)
# ---------------------------------------------------------------------------
_SS_JOIN_ORACLE = """
    SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
           a.ts AS view_ts, b.ts AS purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 6 h of a view by the
    same user.

    Both sides are watermarked and the join condition carries the
    event-time range, so Spark derives a state-retention bound for
    each side (view state expires once the purchase watermark passes
    view_ts + 6 h) — state is bounded by the interval, not the stream
    length. The equi-key (user_id) makes it a hash join per
    micro-batch; no cartesian fallback.
    """
    views = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 6 HOURS")
        ),
    ).select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")
    name = f"ssjoin_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name, output_mode="append", state_partitions=_stream_state_partitions(spark, sf_dir))
    return spark.table(name)


# ---------------------------------------------------------------------------
# Stream-static broadcast enrichment
# ---------------------------------------------------------------------------
_STATIC_ENRICH_ORACLE = f"""
    SELECT date_trunc('day', e.ts) AS window_start, c.c_mktsegment,
           count(*) AS n, {exact_sum_sql("e.value")} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch broadcast-joins the
    customer dimension (no state, no watermark requirement on the
    static side) — the standard enrichment topology for dimension
    lookups at streaming ingest. Aggregated per market segment by
    1-day tumbling window so the result is comparable batch-wise.
    """
    from vbb_data_pipeline_spark.queries import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = _event_stream(spark, sf_dir).join(
        F.broadcast(dim), F.col("user_id") == F.col("c_custkey")
    )
    agg = tumbling(
        enriched,
        "ts",
        "1 day",
        ["c_mktsegment"],
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("value")).alias("sum_value"),
        watermark="10 minutes",
    ).select("window_start", "c_mktsegment", "n", "sum_value")
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    run_to_memory(agg, name, output_mode="complete", state_partitions=_stream_state_partitions(spark, sf_dir))
    return spark.table(name)


@register(
    "stream_window_battery",
    oracle=f"""
    SELECT 'tumbling' AS variant, t.window_start, t.event_type,
           t.n, t.sum_value, CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS a_id, CAST(NULL AS BIGINT) AS b_id,
           CAST(NULL AS TIMESTAMP) AS b_ts
    FROM ({_TUMBLING_ORACLE}) t
    UNION ALL
    SELECT 'sliding', t.window_start, CAST(NULL AS VARCHAR),
           t.n, t.sum_value, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS TIMESTAMP)
    FROM ({_SLIDING_ORACLE}) t
    UNION ALL
    SELECT 'ss_join', t.view_ts, CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), t.user_id,
           t.view_id, t.purchase_id, t.purchase_ts
    FROM ({_SS_JOIN_ORACLE}) t
    UNION ALL
    SELECT 'static_enrich', t.window_start, t.c_mktsegment,
           t.n, t.sum_value, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS TIMESTAMP)
    FROM ({_STATIC_ENRICH_ORACLE}) t
    """,
    survey="§2.9 T1 (micro-batch source pump) — Structured Streaming "
    "battery (folded so every leg keeps a driver CORRECTNESS row): "
    "[tumbling] file source → watermark → 1h tumbling window → memory "
    "sink; [sliding] 1h/30m sliding window, overlapping window "
    "assignment, complete mode; [ss_join] watermarked stream-stream "
    "interval join (purchases within 6h of a view, per user) — the "
    "event-time range in the join condition bounds each side's state "
    "by the interval, not the stream length; [static_enrich] "
    "stream-static broadcast dimension join (stateless per "
    "micro-batch) → per-segment daily window; each leg must equal "
    "its batch oracle exactly",
)
def stream_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    null_ts = F.lit(None).cast("timestamp")
    tum = stream_tumbling_window(spark, sf_dir).select(
        F.lit("tumbling").alias("variant"),
        "window_start",
        "event_type",
        "n",
        "sum_value",
        null_l.alias("user_id"),
        null_l.alias("a_id"),
        null_l.alias("b_id"),
        null_ts.alias("b_ts"),
    )
    sli = stream_sliding_window(spark, sf_dir).select(
        F.lit("sliding").alias("variant"),
        "window_start",
        F.lit(None).cast("string").alias("event_type"),
        "n",
        "sum_value",
        null_l.alias("user_id"),
        null_l.alias("a_id"),
        null_l.alias("b_id"),
        null_ts.alias("b_ts"),
    )
    ssj = stream_stream_join(spark, sf_dir).select(
        F.lit("ss_join").alias("variant"),
        F.col("view_ts").alias("window_start"),
        F.lit(None).cast("string").alias("event_type"),
        null_l.alias("n"),
        null_d.alias("sum_value"),
        "user_id",
        F.col("view_id").alias("a_id"),
        F.col("purchase_id").alias("b_id"),
        F.col("purchase_ts").alias("b_ts"),
    )
    enr = stream_static_enrich(spark, sf_dir).select(
        F.lit("static_enrich").alias("variant"),
        "window_start",
        F.col("c_mktsegment").alias("event_type"),
        "n",
        "sum_value",
        null_l.alias("user_id"),
        null_l.alias("a_id"),
        null_l.alias("b_id"),
        null_ts.alias("b_ts"),
    )
    return tum.unionByName(sli).unionByName(ssj).unionByName(enr)
