"""Driver-facing query registry.

Each entry pairs a Spark query (``(spark, sf_dir) -> DataFrame``) with
its DuckDB oracle SQL (ANSI, over the pre-registered parquet views).
The driver hash-compares both at sf0.01 (``__spark_entry__.py``).

Cross-engine determinism rules (every query here follows them):

* alias every computed column identically on both sides;
* round any float that passed through an aggregate or a transcendental
  function (libm/summation-order ulps differ between engines);
* cast DuckDB integer sums to BIGINT (DuckDB widens to HUGEINT);
* include a unique tiebreaker in every ORDER BY that feeds a LIMIT or
  a window rank;
* hash with md5-derived int64 (functions/hashing.py) — identical in
  both engines — never with engine-native hash functions.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    survey: str  # SURVEY.md §2 rows this query covers
    note: str = ""


REGISTRY: dict[str, QuerySpec] = {}

_QUERY_MODULES = [
    "relational",
    "temporal_q",
    "windows_q",
    "text_q",
    "dedup_q",
    "similarity_q",
    "events_q",
    "streaming_q",
    "misc_q",
    "cdc_q",
    "graph_q",
    "crawl_q",
]


def register(name: str, oracle: str | None, survey: str, note: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name, fn, oracle, survey, note)
        return fn

    return deco


#: bytes of scanned data per task when a small scan fans out
#: (:func:`fan_out_scan`) or a replayed stream sizes its state stores
#: (``streaming_q._stream_state_partitions``)
FAN_OUT_TARGET_BYTES = 64 << 10


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan whose planned split count is
    below the session's core count (optimization guide §2.5, "input
    skew": parquet is only splittable at row-group boundaries, so a
    small or single-row-group file scans as one task and serializes
    the whole downstream chain — joins, explodes, regex projections,
    Python stages — onto one core while the rest idle).

    Scale-adaptive by construction, not a local[32] constant: the gate
    compares Spark's OWN planned scan partitioning against the live
    ``defaultParallelism``. At production scale a table scan has >=
    cores splits and this is a no-op (no exchange is added); under the
    driver's lower-core scaling runs both sides of the comparison
    shrink together. The exchange this adds when it does fire moves
    only the pruned scan columns (projection pushdown applies below a
    Repartition), and the guide's warning about blanket
    repartition-for-parallelism is respected by applying this only on
    query paths whose post-scan work is measured to dominate the scan
    itself (flagship explode chain, corpus text profiling, Python
    image decode).

    The fan-out WIDTH is sized to the data, not the core count
    (guide §2.2 "fewer, larger partitions", same posture rule as
    CRAWL_CONF's shuffle sizing): ``ceil(scan_bytes /
    FAN_OUT_TARGET_BYTES)`` capped at ``defaultParallelism``. An r10
    experiment on the sf0.1 corpus measured a blanket
    ``repartition(32)`` at 156 rows/task: per-task constants
    (scheduling, generated-code warm-up, shuffle-block fetch) dominated
    — wall 0.54 s and ~820 ms steady CPU vs 0.29 s wall / ~600 ms CPU
    at 8 data-sized tasks, with identical plans otherwise. 64 KB of
    compressed parquet text is ~100-200 ms of regex-density CPU — big
    enough to amortize the constants, small enough to spread. At
    production bytes the cap keeps this = cores (and the gate above
    already makes it a no-op once scans have natural splits).
    """
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    stats_bytes = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    n = min(cores, max(2, -(-stats_bytes // FAN_OUT_TARGET_BYTES)))
    return df.repartition(n)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Read one driver table.

    ``events.parquet`` is written with TIMESTAMP(NANOS), which Spark's
    parquet reader rejects unless nanos are surfaced as long; convert
    to a proper TimestampType (microseconds, truncating like DuckDB
    does) so downstream queries see a timestamp column.

    The session timezone is pinned to UTC here because the caller may
    be an external driver whose session uses a different zone — the
    DuckDB oracle's timestamps are UTC-naive, and window/date
    functions would otherwise shift wall-clock values.
    """
    if spark.conf.get("spark.sql.session.timeZone") not in ("UTC", "Etc/UTC"):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) surfaced as long (round-1 testdata).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] with isAdjustedToUTC=false (round-2
            # testdata). The session zone is pinned to UTC above, so
            # this cast preserves the wall-clock value while giving
            # downstream streaming watermarks the TimestampType they
            # require (NTZ event time is rejected by Spark).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return fan_out_scan(df) if fan_out else df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return fan_out_scan(df) if fan_out else df


def all_queries() -> dict[str, QuerySpec]:
    """Import every query module and return the populated registry."""
    for m in _QUERY_MODULES:
        importlib.import_module(f"vbb_data_pipeline_spark.queries.{m}")
    return REGISTRY


def legacy_queries() -> dict[str, QueryFn]:
    """Historical per-leg query names → functions.

    The r5 registry consolidation folded same-shaped legs into
    battery entries so all of them fit the driver's 50-entry
    CORRECTNESS window; the leg functions themselves are unchanged.
    tools/bench_scale.py keeps timing the legs under their ORIGINAL
    names through this map so round-over-round and scale-decade series
    stay comparable.
    """
    from vbb_data_pipeline_spark.queries import (  # noqa: PLC0415
        cdc_q,
        dedup_q,
        graph_q,
        misc_q,
        relational,
        similarity_q,
        streaming_q,
        text_q,
        windows_q,
    )

    return {
        # round-7 folds (registry 60 → 50 so the driver's 50-entry
        # CORRECTNESS window covers every entry again)
        "w1_topk_per_group": windows_q.w1_topk_per_group,
        "text_token_stats": text_q.text_token_stats,
        "text_doc_profile": text_q.text_doc_profile,
        "text_pii_redaction": text_q.text_pii_redaction,
        "text_normalization_battery": text_q.text_normalization_battery,
        "semdedup_incremental_probe": similarity_q.semdedup_incremental_probe,
        "stream_dedup_keys": streaming_q.stream_dedup_keys,
        "stream_stateful_counts": streaming_q.stream_stateful_counts,
        "stream_geo_filter": streaming_q.stream_geo_filter,
        "f3_day_enumeration": relational.f3_day_enumeration,
        "dedup_substring_spans": dedup_q.dedup_substring_spans,
        "dedup_span_removal": dedup_q.dedup_span_removal,
        "grouping_sets_battery": misc_q.grouping_sets_battery,
        "null_semantics_battery": misc_q.null_semantics_battery,
        "temporal_functions_battery": misc_q.temporal_functions_battery,
        "sim_bruteforce_topk": similarity_q.sim_bruteforce_topk,
        "sim_lsh_topk": similarity_q.sim_lsh_topk,
        "sim_ivf_topk": similarity_q.sim_ivf_topk,
        "sim_pq_topk": similarity_q.sim_pq_topk,
        "sim_ivfpq_topk": similarity_q.sim_ivfpq_topk,
        "sim_ivfpq_residual_topk": similarity_q.sim_ivfpq_residual_topk,
        "dedup_minhash_lsh": dedup_q.dedup_minhash_lsh,
        "dedup_ngram_jaccard": dedup_q.dedup_ngram_jaccard,
        "dedup_clusters": dedup_q.dedup_clusters,
        "decontam_report": dedup_q.decontam_report,
        "graph_pagerank": graph_q.graph_pagerank,
        "stats_battery": misc_q.stats_battery,
        "approx_distinct_stats": misc_q.approx_distinct_stats,
        "schema_evolution_union": misc_q.schema_evolution_union,
        "dq_check_report": misc_q.dq_check_report,
        "export_shuffle_shards": misc_q.export_shuffle_shards,
        "export_packing_plan": misc_q.export_packing_plan,
        "layout_zorder_key": misc_q.layout_zorder_key,
        "cdc_scd2": cdc_q.cdc_scd2,
        "q17_small_quantity_revenue": relational.q17_small_quantity_revenue,
        "q18_large_orders": relational.q18_large_orders,
        "q3_shipping_priority": relational.q3_shipping_priority,
        "q5_local_supplier_volume": relational.q5_local_supplier_volume,
        "w2_running_revenue": windows_q.w2_running_revenue,
        "w4_rank_functions": windows_q.w4_rank_functions,
        "stream_tumbling_window": streaming_q.stream_tumbling_window,
        "stream_sliding_window": streaming_q.stream_sliding_window,
    }


# ---------------------------------------------------------------------------
# Cross-engine exact aggregation helpers
# ---------------------------------------------------------------------------
# Summing doubles is order-dependent; two engines summing the same rows
# can land on opposite sides of a rounding boundary (observed at
# sf0.01). Fixed-point summation is order-independent: round each row
# to `scale` units (bit-identical per-row in both engines), sum as
# BIGINT (exact), divide back. Use for every multi-row double SUM/AVG
# in oracle-checked queries.


# ---------------------------------------------------------------------------
# Tagged-union fold helpers (round-5 registry consolidation)
# ---------------------------------------------------------------------------
# The external driver hash-checks the first 50 ``queries()`` entries;
# round 4 grew the registry to 61, letting 11 entries silently fall
# outside the gate. These helpers fold same-shaped (or coercible)
# legs into one battery entry so every operator keeps a driver row.


def tag_union(legs, tag: str = "variant") -> DataFrame:
    """Union ``(name, df)`` legs under a leading tag column.

    Every leg must already share one column set (coerce with NULL
    literals first); ``unionByName`` guards against positional mixups.
    """
    from pyspark.sql import functions as F

    out = None
    for name, df in legs:
        t = df.select(F.lit(name).alias(tag), *df.columns)
        out = t if out is None else out.unionByName(t)
    assert out is not None
    return out


def tag_union_sql(legs, tag: str = "variant") -> str:
    """DuckDB twin of :func:`tag_union` — wraps each leg's full
    ``WITH … SELECT`` oracle as a subquery (DuckDB allows CTEs inside
    parenthesized subqueries) and UNION ALLs them under the tag."""
    parts = []
    for i, (name, sql) in enumerate(legs):
        head = f"SELECT '{name}' AS {tag}, t.*" if i == 0 else f"SELECT '{name}', t.*"
        parts.append(f"{head} FROM (\n{sql}\n) t")
    return "\nUNION ALL\n".join(parts)


def exact_sum(col, scale: int = 100):
    """Spark side: order-independent fixed-point sum of a double column."""
    from pyspark.sql import functions as F

    return F.sum(F.round(col * scale).cast("long")) / float(scale)


def exact_sum_sql(expr: str, scale: int = 100) -> str:
    """DuckDB twin of :func:`exact_sum`."""
    return f"(sum(CAST(round(({expr}) * {scale}) AS BIGINT)) / {scale}.0)"
