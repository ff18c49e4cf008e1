"""Scalar-function batteries, grouping analytics, exact percentiles,
schema evolution, data-quality report — the long tail of
engine-surface parity (SURVEY.md §2.4-§2.7 extensions), each
oracle-checked.

Batteries are consolidated (one registry entry each) so the driver's
per-query cap covers the whole surface: every battery column is one
function under test, and the oracle reproduces the full column set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions.hashing import (
    default_hash_mode,
    md5_long_sql,
)
from vbb_data_pipeline_spark.functions.literals import literal_rows_df
from vbb_data_pipeline_spark.functions.temporal import date_int, event_timestamp
from vbb_data_pipeline_spark.queries import (
    exact_sum,
    exact_sum_sql,
    load_table,
    register,
)
from vbb_data_pipeline_spark.queries.relational import F3_ORACLE


#: the synthetic crawl URL each string_battery row normalizes — mixed
#: case, default port, tracking params, fragment; built identically in
#: both engines so the normalize_url chain is replayed end-to-end
_URL_TRACK = "utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|sessionid|phpsessid"
_URL_AUTH_RE = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
_URL_ORACLE_CHAIN = f"""
        SELECT *,
               lower(regexp_extract(u0, '{_URL_AUTH_RE}', 1))
                 || substr(u0, length(regexp_extract(u0, '{_URL_AUTH_RE}', 1)) + 1)
                 AS u1
        FROM urls0
    ), urls2 AS (
        SELECT *, regexp_replace(regexp_replace(u1,
                    '^(https://[^/?#:]*):443([/?#]|$)', '\\1\\2', 'g'),
                    '^(http://[^/?#:]*):80([/?#]|$)', '\\1\\2', 'g') AS u2
        FROM urls1
    ), urls3 AS (
        -- query-anchored tracking strip, replaying
        -- functions/urls.normalize_url step for step: split at the
        -- first '?', strip (?:^|&)param=value pairs from the QUERY
        -- only, tidy separators, reassemble
        SELECT *,
               regexp_replace(regexp_replace(regexp_replace(
                   CASE WHEN length(u3) > length(b3)
                        THEN substr(u3, length(b3) + 2) ELSE '' END,
                   '(?:^|&)(?:{_URL_TRACK})=[^&]*', '', 'g'),
                   '&&+', '&', 'g'),
                   '^&+|&+$', '', 'g') AS q3
        FROM (
            SELECT *, regexp_replace(u2, '#.*$', '', 'g') AS u3,
                   regexp_extract(regexp_replace(u2, '#.*$', '', 'g'),
                                  '^([^?]*)', 1) AS b3
            FROM urls2
        )
    ), urls4 AS (
        SELECT *,
               CASE WHEN length(u3) = length(b3) THEN u3
                    WHEN q3 = '' THEN b3
                    ELSE b3 || '?' || q3 END AS url_norm
        FROM urls3
    )"""


@register(
    "string_battery",
    oracle=f"""
    WITH urls0 AS (
        SELECT *,
               'HTTPS://WWW.Ex' || CAST(c_custkey % 7 AS VARCHAR)
                 || '.COM:443/Path/' || CAST(c_custkey AS VARCHAR)
                 || '?utm_source=t&q=' || CAST(c_custkey AS VARCHAR)
                 || '&fbclid=z#sec' AS u0
        FROM customer
    ), urls1 AS ({_URL_ORACLE_CHAIN}
    SELECT c_custkey,
           upper(c_name)                                   AS up,
           lower(c_mktsegment)                             AS lo,
           substr(c_name, 10, 5)                           AS sub,
           concat(c_mktsegment, '#', c_custkey)            AS cat,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0')       AS padded,
           replace(c_name, 'Customer', 'Kunde')            AS repl,
           CAST(length(c_name) AS INT)                     AS len,
           CAST(strpos(c_name, '#') AS INT)                AS pos,
           reverse(c_mktsegment)                           AS rev,
           trim(concat(' ', c_mktsegment, ' '))            AS trimmed,
           CAST(regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS BIGINT) AS name_num,
           regexp_replace(c_name, '[^a-z]', '', 'g')       AS name_alpha,
           url_norm,
           lower(regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS uhost
    FROM urls4
    """,
    survey="§2.7 scalar-function battery (string) + §2.7 F5 (regex "
    "URL extraction, extract_dag.py:21-54) + F6 (header sanitization "
    "regexp_replace, database_loader/operators.py:162) + ext: URL "
    "canonicalization (functions/urls.normalize_url codegen chain + "
    "url_host) — the crawl-curation dedup key, oracle-replayed "
    "regexp-for-regexp",
)
def string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.urls import normalize_url, url_host

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("string")
    u0 = F.concat(
        F.lit("HTTPS://WWW.Ex"),
        (F.col("c_custkey") % 7).cast("string"),
        F.lit(".COM:443/Path/"),
        k,
        F.lit("?utm_source=t&q="),
        k,
        F.lit("&fbclid=z#sec"),
    )
    return c.withColumn("u0", u0).select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("lo"),
        F.substring("c_name", 10, 5).alias("sub"),
        F.concat("c_mktsegment", F.lit("#"), F.col("c_custkey").cast("string")).alias("cat"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Kunde")).alias("repl"),
        F.length("c_name").cast("int").alias("len"),
        F.instr("c_name", "#").cast("int").alias("pos"),
        F.reverse("c_mktsegment").alias("rev"),
        F.trim(F.concat(F.lit(" "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
        F.regexp_extract("c_name", r"Customer#([0-9]+)", 1).cast("long").alias("name_num"),
        F.regexp_replace("c_name", "[^a-z]", "").alias("name_alpha"),
        normalize_url("u0").alias("url_norm"),
        url_host("u0").alias("uhost"),
    )


_GROUPING_ORDERS_ORACLE = f"""
    SELECT 'rollup' AS variant, o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT)   AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           count(*) AS n, {exact_sum_sql("o_totalprice")} AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'cube', o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT),
           CAST(grouping(o_orderpriority) AS INT),
           count(*), {exact_sum_sql("o_totalprice")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'gsets', o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT),
           CAST(grouping(o_orderpriority) AS INT),
           count(*), {exact_sum_sql("o_totalprice")}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """


def grouping_analytics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    aggs = [
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("o_totalprice")).alias("revenue"),
    ]
    cols = ["o_orderstatus", "o_orderpriority", "g_status", "g_prio", "n", "revenue"]

    def tag(df: DataFrame, variant: str) -> DataFrame:
        return df.select(F.lit(variant).alias("variant"), *cols)

    rollup = tag(o.rollup("o_orderstatus", "o_orderpriority").agg(*aggs), "rollup")
    cube = tag(o.cube("o_orderstatus", "o_orderpriority").agg(*aggs), "cube")
    gsets = tag(
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        ).agg(*aggs),
        "gsets",
    )
    return rollup.unionByName(cube).unionByName(gsets)


@register(
    "higher_order_functions",
    oracle="""
    WITH t AS (
        SELECT vec_id, CAST(embedding[1:8] AS DOUBLE[]) AS v
        FROM embeddings
    )
    SELECT vec_id,
           array_to_string(list_transform(v, x -> CAST(round(x * 2000) AS BIGINT)), ',') AS doubled_milli,
           CAST(len(list_filter(v, x -> x > 0)) AS INT)                   AS n_pos,
           round(list_sum(v), 4)                                          AS total,
           array_to_string(list_sort(list_transform(v, x -> CAST(round(x * 1000) AS BIGINT))), ',') AS sorted_milli,
           (len(list_filter(v, x -> x < -0.5)) > 0)                       AS has_small,
           round(list_dot_product(v, list_reverse(v)), 4)                 AS rev_dot
    FROM t
    """,
    survey="§2.7 extension: higher-order functions over ArrayType "
    "(transform/filter/aggregate/zip_with/sort/exists) — the "
    "lambda-expression surface the reference's row loops never had",
    note="arrays stringified for the cross-engine hash; zip_with+"
    "aggregate mirrors DuckDB list_dot_product on the reversed vector",
)
def higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    t = e.select(
        "vec_id",
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")).alias("v"),
    )
    total = F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x)
    rev_dot = F.aggregate(
        F.zip_with(F.col("v"), F.reverse(F.col("v")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return t.select(
        "vec_id",
        F.concat_ws(
            ",",
            F.transform(
                F.col("v"), lambda x: F.round(x * 2000).cast("long").cast("string")
            ),
        ).alias("doubled_milli"),
        F.size(F.filter(F.col("v"), lambda x: x > 0)).alias("n_pos"),
        F.round(total, 4).alias("total"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(
                    F.transform(F.col("v"), lambda x: F.round(x * 1000).cast("long"))
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("sorted_milli"),
        F.exists(F.col("v"), lambda x: x < -0.5).alias("has_small"),
        F.round(rev_dot, 4).alias("rev_dot"),
    )


_STATS_ORACLE = """
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 4)        AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_quantity), 2)  AS price_qty_covar,
           round(skewness(l_extendedprice), 4)                AS price_skew,
           round(kurtosis(l_extendedprice), 4)                AS price_kurt,
           round(stddev_pop(l_discount), 6)                   AS disc_sd_pop,
           round(var_samp(l_tax), 6)                          AS tax_var,
           round(quantile_cont(l_extendedprice, 0.5), 4)      AS median_price,
           round(quantile_cont(l_extendedprice, 0.95), 4)     AS p95_price,
           round(quantile_cont(l_quantity, 0.25), 4)          AS q1_qty,
           CAST(count(DISTINCT l_orderkey) AS BIGINT)         AS n_orders,
           CAST(count(DISTINCT l_suppkey) AS BIGINT)          AS n_suppliers,
           round(min(l_extendedprice), 2)                     AS min_price,
           round(max(l_extendedprice), 2)                     AS max_price,
           round(stddev_samp(l_discount), 6)                  AS sd_discount
    FROM lineitem
    GROUP BY l_returnflag
    """


# DuckDB skewness/kurtosis carry the sample-bias correction (G1/G2);
# Spark's are the population moments (g1/g2). The Spark side converts
# g→G with the exact n-dependent factors so both engines express the
# same statistic.
#
# PLAN-SHAPE RULE (r11, measured): never mix a DISTINCT aggregate with
# large-buffer imperative aggregates (exact percentile's value map,
# approx_count_distinct at rsd 0.01 = 2^14-register HLL) in ONE
# groupBy. Spark plans multi-distinct via Expand + multi-phase
# aggregation, and the imperative buffers are then merged per
# EXPANDED ROW — at sf0.1 the fused form burned 1,866 s of executor
# CPU (208 s GC) in its final aggregate stage vs ~6 s total for the
# split form (this battery went from 179 s wall/steady-run to ~2 s).
# The distinct counts therefore aggregate in their OWN pass and
# null-safe-join back on the (tiny, one row per group) key — two
# clean scans instead of one pathological merge; both scans'
# aggregates combine map-side.
def _join_group_stats(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """Inner null-safe join of two one-row-per-group aggregate frames
    — exactly the rows the single fused aggregate would emit (same
    group sets by construction; eqNullSafe so a NULL group key joins
    itself rather than vanishing)."""
    return a.join(F.broadcast(b), a[key].eqNullSafe(b[key])).drop(b[key])


def stats_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    g1 = F.skewness("l_extendedprice")
    g2 = F.kurtosis("l_extendedprice")
    sample_skew = g1 * F.sqrt(n * (n - 1)) / (n - 2)
    sample_kurt = ((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) * g2 + 6)
    core = li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("price_qty_covar"),
        F.round(sample_skew, 4).alias("price_skew"),
        F.round(sample_kurt, 4).alias("price_kurt"),
        F.round(F.stddev_pop("l_discount"), 6).alias("disc_sd_pop"),
        F.round(F.var_samp("l_tax"), 6).alias("tax_var"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_price"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q1_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_discount"),
    )
    distincts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )
    return _join_group_stats(core, distincts, "l_returnflag").select(
        "l_returnflag",
        "price_qty_corr",
        "price_qty_covar",
        "price_skew",
        "price_kurt",
        "disc_sd_pop",
        "tax_var",
        "median_price",
        "p95_price",
        "q1_qty",
        "n_orders",
        "n_suppliers",
        "min_price",
        "max_price",
        "sd_discount",
    )


_APPROX_ORACLE = """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS approx_orders_ok,
           TRUE AS approx_median_ok
    FROM lineitem
    GROUP BY l_returnflag
    """


def approx_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # sketches + exact percentile in one DISTINCT-FREE pass; the exact
    # distinct count in its own pass (see the plan-shape rule above —
    # fusing them put the 2^14-register HLL and the percentile value
    # map through per-expanded-row merges: 209 s wall for THIS frame
    # alone at sf0.1, ~3 s split)
    sketches = li.groupBy("l_returnflag").agg(
        # rsd 0.01 → the 5% assertion sits 5 standard deviations out
        # (default rsd 0.05 would make the bound a coin flip)
        F.approx_count_distinct("l_orderkey", 0.01).alias("_approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("_approx_median"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("_exact_median"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    agg = _join_group_stats(sketches, exact, "l_returnflag")
    within = lambda approx, exact: (  # noqa: E731
        F.abs(approx.cast("double") - exact.cast("double"))
        / F.greatest(F.abs(exact.cast("double")), F.lit(1e-12))
        <= 0.05
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        within(F.col("_approx_orders"), F.col("exact_orders")).alias(
            "approx_orders_ok"
        ),
        within(F.col("_approx_median"), F.col("_exact_median")).alias(
            "approx_median_ok"
        ),
    )


@register(
    "stats_approx_battery",
    oracle=f"""
    SELECT s.*, a.exact_orders, a.approx_orders_ok, a.approx_median_ok
    FROM ({_STATS_ORACLE}) s JOIN ({_APPROX_ORACLE}) a
    USING (l_returnflag)
    """,
    survey="§2.4 extension: statistical aggregate battery "
    "(corr/covariance/skewness/kurtosis/variance + distinct "
    "aggregates, min/max, stddev, exact interpolated percentiles) "
    "JOINED (folded r5, both legs keep a driver CORRECTNESS row) "
    "with §2.4 approx_count_distinct / percentile_approx — HLL and "
    "KLL-style sketches, the 100 TB substitutes for exact distinct — "
    "second-moment profiling for data-quality monitoring at corpus "
    "scale, one shuffle per leg",
    note="sketch values are engine-specific, but their ERROR BOUND is "
    "checkable: the approx leg emits exact counts plus booleans "
    "asserting the sketches landed within 5% of exact, and the "
    "oracle computes the exact values with the booleans literally "
    "true — a sketch drifting out of tolerance hash-fails the row",
)
def stats_approx_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats_battery(spark, sf_dir).join(
        approx_distinct_stats(spark, sf_dir), "l_returnflag"
    )


#: Deterministic hash-sample predicate shared by Spark and the oracle
#: (seeded md5 — reproducible across engines/partitionings, unlike
#: TABLESAMPLE / seeded RNG sampling).
_SAMPLE_MOD = 4


_ORDERS_SCALAR_ORACLE = f"""
    SELECT o_orderkey,
           -- datetime battery
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)     AS month_start,
           CAST(extract(year FROM o_orderdate) AS INT)             AS yr,
           CAST(extract(quarter FROM o_orderdate) AS INT)          AS qtr,
           CAST(extract(doy FROM o_orderdate) AS INT)              AS doy,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP)       AS plus3m,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)  AS month_end,
           CAST(date_diff('day', DATE '1995-01-01',
                          CAST(o_orderdate AS DATE)) AS INT)       AS days_since_95,
           CAST(extract(isoyear FROM o_orderdate) AS VARCHAR)
             || '-W' || lpad(CAST(weekofyear(o_orderdate) AS VARCHAR), 2, '0')
                                                                   AS year_week,
           -- F1/F2 date-int roundtrip (>24h-safe timestamp reassembly)
           CAST(strftime(o_orderdate, '%Y%m%d') AS INT)            AS d_int,
           o_orderdate + ((o_orderkey * 37) % 100000) * INTERVAL 1 SECOND AS event_ts,
           -- conditional battery
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END                                     AS bucket,
           coalesce(nullif(o_orderstatus, 'O'), 'open')            AS status2,
           greatest(o_totalprice, 150000.0)                        AS hi,
           least(CAST(o_orderkey % 7 AS BIGINT), CAST(o_custkey % 7 AS BIGINT)) AS lo7,
           (o_orderpriority IN ('1-URGENT', '2-HIGH'))             AS urgent
    FROM orders
    WHERE {md5_long_sql("CAST(o_orderkey AS VARCHAR)", seed="sample")} % {_SAMPLE_MOD} = 0
    """


def orders_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.hashing import md5_long

    o = load_table(spark, sf_dir, "orders").filter(
        md5_long(F.col("o_orderkey").cast("string"), seed="sample") % _SAMPLE_MOD == 0
    )
    d = F.to_date("o_orderdate")
    secs = (F.col("o_orderkey") * 37) % 100000
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.dayofyear("o_orderdate").cast("int").alias("doy"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).alias("plus3m"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("int").alias("days_since_95"),
        F.concat(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("string"),
            F.lit("-W"),
            F.lpad(F.weekofyear("o_orderdate").cast("string"), 2, "0"),
        ).alias("year_week"),
        date_int("o_orderdate").alias("d_int"),
        event_timestamp(F.col("o_orderdate"), secs).alias("event_ts"),
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("bucket"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias("status2"),
        F.greatest("o_totalprice", F.lit(150000.0)).alias("hi"),
        F.least((F.col("o_orderkey") % 7), (F.col("o_custkey") % 7)).alias("lo7"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("urgent"),
    )


SCHEMA_EVO_ORACLE = """
    SELECT o_orderkey, o_totalprice, NULL AS o_clerk_note, 'v1' AS src
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL BY NAME
    SELECT o_orderkey,
           o_totalprice,
           concat('note-', CAST(o_custkey AS VARCHAR)) AS o_clerk_note,
           'v2' AS src
    FROM orders WHERE o_orderkey % 2 = 1
    """


def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("src")
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.concat(F.lit("note-"), F.col("o_custkey").cast("string")).alias("o_clerk_note"),
        F.lit("v2").alias("src"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


_DQ_ORACLE = """
    WITH counts AS (
        SELECT
            count(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 50))   AS qty_range,
            count(*) FILTER (WHERE l_discount > 0.08)                   AS disc_cap,
            count(*) FILTER (WHERE l_shipdate IS NULL)                  AS ship_null,
            count(*) FILTER (WHERE l_extendedprice <= 0)                AS price_pos
        FROM lineitem
    ),
    orphans AS (
        SELECT count(*) AS ri_orphan
        FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT 'qty_range' AS rule, CAST(qty_range AS BIGINT) AS n_violations FROM counts
    UNION ALL
    SELECT 'disc_cap',  CAST(disc_cap  AS BIGINT) FROM counts
    UNION ALL
    SELECT 'ship_null', CAST(ship_null AS BIGINT) FROM counts
    UNION ALL
    SELECT 'price_pos', CAST(price_pos AS BIGINT) FROM counts
    UNION ALL
    SELECT 'ri_orphan', CAST(ri_orphan AS BIGINT) FROM orphans
    """


def dq_check_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.operators import core as ops

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    counts = li.agg(
        F.count(F.when(~F.col("l_quantity").between(1, 50), 1)).alias("qty_range"),
        F.count(F.when(F.col("l_discount") > 0.08, 1)).alias("disc_cap"),
        F.count(F.when(F.col("l_shipdate").isNull(), 1)).alias("ship_null"),
        F.count(F.when(F.col("l_extendedprice") <= 0, 1)).alias("price_pos"),
    )
    stacked = counts.selectExpr(
        "stack(4, 'qty_range', qty_range, 'disc_cap', disc_cap, "
        "'ship_null', ship_null, 'price_pos', price_pos) AS (rule, n_violations)"
    )
    orphans = (
        ops.anti_join(li, o, ["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("ri_orphan").alias("rule"), "n_violations")
    )
    return stacked.unionByName(orphans)


# ---------------------------------------------------------------------------
# Deterministic training-export shuffle (operators/sampling.export_shuffle)
# ---------------------------------------------------------------------------
_SHUF_SHARDS = 8


_EXPORT_ORACLE = f"""
    WITH h AS (
        SELECT doc_id,
               {md5_long_sql("CAST(doc_id AS VARCHAR)", seed=0)} AS hh
        FROM documents
    )
    SELECT doc_id,
           CAST(hh % {_SHUF_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY hh % {_SHUF_SHARDS}
               ORDER BY hh, CAST(doc_id AS VARCHAR)
           ) AS BIGINT) AS pos
    FROM h
    """


def export_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.operators.sampling import export_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    out = export_shuffle(
        d, "doc_id", n_shards=_SHUF_SHARDS, seed=0,
        hash_mode=default_hash_mode(),
    )
    return out.select("doc_id", "shard", "pos")


# ---------------------------------------------------------------------------
# Sequence-packing plan (operators/sampling.pack_sequences)
# ---------------------------------------------------------------------------
_SEQ_LEN = 512

_PACK_ORACLE = f"""
    WITH h AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text),
                   '[^a-z0-9]+'), x -> x <> '')) AS n_tok,
               {md5_long_sql("CAST(doc_id AS VARCHAR)", seed=0)} AS hh
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_tok,
               CAST(hh % {_SHUF_SHARDS} AS BIGINT) AS shard,
               row_number() OVER (
                   PARTITION BY hh % {_SHUF_SHARDS}
                   ORDER BY hh, CAST(doc_id AS VARCHAR)
               ) AS pos
        FROM h
    ),
    p AS (
        SELECT doc_id, shard,
               CAST(coalesce(sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_off,
               CAST(n_tok AS BIGINT) AS nt
        FROM s
    )
    SELECT doc_id, shard, start_off,
           CAST(start_off // {_SEQ_LEN} AS BIGINT) AS first_seq,
           CAST(greatest(start_off + nt - 1, start_off) // {_SEQ_LEN}
                AS BIGINT) AS last_seq
    FROM p
    """


def export_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions import text as tx
    from vbb_data_pipeline_spark.operators.sampling import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.token_count("text").alias("n_tok")
    )
    out = pack_sequences(
        d, "doc_id", "n_tok", seq_len=_SEQ_LEN, n_shards=_SHUF_SHARDS,
        seed=0, hash_mode=default_hash_mode(),
    )
    return out.select(
        "doc_id", "shard", "start_off", "first_seq", "last_seq"
    )


# ---------------------------------------------------------------------------
# Z-order clustering key (sources/layout.zorder_key) — bit-exact twin
# ---------------------------------------------------------------------------
_Z_BITS = 12


def _zorder_oracle() -> str:
    m = (1 << _Z_BITS) - 1

    def bucket_sql(v: str, lo: str, hi: str) -> str:
        clamped = f"greatest(least({v}, {hi}), {lo})"
        num = f"(({clamped} - {lo}) * {m})"
        span = f"greatest({hi} - {lo}, 1)"
        return (
            f"CAST((({num} - {num} % {span}) / {span}) AS BIGINT)"
        )

    interleave = " | ".join(
        f"((({c} >> {b}) & 1) << {b * 2 + i})"
        for b in range(_Z_BITS)
        for i, c in enumerate(("zx", "zy"))
    )
    return f"""
    WITH src AS (
        SELECT event_id, CAST(user_id AS BIGINT) AS u,
               CAST(floor(epoch(ts)) AS BIGINT) AS es
        FROM events
    ),
    mm AS (
        SELECT min(u) AS lo1, max(u) AS hi1,
               min(es) AS lo2, max(es) AS hi2
        FROM src
    ),
    b AS (
        SELECT event_id,
               {bucket_sql("u", "mm.lo1", "mm.hi1")} AS zx,
               {bucket_sql("es", "mm.lo2", "mm.hi2")} AS zy
        FROM src CROSS JOIN mm
    )
    SELECT event_id, zx, zy, CAST({interleave} AS BIGINT) AS zkey
    FROM b
    """


def _hilbert_oracle() -> str:
    """DuckDB twin of sources/layout.hilbert_key_2d over the same
    bucketized (user_id, epoch-seconds) inputs as the zorder leg: the
    per-bit quadrant/rotate state machine unrolled as one chained CTE
    per bit level — identical int64 arithmetic to the Spark fold."""
    m = (1 << _Z_BITS) - 1
    n = 1 << _Z_BITS

    def bucket_sql(v: str, lo: str, hi: str) -> str:
        clamped = f"greatest(least({v}, {hi}), {lo})"
        num = f"(({clamped} - {lo}) * {m})"
        span = f"greatest({hi} - {lo}, 1)"
        return f"CAST((({num} - {num} % {span}) / {span}) AS BIGINT)"

    levels = []
    prev = "h0"
    for k, b in enumerate(range(_Z_BITS - 1, -1, -1)):
        s = 1 << b
        cur = f"h{k + 1}"
        levels.append(f"""
    {cur} AS (
        SELECT event_id, hx, hy,
               CASE WHEN ry = 1 THEN x
                    WHEN rx = 1 THEN {n - 1} - y ELSE y END AS x,
               CASE WHEN ry = 1 THEN y
                    WHEN rx = 1 THEN {n - 1} - x ELSE x END AS y,
               d + {s * s} * xor(3 * rx, ry) AS d
        FROM (
            SELECT event_id, hx, hy, x, y, d,
                   CAST(((x - x % {s}) / {s}) AS BIGINT) % 2 AS rx,
                   CAST(((y - y % {s}) / {s}) AS BIGINT) % 2 AS ry
            FROM {prev}
        )
    )""")
        prev = cur
    return f"""
    WITH src AS (
        SELECT event_id, CAST(user_id AS BIGINT) AS u,
               CAST(floor(epoch(ts)) AS BIGINT) AS es
        FROM events
    ),
    mm AS (
        SELECT min(u) AS lo1, max(u) AS hi1,
               min(es) AS lo2, max(es) AS hi2
        FROM src
    ),
    h0 AS (
        SELECT event_id,
               {bucket_sql("u", "mm.lo1", "mm.hi1")} AS hx,
               {bucket_sql("es", "mm.lo2", "mm.hi2")} AS hy,
               {bucket_sql("u", "mm.lo1", "mm.hi1")} AS x,
               {bucket_sql("es", "mm.lo2", "mm.hi2")} AS y,
               CAST(0 AS BIGINT) AS d
        FROM src CROSS JOIN mm
    ),{",".join(levels)}
    SELECT event_id, hx, hy, CAST(d AS BIGINT) AS hkey
    FROM {prev}
    """


def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.sources.layout import (
        hilbert_key_2d,
        int_bucket,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("u"),
        F.unix_timestamp("ts").alias("es"),
    )
    mm = e.agg(
        F.min("u").alias("lo1"),
        F.max("u").alias("hi1"),
        F.min("es").alias("lo2"),
        F.max("es").alias("hi2"),
    ).collect()[0]
    hx = int_bucket(F.col("u"), mm.lo1, mm.hi1, _Z_BITS)
    hy = int_bucket(F.col("es"), mm.lo2, mm.hi2, _Z_BITS)
    out = e.select("event_id", hx.alias("hx"), hy.alias("hy"))
    return out.select(
        "event_id",
        "hx",
        "hy",
        hilbert_key_2d(F.col("hx"), F.col("hy"), _Z_BITS).alias("hkey"),
    )


def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.sources.layout import int_bucket, zorder_key

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("u"),
        F.unix_timestamp("ts").alias("es"),
    )
    mm = e.agg(
        F.min("u").alias("lo1"),
        F.max("u").alias("hi1"),
        F.min("es").alias("lo2"),
        F.max("es").alias("hi2"),
    ).collect()[0]
    zx = int_bucket(F.col("u"), mm.lo1, mm.hi1, _Z_BITS)
    zy = int_bucket(F.col("es"), mm.lo2, mm.hi2, _Z_BITS)
    out = e.select(
        "event_id", zx.alias("zx"), zy.alias("zy")
    )
    return out.select(
        "event_id",
        "zx",
        "zy",
        zorder_key([F.col("zx"), F.col("zy")], _Z_BITS).alias("zkey"),
    )


_DOMAIN_MIX_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.3
                           WHEN 'src2' THEN 0.0 ELSE 1.0 END AS factor,
               CAST('0x' || substr(md5('mix|epoch0|' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 10000 AS bucket
        FROM documents
    ),
    n AS (
        SELECT doc_id,
               CAST(floor(factor) AS BIGINT)
               + CASE WHEN bucket <
                       CAST(round((factor - floor(factor)) * 10000) AS BIGINT)
                      THEN 1 ELSE 0 END AS n_copies
        FROM base
    )
    SELECT doc_id, CAST(t.copy_idx AS BIGINT) AS copy_idx
    FROM n, LATERAL unnest(range(1, n_copies + 1)) t(copy_idx)
    """


def domain_mix_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain re-weighting (operators/sampling.
    weighted_domain_mix): src0 up-sampled 2.5x (every row twice, a
    hash-chosen half a third time), src1 kept at 30%, src2 dropped,
    everything else passes at 1.0. Zero shuffles — the copy expansion
    is a map-side explode inside the scan stage."""
    from vbb_data_pipeline_spark.operators.sampling import (
        weighted_domain_mix,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = weighted_domain_mix(
        d,
        "source",
        {"src0": 2.5, "src1": 0.3, "src2": 0.0},
        "doc_id",
        epoch=0,
        seed="mix",
        hash_mode="oracle",
    )
    return out.select("doc_id", F.col("copy_idx").cast("long").alias("copy_idx"))


#: compaction-leg oracle: content invariance (per-group counts + an
#: order-insensitive XOR checksum straight off the SOURCE table) with
#: the file-shrink assertion emitted as a literal 1 — a compaction
#: that loses/duplicates rows hash-fails the checksum, one that fails
#: to shrink the file count fails the flag (same recipe as
#: stats_approx_battery's sketch error-bound booleans)
_COMPACT_ORACLE = f"""
    SELECT CAST(user_id % 8 AS BIGINT) AS grp,
           count(*) AS n,
           bit_xor({md5_long_sql("CAST(event_id AS VARCHAR)")}) AS checksum,
           CAST(1 AS BIGINT) AS shrunk
    FROM events
    GROUP BY 1
    """


def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the events ids as a 64-file table at a deterministic tmp
    path (idempotent overwrite), run the size-aware compaction
    (sources/layout.compact_auto), and emit per-group content
    checksums from the COMPACTED table plus the measured file-shrink
    flag — the hash gate then proves compaction preserved every row
    and actually merged files."""
    import hashlib
    import os
    import tempfile

    from vbb_data_pipeline_spark.functions.hashing import md5_long
    from vbb_data_pipeline_spark.sources.layout import compact_auto

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"vbb_compact_{key}")
    e.repartition(64).write.mode("overwrite").parquet(path)
    stats = compact_auto(spark, path)
    shrunk = (
        stats["after"]["n_files"] < stats["before"]["n_files"]
        and stats["after"]["total_bytes"] > 0
    )
    after = spark.read.parquet(path)
    return after.groupBy(
        (F.col("user_id") % 8).cast("long").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(md5_long(F.col("event_id").cast("string"))).alias(
            "checksum"
        ),
    ).withColumn("shrunk", F.lit(1 if shrunk else 0).cast("long"))


@register(
    "layout_export_battery",
    oracle=f"""
    SELECT 'zorder' AS variant, event_id AS id,
           zx AS v1, zy AS v2, zkey AS v3, CAST(NULL AS BIGINT) AS v4
    FROM ({_zorder_oracle()}) t
    UNION ALL
    SELECT 'hilbert', event_id, hx, hy, hkey, CAST(NULL AS BIGINT)
    FROM ({_hilbert_oracle()}) t
    UNION ALL
    SELECT 'export_shuffle', doc_id, shard, pos, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM ({_EXPORT_ORACLE}) t
    UNION ALL
    SELECT 'packing', doc_id, shard, start_off, first_seq, last_seq
    FROM ({_PACK_ORACLE}) t
    UNION ALL
    SELECT 'domain_mix', doc_id, copy_idx, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM ({_DOMAIN_MIX_ORACLE}) t
    UNION ALL
    SELECT 'compaction', grp, n, checksum, shrunk, CAST(NULL AS BIGINT)
    FROM ({_COMPACT_ORACLE}) t
    """,
    survey="extension: layout/export determinism battery (folded r5 "
    "so both legs keep a driver CORRECTNESS row) — [zorder] Z-order/"
    "Morton clustering key over (user_id, event-time): integer-exact "
    "bucketization (pure int64 div, no float boundaries) + bit "
    "interleave; sorting by the key keeps parquet min/max stats "
    "tight on EVERY participating dimension so filters on any of "
    "them skip files (the Delta/Iceberg OPTIMIZE ZORDER "
    "construction; sources/layout.write_zordered is the writer); "
    "[hilbert] Hilbert-curve clustering key over the same bucketized "
    "pair (sources/layout.hilbert_key_2d, the Iceberg-style "
    "locality-stronger curve): the per-bit quadrant state machine as "
    "ONE aggregate-fold codegen expression (constant plan size — "
    "nested CASE columns would double per bit under CollapseProject); "
    "consecutive keys are spatially adjacent cells, so contiguous "
    "files cover connected blobs instead of Z's quadrant jumps; "
    "[export_shuffle] deterministic global shuffle + sharding for "
    "training export — shard = hash(seed|key) % N, within-shard "
    "order by (hash, key); reproducible pseudo-random corpus order "
    "with ONE shard-keyed exchange and per-shard sorts, never a "
    "global sort; [packing] concat-and-chunk sequence-packing plan "
    "(operators/sampling.pack_sequences, GPT-style pre-training "
    "layout): per-shard token-offset prefix sum over the export "
    "order maps every document to its [start_off, end_off) span and "
    "the range of seq_len-sized training sequences it touches — the "
    "token writer becomes one embarrassingly-parallel pass per "
    "shard, byte-identical across engines and cluster sizes; "
    "[domain_mix] weighted domain re-weighting (operators/sampling."
    "weighted_domain_mix): fractional repeat factors via "
    "hash(seed|epoch|key) buckets — epoch-aware, reproducible, zero "
    "shuffles (map-side explode); [compaction, promoted r7 from "
    "pytest-only] size-aware small-file compaction (sources/layout."
    "compact_auto): a 64-file table rewritten to the byte-target file "
    "count via a Hadoop-FS rename swap — per-group content checksums "
    "read from the COMPACTED table hash-match the source (no row "
    "lost/duplicated) and the measured file-shrink flag must be true",
)
def layout_export_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = layout_zorder_key(spark, sf_dir).select(
        F.lit("zorder").alias("variant"),
        F.col("event_id").alias("id"),
        F.col("zx").alias("v1"),
        F.col("zy").alias("v2"),
        F.col("zkey").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    h = layout_hilbert_key(spark, sf_dir).select(
        F.lit("hilbert").alias("variant"),
        F.col("event_id").alias("id"),
        F.col("hx").alias("v1"),
        F.col("hy").alias("v2"),
        F.col("hkey").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    ex = export_shuffle_shards(spark, sf_dir).select(
        F.lit("export_shuffle").alias("variant"),
        F.col("doc_id").alias("id"),
        F.col("shard").alias("v1"),
        F.col("pos").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    pk = export_packing_plan(spark, sf_dir).select(
        F.lit("packing").alias("variant"),
        F.col("doc_id").alias("id"),
        F.col("shard").alias("v1"),
        F.col("start_off").alias("v2"),
        F.col("first_seq").alias("v3"),
        F.col("last_seq").alias("v4"),
    )
    null_l = F.lit(None).cast("long")
    dm = domain_mix_assignment(spark, sf_dir).select(
        F.lit("domain_mix").alias("variant"),
        F.col("doc_id").alias("id"),
        F.col("copy_idx").alias("v1"),
        null_l.alias("v2"),
        null_l.alias("v3"),
        null_l.alias("v4"),
    )
    cp = compaction_roundtrip(spark, sf_dir).select(
        F.lit("compaction").alias("variant"),
        F.col("grp").alias("id"),
        F.col("n").alias("v1"),
        F.col("checksum").alias("v2"),
        F.col("shrunk").alias("v3"),
        null_l.alias("v4"),
    )
    return (
        z.unionByName(h)
        .unionByName(ex)
        .unionByName(pk)
        .unionByName(dm)
        .unionByName(cp)
    )


# CCNet-style unigram LM scores as fixed-point 1e-4 units (the
# report schema's n column is BIGINT; scores are negative mean token
# log-probs). vocab_size=100 deliberately exercises the OOV floor.
_LM_ORACLE = """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    stats AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS v
        FROM counts
    ),
    model AS (
        SELECT token,
               ln((n + 1) / CAST(s.nt + s.v + 1 AS DOUBLE)) AS logprob
        FROM counts, stats s
        ORDER BY n DESC, token ASC LIMIT 100
    ),
    oov AS (SELECT -ln(CAST(nt + v + 1 AS DOUBLE)) AS o FROM stats),
    lp AS (
        SELECT t.doc_id,
               CAST(round(coalesce(m.logprob, o.o) * 1000000) AS BIGINT)
                   AS lp_u
        FROM tok t LEFT JOIN model m USING (token) CROSS JOIN oov o
    ),
    per_doc AS (
        SELECT doc_id, CAST(sum(lp_u) AS BIGINT) AS su, count(*) AS c
        FROM lp GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(round(round(coalesce(
               CAST(p.su AS DOUBLE) / p.c / 1000000.0, o.o), 4) * 10000)
               AS BIGINT) AS score_e4
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN per_doc p USING (doc_id)
    CROSS JOIN oov o
    """


# DSIR (Xie et al. 2023) replay: hashed unigram+bigram buckets,
# add-1-smoothed bucket log-ratios in micro-units (BIGINT sums), and
# the Gumbel-top-k selection keys — identical arithmetic to
# operators/dsir.py. Constants shared with the Spark side below.
_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"
_DSIR_TOP_N = 100
_DSIR_SEED = "dsir-7"
_DSIR_U_DENOM = "1152921504606846977.0"  # 2^60 + 1 (60-bit md5 hash)

_DSIR_BASE = f"""
    WITH tok AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang,
               unnest(t || CASE WHEN len(t) >= 2
                   THEN list_transform(range(1, len(t)),
                                       i -> t[i] || '_' || t[i + 1])
                   ELSE [] END) AS gram
        FROM tok
    ),
    feat AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                   % {_DSIR_BUCKETS} AS bucket,
               count(*) AS c
        FROM grams GROUP BY doc_id, lang, bucket
    ),
    tgt_b AS (
        SELECT bucket, CAST(sum(c) AS BIGINT) AS n FROM feat
        WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bucket
    ),
    raw_b AS (
        SELECT bucket, CAST(sum(c) AS BIGINT) AS n FROM feat GROUP BY bucket
    ),
    tot AS (
        SELECT (SELECT CAST(sum(n) AS BIGINT) FROM tgt_b) AS nt,
               (SELECT CAST(sum(n) AS BIGINT) FROM raw_b) AS nr
    ),
    delta AS (
        SELECT coalesce(t.bucket, r.bucket) AS bucket,
               CAST(round((
                   ln((coalesce(t.n, 0) + 1.0) / (tot.nt + {_DSIR_BUCKETS}.0))
                 - ln((coalesce(r.n, 0) + 1.0) / (tot.nr + {_DSIR_BUCKETS}.0))
               ) * 1000000) AS BIGINT) AS delta_u
        FROM tgt_b t FULL OUTER JOIN raw_b r ON t.bucket = r.bucket
        CROSS JOIN tot
    ),
    logw AS (
        SELECT f.doc_id, CAST(sum(f.c * d.delta_u) AS BIGINT) AS logw_u
        FROM feat f JOIN delta d USING (bucket) GROUP BY f.doc_id
    ),
    w AS (
        SELECT d.doc_id, coalesce(l.logw_u, 0) AS logw_u
        FROM (SELECT doc_id FROM documents) d LEFT JOIN logw l USING (doc_id)
    )"""

_DSIR_W_ORACLE = _DSIR_BASE + """
    SELECT doc_id, logw_u FROM w
    """

_DSIR_SEL_ORACLE = _DSIR_BASE + f"""
    , sel AS (
        SELECT doc_id,
               round(CAST(logw_u AS DOUBLE) / 1000000.0
                     + -ln(-ln((CAST('0x' || substr(
                           md5('{_DSIR_SEED}|' || CAST(doc_id AS VARCHAR)),
                           1, 15) AS BIGINT) + 1) / {_DSIR_U_DENOM})),
                     6) AS key
        FROM w
    ),
    ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY key DESC, doc_id ASC) AS rank
        FROM sel
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_DSIR_TOP_N}
    """


def _quality_reports_oracle() -> str:
    from vbb_data_pipeline_spark.queries.dedup_q import DECON_ORACLE

    return f"""
    SELECT 'dq' AS report, rule AS key,
           n_violations AS n
    FROM ({_DQ_ORACLE}) t
    UNION ALL
    SELECT 'decontam', CAST(doc_id AS VARCHAR), n_contaminated_grams
    FROM ({DECON_ORACLE}) t
    UNION ALL
    SELECT 'lm', CAST(doc_id AS VARCHAR), score_e4
    FROM ({_LM_ORACLE}) t
    UNION ALL
    SELECT 'dsir', CAST(doc_id AS VARCHAR), logw_u
    FROM ({_DSIR_W_ORACLE}) t
    UNION ALL
    SELECT 'dsir_sel', CAST(doc_id AS VARCHAR), rank
    FROM ({_DSIR_SEL_ORACLE}) t
    """


@register(
    "quality_reports",
    oracle=_quality_reports_oracle(),
    survey="§1.3 constraint mapping + extension (folded r5 so both "
    "legs keep a driver CORRECTNESS row) — [dq] CHECK-style "
    "data-quality report (operators/quality.check_range row-filter "
    "twin): one scan, conditional-count aggregates, stack to (rule, "
    "n_violations); the reference delegated these to Postgres CHECK "
    "constraints (05-create-schema.sh:154-155); includes §2.3 J4 FK "
    "web → referential-integrity check as the ri_orphan rule "
    "(left-anti join count, operators/quality.orphan_rows); "
    "[decontam] benchmark decontamination (GPT-3 appendix C recipe) "
    "— eval 3-gram set dedup + BROADCAST, corpus explodes grams "
    "map-side and only matching (doc_id, gram_hash) pairs reach the "
    "one count shuffle; corpus text never moves; [lm] CCNet-style "
    "unigram LM quality scores (operators/lm.lm_quality_scores, "
    "vocab=100 to exercise the OOV floor) — per-token log-probs in "
    "fixed-point micro-units summed as BIGINT so the mean is "
    "order-independent; scores reported in 1e-4 units in the BIGINT "
    "n column; [dsir]+[dsir_sel] DSIR data selection (Xie et al. "
    "2023, operators/dsir.py): hashed unigram+bigram bucket models "
    "(B={}) for target (lang='{}') vs raw, per-doc importance "
    "log-weight = Σ c_b·(ln p_b − ln q_b) in micro-unit BIGINTs "
    "(order-independent), then Gumbel-top-{} resampling without "
    "replacement via deterministic md5-derived noise — both corpus "
    "scans aggregate map-side, the log-ratio table broadcasts, and "
    "selection is a TakeOrdered, never a corpus sort".format(
        _DSIR_BUCKETS, _DSIR_TARGET_LANG, _DSIR_TOP_N
    ),
)
def quality_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.queries.dedup_q import decontam_report

    dq = dq_check_report(spark, sf_dir).select(
        F.lit("dq").alias("report"),
        F.col("rule").alias("key"),
        F.col("n_violations").alias("n"),
    )
    de = decontam_report(spark, sf_dir).select(
        F.lit("decontam").alias("report"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_contaminated_grams").alias("n"),
    )
    from vbb_data_pipeline_spark.operators.lm import lm_quality_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lm = lm_quality_scores(docs, "text", "doc_id", vocab_size=100).select(
        F.lit("lm").alias("report"),
        F.col("doc_id").cast("string").alias("key"),
        F.round(F.col("lm_score") * 10000).cast("long").alias("n"),
    )
    from vbb_data_pipeline_spark.operators.dsir import (
        dsir_logweights,
        gumbel_topk,
    )

    dd = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    weights = dsir_logweights(
        dd,
        dd.filter(F.col("lang") == _DSIR_TARGET_LANG),
        "text",
        "doc_id",
        n_buckets=_DSIR_BUCKETS,
    ).localCheckpoint(eager=True)  # (doc_id, logw_u) — one scalar per
    # doc, consumed by both the weights leg and the selection leg
    dsir_w = weights.select(
        F.lit("dsir").alias("report"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("logw_u").alias("n"),
    )
    dsir_sel = gumbel_topk(
        weights, _DSIR_TOP_N, _DSIR_SEED, "doc_id"
    ).select(
        F.lit("dsir_sel").alias("report"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("rank").cast("long").alias("n"),
    )
    return (
        dq.unionByName(de)
        .unionByName(lm)
        .unionByName(dsir_w)
        .unionByName(dsir_sel)
    )


# ---------------------------------------------------------------------------
# Multi-dimensional aggregation: ROLLUP / CUBE / GROUPING SETS
# ---------------------------------------------------------------------------


_GROUPING_LI_ORACLE = """
    SELECT 'rollup' AS variant,
           l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube',
           l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT),
           CAST(GROUPING(l_linestatus) AS INT),
           CAST(sum(l_quantity) AS BIGINT),
           count(*)
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'sets',
           l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT),
           CAST(GROUPING(l_linestatus) AS INT),
           CAST(sum(l_quantity) AS BIGINT),
           count(*)
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """


def grouping_sets_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ]
    cols = ["l_returnflag", "l_linestatus"]
    rollup = li.rollup(*cols).agg(*aggs)
    cube = li.cube(*cols).agg(*aggs)
    li.createOrReplaceTempView("_gs_lineitem")
    sets = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )
    tag = lambda df, v: df.select(  # noqa: E731
        F.lit(v).alias("variant"),
        "l_returnflag",
        "l_linestatus",
        "g_rf",
        "g_ls",
        "sum_qty",
        "n",
    )
    return (
        tag(rollup, "rollup")
        .unionByName(tag(cube, "cube"))
        .unionByName(tag(sets, "sets"))
    )


@register(
    "grouping_analytics",
    oracle=f"""
    SELECT 'o_' || t.variant AS variant,
           t.o_orderstatus AS k1, t.o_orderpriority AS k2,
           t.g_status AS g1, t.g_prio AS g2, t.n,
           t.revenue, CAST(NULL AS BIGINT) AS sum_qty
    FROM ({_GROUPING_ORDERS_ORACLE}) t
    UNION ALL
    SELECT 'li_' || t.variant, t.l_returnflag, t.l_linestatus,
           t.g_rf, t.g_ls, t.n,
           CAST(NULL AS DOUBLE), t.sum_qty
    FROM ({_GROUPING_LI_ORACLE}) t
    """,
    survey="§2.4/§2.5 extension — multi-dimensional aggregation "
    "battery (folded r7 so both legs keep a driver CORRECTNESS row "
    "inside the 50-entry window): ROLLUP + CUBE + explicit GROUPING "
    "SETS over orders (o_* variants, revenue measure) AND over "
    "lineitem (li_* variants, sum_qty measure, including the "
    "no-grand-total sets form), each with GROUPING() markers — one "
    "Expand + one hash-agg exchange per variant, never a self-union "
    "of per-level scans",
    note="GROUPING() flags distinguish 'subtotal row' from 'group key "
    "IS NULL' — required for hash parity since both render as NULL",
)
def grouping_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    o = grouping_analytics_orders(spark, sf_dir).select(
        F.concat(F.lit("o_"), F.col("variant")).alias("variant"),
        F.col("o_orderstatus").alias("k1"),
        F.col("o_orderpriority").alias("k2"),
        F.col("g_status").alias("g1"),
        F.col("g_prio").alias("g2"),
        "n",
        "revenue",
        null_l.alias("sum_qty"),
    )
    li = grouping_sets_battery(spark, sf_dir).select(
        F.concat(F.lit("li_"), F.col("variant")).alias("variant"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("g_rf").alias("g1"),
        F.col("g_ls").alias("g2"),
        "n",
        null_d.alias("revenue"),
        "sum_qty",
    )
    return o.unionByName(li)


# ---------------------------------------------------------------------------
# NULL semantics battery — the classic cross-engine hazard class:
# null-safe equality joins, aggregate NULL skipping, NULL ordering,
# NULL group keys, scalar null functions
# ---------------------------------------------------------------------------

#: orders-derived frame with injected NULLs, built identically in both
#: engines: every 7th key NULLs the price, every 11th the priority
_NULLS_SRC_SQL = """
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE CAST(o_totalprice AS DOUBLE) END AS price,
               CASE WHEN o_orderkey % 11 = 0 THEN NULL
                    ELSE o_orderpriority END AS prio
        FROM orders
"""


_NULL_SEM_ORACLE = f"""
    WITH src AS ({_NULLS_SRC_SQL}),
    agg AS (
        SELECT 'agg' AS variant, prio AS s1,
               count(*) AS n1,
               count(price) AS n2,
               round(avg(price), 4) AS d1
        FROM src GROUP BY prio
    ),
    nsj AS (
        SELECT 'null_safe_join' AS variant, a.prio AS s1,
               count(*) AS n1,
               CAST(NULL AS BIGINT) AS n2,
               CAST(NULL AS DOUBLE) AS d1
        FROM (SELECT DISTINCT prio FROM src) a
        JOIN (SELECT DISTINCT prio FROM src) b
          ON a.prio IS NOT DISTINCT FROM b.prio
        GROUP BY a.prio
    ),
    ordered AS (
        SELECT 'order_nulls_first' AS variant, prio AS s1,
               k AS n1, CAST(NULL AS BIGINT) AS n2,
               CAST(NULL AS DOUBLE) AS d1
        FROM src ORDER BY prio ASC NULLS FIRST, k ASC LIMIT 5
    ),
    ordered2 AS (
        SELECT 'order_nulls_last' AS variant, prio AS s1,
               k AS n1, CAST(NULL AS BIGINT) AS n2,
               CAST(NULL AS DOUBLE) AS d1
        FROM src ORDER BY prio DESC NULLS LAST, k DESC LIMIT 5
    ),
    scalars AS (
        SELECT 'scalars' AS variant,
               CAST(NULL AS VARCHAR) AS s1,
               CAST(sum(CASE WHEN coalesce(price, 0.0) = 0.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN nullif(prio, '1-URGENT') IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               round(sum(coalesce(price, 0.0)), 2) AS d1
        FROM src
    ),
    ej AS (
        SELECT 'equi_join_null_drop' AS variant,
               CAST(NULL AS VARCHAR) AS s1,
               count(*) AS n1,
               CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS d1
        FROM (SELECT DISTINCT prio FROM src) a
        JOIN (SELECT DISTINCT prio FROM src) b ON a.prio = b.prio
    ),
    aj AS (
        SELECT 'anti_join_null_kept' AS variant,
               CAST(NULL AS VARCHAR) AS s1,
               count(*) AS n1,
               CAST(sum(CASE WHEN prio IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
               CAST(NULL AS DOUBLE) AS d1
        FROM src ANTI JOIN (SELECT '3-MEDIUM' AS p) t ON src.prio = t.p
    ),
    sj AS (
        SELECT 'semi_join_null_excl' AS variant,
               CAST(NULL AS VARCHAR) AS s1,
               count(*) AS n1,
               CAST(sum(CASE WHEN prio IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
               CAST(NULL AS DOUBLE) AS d1
        FROM src SEMI JOIN (
            SELECT DISTINCT prio AS p FROM src WHERE prio IS NOT NULL
        ) t ON src.prio = t.p
    )
    SELECT * FROM agg
    UNION ALL SELECT * FROM nsj
    UNION ALL SELECT * FROM ordered
    UNION ALL SELECT * FROM ordered2
    UNION ALL SELECT * FROM scalars
    UNION ALL SELECT * FROM ej
    UNION ALL SELECT * FROM aj
    UNION ALL SELECT * FROM sj
    """


def null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice").cast("double"))
        .alias("price"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
    )
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    agg = src.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n1"),
        F.count("price").alias("n2"),
        F.round(F.avg("price"), 4).alias("d1"),
    ).select(
        F.lit("agg").alias("variant"), F.col("prio").alias("s1"),
        "n1", "n2", "d1",
    )
    a = src.select("prio").distinct().alias("a")
    b = src.select("prio").distinct().alias("b")
    nsj = (
        a.join(b, F.col("a.prio").eqNullSafe(F.col("b.prio")))
        .groupBy(F.col("a.prio").alias("s1"))
        .agg(F.count(F.lit(1)).alias("n1"))
        .select(
            F.lit("null_safe_join").alias("variant"), "s1", "n1",
            null_l.alias("n2"), null_d.alias("d1"),
        )
    )
    o1 = (
        src.orderBy(F.col("prio").asc_nulls_first(), F.col("k").asc())
        .limit(5)
        .select(
            F.lit("order_nulls_first").alias("variant"),
            F.col("prio").alias("s1"), F.col("k").alias("n1"),
            null_l.alias("n2"), null_d.alias("d1"),
        )
    )
    o2 = (
        src.orderBy(F.col("prio").desc_nulls_last(), F.col("k").desc())
        .limit(5)
        .select(
            F.lit("order_nulls_last").alias("variant"),
            F.col("prio").alias("s1"), F.col("k").alias("n1"),
            null_l.alias("n2"), null_d.alias("d1"),
        )
    )
    scalars = src.agg(
        F.sum(
            F.when(F.coalesce("price", F.lit(0.0)) == 0.0, 1).otherwise(0)
        ).cast("long").alias("n1"),
        F.sum(
            F.when(
                F.nullif(F.col("prio"), F.lit("1-URGENT")).isNull(), 1
            ).otherwise(0)
        ).cast("long").alias("n2"),
        F.round(F.sum(F.coalesce("price", F.lit(0.0))), 2).alias("d1"),
    ).select(
        F.lit("scalars").alias("variant"),
        F.lit(None).cast("string").alias("s1"),
        "n1", "n2", "d1",
    )
    # NULL equi-join semantics (round-9 adversarial leg): plain `=`
    # drops NULL keys from inner AND semi joins, while anti-join KEEPS
    # NULL-keyed left rows (NULL never matches, so nothing excludes
    # them) — the exact class behind the r8 self-review's name-list
    # join findings, now pinned by the DuckDB oracle.
    ej = (
        src.select("prio").distinct().alias("ja")
        .join(
            src.select("prio").distinct().alias("jb"),
            F.col("ja.prio") == F.col("jb.prio"),
        )
        .agg(F.count(F.lit(1)).alias("n1"))
        .select(
            F.lit("equi_join_null_drop").alias("variant"),
            F.lit(None).cast("string").alias("s1"),
            "n1", null_l.alias("n2"), null_d.alias("d1"),
        )
    )
    null_flag = F.sum(
        F.when(F.col("prio").isNull(), 1).otherwise(0)
    ).cast("long")
    aj = (
        src.join(
            literal_rows_df(spark, [("3-MEDIUM",)], "p string"),
            src["prio"] == F.col("p"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n1"), null_flag.alias("n2"))
        .select(
            F.lit("anti_join_null_kept").alias("variant"),
            F.lit(None).cast("string").alias("s1"),
            "n1", "n2", null_d.alias("d1"),
        )
    )
    sj = (
        src.join(
            src.filter(F.col("prio").isNotNull())
            .select(F.col("prio").alias("p"))
            .distinct(),
            src["prio"] == F.col("p"),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n1"), null_flag.alias("n2"))
        .select(
            F.lit("semi_join_null_excl").alias("variant"),
            F.lit(None).cast("string").alias("s1"),
            "n1", "n2", null_d.alias("d1"),
        )
    )
    return (
        agg.unionByName(nsj).unionByName(o1).unionByName(o2)
        .unionByName(scalars).unionByName(ej).unionByName(aj)
        .unionByName(sj)
    )


@register(
    "engine_semantics_battery",
    oracle=f"""
    SELECT t.variant, t.s1, t.n1, t.n2, t.d1,
           CAST(NULL AS TIMESTAMP) AS t1, CAST(NULL AS TIMESTAMP) AS t2
    FROM ({_NULL_SEM_ORACLE}) t
    UNION ALL
    SELECT 'f3_dow', CAST(NULL AS VARCHAR),
           CAST(dow AS BIGINT), n_days, CAST(NULL AS DOUBLE),
           first_day, last_day
    FROM ({F3_ORACLE}) t
    """,
    survey="engine-semantics battery (folded r7 so both legs keep a "
    "driver CORRECTNESS row inside the 50-entry window) — "
    "[null semantics, §2.3/§2.5 extension] aggregates skip NULLs but "
    "count(*) doesn't; GROUP BY keeps a NULL key group; null-safe "
    "equality (<=> / IS NOT DISTINCT FROM) matches NULL=NULL in a "
    "join; NULLS FIRST/LAST ordering under LIMIT; coalesce/nullif; "
    "[f3_dow, §2.7 F3 detectWeekDays] day enumeration correct across "
    "month boundaries, diverging from GtfsDAO.java:75-78 numeric "
    "YYYYMMDD increments (SURVEY.md §7.2)",
    note="every 7th price and 11th priority injected NULL from "
    "o_orderkey, identically in both engines",
)
def engine_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.queries.relational import (
        f3_day_enumeration,
    )

    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    null_ts = F.lit(None).cast("timestamp")
    ns = null_semantics_battery(spark, sf_dir).select(
        "*", null_ts.alias("t1"), null_ts.alias("t2")
    )
    f3 = f3_day_enumeration(spark, sf_dir).select(
        F.lit("f3_dow").alias("variant"),
        null_s.alias("s1"),
        F.col("dow").cast("long").alias("n1"),
        F.col("n_days").alias("n2"),
        null_d.alias("d1"),
        F.col("first_day").alias("t1"),
        F.col("last_day").alias("t2"),
    )
    return ns.unionByName(f3)


# ---------------------------------------------------------------------------
# Temporal function battery — date_trunc / add_months / last_day /
# datediff / dow / ISO week parity (with the engine-difference
# mappings encoded in the oracle, e.g. DuckDB dow 0=Sun vs Spark
# dayofweek 1=Sun)
# ---------------------------------------------------------------------------


_TEMPORAL_FN_ORACLE = """
    SELECT o_orderkey AS k,
           CAST(CAST(date_trunc('week', o_orderdate) AS DATE) AS VARCHAR)    AS trunc_week,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)   AS trunc_month,
           CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE) AS VARCHAR) AS trunc_quarter,
           CAST(CAST(o_orderdate + INTERVAL 5 MONTH AS DATE) AS VARCHAR)     AS plus_5m,
           CAST(last_day(o_orderdate) AS VARCHAR)                            AS month_end,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since,
           CAST(dayofweek(o_orderdate) + 1 AS INT)          AS dow_sun1,
           CAST(weekofyear(o_orderdate) AS INT)             AS iso_week,
           CAST(quarter(o_orderdate) AS INT)                AS qtr,
           CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS INT) AS epoch_days,
           strftime(o_orderdate, '%Y-%m-%d')                AS iso_str
    FROM orders
    """


def temporal_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.date_trunc("week", d).cast("date").cast("string").alias("trunc_week"),
        F.date_trunc("month", d).cast("date").cast("string").alias("trunc_month"),
        F.date_trunc("quarter", d).cast("date").cast("string").alias("trunc_quarter"),
        F.add_months(d, 5).cast("string").alias("plus_5m"),
        F.last_day(d).cast("string").alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since"),
        F.dayofweek(d).cast("int").alias("dow_sun1"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.quarter(d).cast("int").alias("qtr"),
        F.datediff(d, F.lit("1970-01-01").cast("date"))
        .cast("int")
        .alias("epoch_days"),
        F.date_format(d, "yyyy-MM-dd").alias("iso_str"),
    )


#: scalar-leg columns surfaced in the combined battery, prefixed sc_
#: to dodge the temporal leg's month_end/qtr name collisions
_SC_COLS = [
    "month_start",
    "yr",
    "qtr",
    "doy",
    "plus3m",
    "month_end",
    "days_since_95",
    "year_week",
    "d_int",
    "event_ts",
    "bucket",
    "status2",
    "hi",
    "lo7",
    "urgent",
]


@register(
    "orders_scalar_battery",
    # NULL booleans stringify differently across the engines' pandas
    # bridges ('None' vs 'nan'), so the nullable sc_urgent travels as
    # INT 0/1 on both sides
    oracle=f"""
    SELECT t.*, {", ".join(
        "CAST(s.urgent AS INT) AS sc_urgent" if c == "urgent"
        else f"s.{c} AS sc_{c}" for c in _SC_COLS
    )}
    FROM ({_TEMPORAL_FN_ORACLE}) t
    LEFT JOIN ({_ORDERS_SCALAR_ORACLE}) s ON s.o_orderkey = t.k
    """,
    survey="§2.7 scalar/temporal battery (folded r7 so both legs keep "
    "a driver CORRECTNESS row inside the 50-entry window; join key = "
    "the orders primary key, one broadcast-free equi-join) — "
    "[temporal, full orders] date_trunc week/month/quarter, month "
    "arithmetic with month-end clamping (add_months), last_day, day "
    "diffs, day-of-week (DuckDB dow 0=Sunday mapped to Spark's "
    "1=Sunday), ISO week, quarter, epoch days, ISO formatting — all "
    "codegen, zero shuffle; [scalar, sc_* columns on the "
    "deterministic hash sample, NULL off-sample] §2.7 F1 "
    "(extractDateInt) + F2 (createLocalDateTime, §7 hard-part 1: "
    ">24:00:00 seconds roll into the next day) + conditional/"
    "comparison scalars + §2.4 deterministic hash sampling "
    "(reproducible, engine-portable TABLESAMPLE substitute; the same "
    "predicate prunes identically across engines and reruns)",
    note="the oracle encodes each engine-semantics mapping explicitly "
    "(dow offset, interval month clamping, trunc return types); date "
    "outputs travel as ISO strings — the driver compare normalizes "
    "engine-native date dtypes differently",
)
def orders_scalar_temporal_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sc = orders_scalar_battery(spark, sf_dir)
    sc = sc.select(
        F.col("o_orderkey").alias("k"),
        *[
            F.col(c).cast("int").alias("sc_urgent")
            if c == "urgent"
            else F.col(c).alias(f"sc_{c}")
            for c in _SC_COLS
        ],
    )
    return temporal_functions_battery(spark, sf_dir).join(sc, "k", "left")
