"""Event-stream-shaped batch queries: as-of join enrichment and
remaining table coverage (part/supplier joins).

The as-of join is the classic time-series operator Spark lacks
natively (SURVEY.md §2.3 gap list); operators/temporal.asof_join
implements it as union + event-time-windowed forward fill, verified
here against DuckDB's native ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions.literals import literal_rows_df
from vbb_data_pipeline_spark.operators import core as ops
from vbb_data_pipeline_spark.operators.temporal import asof_join
from vbb_data_pipeline_spark.queries import exact_sum, exact_sum_sql, load_table, register


@register(
    "asof_purchase_context",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts,
               max(value)    AS purchase_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    ),
    le AS (
        SELECT event_id, ts, user_id, event_type, -epoch_us(ts) AS nts
        FROM events
    ),
    rp AS (
        SELECT user_id, ts AS pts, purchase_value, -epoch_us(ts) AS nts
        FROM purchases
    )
    SELECT 'backward' AS direction,
           e.event_id, e.ts, e.user_id, e.event_type,
           p.ts            AS purchase_ts,
           p.purchase_value,
           CAST(date_diff('second', p.ts, e.ts) AS BIGINT) AS delta_secs
    FROM events e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    UNION ALL
    SELECT 'forward',
           e.event_id, e.ts, e.user_id, e.event_type,
           p.pts AS purchase_ts,
           p.purchase_value,
           CAST(date_diff('second', e.ts, p.pts) AS BIGINT) AS delta_secs
    FROM le e
    ASOF LEFT JOIN rp p
      ON e.user_id = p.user_id AND e.nts >= p.nts
    """,
    survey="§2.3 gap list: as-of join, BOTH directions (backward = "
    "most recent right row at-or-before, forward = earliest right row "
    "at-or-after; both inclusive) — union + windowed fill "
    "(operators/temporal.asof_join) vs DuckDB native ASOF JOIN; the "
    "forward oracle runs DuckDB's (backward-only) ASOF over negated "
    "microsecond epochs",
)
def asof_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    left = e.select("event_id", "ts", "user_id", "event_type")

    def side(direction: str, tag: str, delta) -> DataFrame:
        joined = asof_join(
            left,
            purchases,
            on=["user_id"],
            left_ts="ts",
            right_ts="ts",
            right_cols=["purchase_value"],
            direction=direction,
        )
        return joined.select(
            F.lit(tag).alias("direction"),
            "event_id",
            "ts",
            "user_id",
            "event_type",
            F.col("_asof_ts").alias("purchase_ts"),
            "purchase_value",
            delta(joined).cast("long").alias("delta_secs"),
        )

    backward = side(
        "backward",
        "backward",
        lambda j: F.unix_timestamp("ts") - F.unix_timestamp("_asof_ts"),
    )
    forward = side(
        "forward",
        "forward",
        lambda j: F.unix_timestamp("_asof_ts") - F.unix_timestamp("ts"),
    )
    return backward.unionByName(forward)


@register(
    "j5_part_supplier_revenue",
    oracle=f"""
    SELECT p.p_brand, s.s_name,
           count(*) AS n_lines,
           {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE p.p_size >= 25
    GROUP BY p.p_brand, s.s_name
    """,
    survey="§2.3 J1 (fact ⋈ two dims, broadcast) + §2.4 A1; covers "
    "part/supplier tables",
)
def j5_part_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    s = load_table(spark, sf_dir, "supplier")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        F.broadcast(s), li.l_suppkey == s.s_suppkey
    )
    return ops.aggregate(
        j,
        ["p_brand", "s_name"],
        F.count(F.lit(1)).alias("n_lines"),
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
    )


# (The former lineitem_shipmode_stats battery — distinct aggregates,
# min/max, stddev — was folded into misc_q.stats_battery to free a
# registry slot for cdc_scd2; the driver verifies the first 50
# entries.)


# ---------------------------------------------------------------------------
# Range join via bucket rewrite (§2.3 gap list: theta/range joins)
# ---------------------------------------------------------------------------
#: (label, lo, hi) value bands — spans exceed the bucket width so band
#: rows explode into multiple buckets (exercises the general case).
_BANDS = [(f"band_{i}", float(i * 40), float(i * 40 + 40)) for i in range(9)]


@register(
    "range_join_value_bands",
    oracle=f"""
    WITH bands(label, lo, hi) AS (
        VALUES {", ".join(f"('{l}', {lo}, {hi})" for l, lo, hi in _BANDS)}
    )
    SELECT e.event_id, e.value, b.label
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    """,
    survey="§2.3 gap list: range/theta join — rewritten as bucket "
    "equi-join (operators/core.range_bucket_join); oracle runs the "
    "plain interval join",
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bands = literal_rows_df(spark, _BANDS, "label string, lo double, hi double")
    joined = ops.range_bucket_join(
        e.select("event_id", "value"), bands, "value", "lo", "hi", bucket_width=25.0
    )
    return joined.select("event_id", "value", "label")


# ---------------------------------------------------------------------------
# posexplode (1→N with ordinal) + BM25 retrieval battery
# ---------------------------------------------------------------------------
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    t = d.select("doc_id", tokens("text").alias("toks"))
    return t.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")


_POSEXPLODE_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS toks
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           unnest(range(1, len(toks) + 1)) AS pos,
           unnest(toks) AS tok
    FROM t
    """

# BM25 query set: fixed term lists (pre-normalized the way
# functions/text.tokens normalizes).
_BM25_QUERIES = [
    (0, ["hash", "join", "batch"]),
    (1, ["small", "vector", "data"]),
    (2, ["customer", "order", "line", "slow"]),
]
_BM25_K = 10

_BM25_Q_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in sorted(set(terms))
)

_BM25_ORACLE = f"""
    WITH q(qid, term) AS (VALUES {_BM25_Q_VALUES}),
    toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl
        FROM dl
    ),
    tf AS (
        SELECT term, doc_id, count(*) AS tf FROM toks
        WHERE term IN (SELECT term FROM q)
        GROUP BY 1, 2
    ),
    dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
    comp AS (
        SELECT q.qid, tf.doc_id,
               CAST(round(
                   ln(1 + (s.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5))
                   * (tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * (1 - 0.75
                       + 0.75 * dl.dl / (CAST(s.total_dl AS DOUBLE) / s.n_docs)))
                   * 1000000) AS BIGINT) AS comp_u
        FROM tf
        JOIN q ON q.term = tf.term
        JOIN dft ON dft.term = tf.term
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    ),
    scores AS (
        SELECT qid, doc_id, CAST(sum(comp_u) AS BIGINT) AS score_u
        FROM comp GROUP BY 1, 2
    ),
    ranked AS (
        SELECT qid, doc_id, score_u,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score_u DESC, doc_id) AS rank
        FROM scores
    )
    SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id,
           score_u / 1000000.0 AS score
    FROM ranked WHERE rank <= {_BM25_K}
    """


_TFIDF_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    docfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(tf.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (docfreq.df + 1)) + 1), 6) AS tfidf
        FROM tf JOIN docfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
        ) AS rank FROM scored
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
           CAST(tf AS BIGINT) AS tf, tfidf
    FROM ranked WHERE rank <= 3
    """


@register(
    "tokens_retrieval_battery",
    oracle=f"""
    SELECT 'posexplode' AS variant, t.doc_id, t.pos, t.tok,
           CAST(NULL AS BIGINT) AS qid, CAST(NULL AS DOUBLE) AS score
    FROM ({_POSEXPLODE_ORACLE}) t
    UNION ALL
    SELECT 'bm25', t.doc_id, t.rank, CAST(NULL AS VARCHAR),
           t.qid, t.score
    FROM ({_BM25_ORACLE}) t
    UNION ALL
    SELECT 'tfidf', t.doc_id, t.rank, t.term, t.tf, t.tfidf
    FROM ({_TFIDF_ORACLE}) t
    """,
    survey="§2.8 (generator/table function with ordinal — posexplode) "
    "+ extension: BM25 full-text retrieval (operators/retrieval.py) — "
    "the exploded token stream is semi-joined against the BROADCAST "
    "query-term set BEFORE the tf aggregate (only matching tokens "
    "shuffle), document frequency/idf computed on matched postings "
    "only, per-term score components fixed-point micro-units summed "
    "as BIGINT so ranking is engine-exact, top-k per query via "
    "(score, doc_id) total order + extension: TF-IDF top-3 keyword "
    "profile per document (functions/text.tf_idf_top_terms — explode, "
    "two map-side-combinable aggregates, top-k window; in the tfidf "
    "leg the generic qid column carries the term frequency)",
)
def tokens_retrieval_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.text import (
        tf_idf_top_terms,
        tokens,
    )
    from vbb_data_pipeline_spark.operators.retrieval import bm25_topk

    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    pe = posexplode_tokens(spark, sf_dir).select(
        F.lit("posexplode").alias("variant"),
        "doc_id",
        "pos",
        "tok",
        null_l.alias("qid"),
        null_d.alias("score"),
    )
    # Shared all-term frequency frame (guide §2.4, r10 verdict item 4):
    # the BM25 and TF-IDF legs each tokenized the full corpus and
    # aggregated their own (doc, term) counts. ONE tf frame now feeds
    # both — BM25 derives doc lengths (Σ tf per doc) and matched
    # postings (broadcast semi-join to its query terms) from it;
    # row-for-row equal to the legs' own constructions (bm25_topk
    # docstring has the proof, per-leg oracle re-run green). The
    # explicit isnotnull pre-filter is a semantic no-op (explode never
    # emits NULL terms, doc_id is a key) that keeps every consumer's
    # pre-exchange subtree IDENTICAL — downstream joins would otherwise
    # push inferred isnotnull filters below the exchange in some
    # branches only, which defeats Spark's runtime exchange reuse
    # (observed: the reused exchange executes the tokenize+aggregate
    # once per battery run instead of twice).
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("term")
    ).filter(F.col("doc_id").isNotNull() & F.col("term").isNotNull())
    tf_all = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    bm = bm25_topk(spark, d, _BM25_QUERIES, k=_BM25_K, tf_all=tf_all).select(
        F.lit("bm25").alias("variant"),
        "doc_id",
        F.col("rank").alias("pos"),
        null_s.alias("tok"),
        "qid",
        "score",
    )
    ti = tf_idf_top_terms(
        d, "text", "doc_id", k=3, tf=tf_all
    ).select(
        F.lit("tfidf").alias("variant"),
        "doc_id",
        F.col("rank").cast("long").alias("pos"),
        F.col("term").alias("tok"),
        F.col("tf").alias("qid"),
        F.col("tfidf").alias("score"),
    )
    return pe.unionByName(bm).unionByName(ti)


# ---------------------------------------------------------------------------
# Salted two-phase aggregation (skewed-key mitigation)
# ---------------------------------------------------------------------------
@register(
    "salted_skew_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           (sum(CAST(round(value * 100) AS BIGINT)) / 100.0) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    survey="§2.4 extension: salted two-phase aggregation — the "
    "hot-key mitigation for low-cardinality groupBy at 100 TB "
    "(partial agg on (key, salt) fans the hot key over 16 reducers, "
    "final agg merges 16 rows/key); result identical to plain groupBy",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn("_salt", (F.col("event_id") % 16).cast("int"))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("_s"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n"),
        (F.sum("_s") / 100.0).alias("sum_value"),
    )
