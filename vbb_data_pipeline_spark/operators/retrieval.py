"""BM25 full-text retrieval over the documents corpus.

Okapi BM25 (Robertson & Spärck Jones probabilistic relevance
framework; the idf variant below is the widely-used
``ln(1 + (N - df + 0.5)/(df + 0.5))`` form, which keeps idf
positive). The reference pipeline has no retrieval plane; this is
part of the training-data-pipeline extension — corpus search powers
decontamination audits, targeted curation, and RAG-style lookups.

Scale design (100 TB posture):

* **Query path filters before it aggregates**: the exploded token
  stream is semi-joined against the BROADCAST query-term set before
  the tf aggregate, so only matching (doc, term) tokens ever reach an
  exchange — the corpus-wide shuffles are the per-doc length
  aggregate (map-side combinable, one row per doc per map partition)
  and the matched-postings tf aggregate.
* **Document frequency and idf are computed on the matched postings
  only** (query-term cardinality, broadcast back), never as a global
  term dictionary.
* **Scoring is exact across engines**: every per-term score component
  is rounded to integer micro-units and summed as BIGINT (the repo's
  fixed-point convention), so ranking ties are impossible to break
  differently in two engines; ranks order by (score_micro DESC,
  doc_id) — a total order.
* `build_postings` materializes the classic inverted index
  ((term, doc_id, tf) + doc lengths) for an index-at-rest deployment;
  the query path does not require it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from vbb_data_pipeline_spark.functions.literals import literal_rows_df
from vbb_data_pipeline_spark.functions.text import tokens

__all__ = [
    "build_postings",
    "bm25_topk",
    "bm25_write_index",
    "bm25_topk_from_index",
]

K1 = 1.2
B = 0.75
SCORE_SCALE = 1_000_000


def _token_stream(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One ``(doc_id, term)`` row per token. Rows with a NULL id are
    dropped: a NULL id is no document, and dropping it here keeps the
    internal path's n_docs/avgdl equal to the ``tf_all`` path's (the
    battery's shared tf frame filters ``doc_id IS NOT NULL``)."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("doc_id").isNotNull())


def build_postings(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Inverted index of ``df``'s ``(doc_id, text)``: ((term, doc_id,
    tf), (doc_id, dl)).

    Two hash aggregates over the exploded token stream; both partial-
    aggregate map-side. Write the postings partitioned by a term-hash
    bucket for an at-rest index that query terms can prune.
    """
    toks = _token_stream(df, "doc_id", "text")
    postings = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return postings, doclen


def bm25_topk(
    spark: SparkSession,
    df: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    tf_all: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 matches per query over ``df``'s ``(doc_id, text)`` →
    (qid, rank, doc_id, score).

    ``queries``: (qid, [term, ...]) with terms already normalized the
    way :func:`vbb_data_pipeline_spark.functions.text.tokens` would
    (lowercase alnum runs); duplicate terms are ignored (standard
    short-query BM25 drops query tf).

    Corpus statistics (``n_docs``, ``avgdl``) cover token-BEARING
    documents: doc lengths derive from the token stream, so a
    zero-token document contributes to neither (it can never match a
    query anyway).

    ``tf_all``: optional precomputed all-term frequency frame
    ``(doc_id, term, tf)`` — the output shape of
    ``toks.groupBy(doc_id, term).count()``. When a caller computes
    this frame anyway (tokens_retrieval_battery shares it with
    TF-IDF), deriving doc lengths (``dl = Σ tf``) and matched postings
    (semi-join to query terms — same rows, same tf) from it lets the
    corpus be tokenized ONCE for the whole battery, and Spark's
    exchange reuse executes the shared (doc, term) aggregate a single
    time (guide §2.4). Standalone callers leave it None and keep the
    original query-term-filtered shape, where only MATCHING tokens
    ever reach an exchange — derived and source forms are
    row-identical (proof: tf over matched tokens == all-term tf
    filtered to matching terms; Σ_terms tf per doc == token count).
    """
    qrows = sorted(
        {(int(qid), t) for qid, terms in queries for t in terms}
    )
    qterms = literal_rows_df(spark, qrows, "qid long, term string")
    qterm_set = qterms.select("term").distinct()

    if tf_all is not None:
        doclen = tf_all.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        tf = tf_all.join(F.broadcast(qterm_set), "term", "left_semi")
    else:
        toks = _token_stream(df, "doc_id", "text")
        # corpus-wide per-doc length: map-side combinable
        doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
        # filter the token stream to query terms BEFORE aggregating
        matched = toks.join(F.broadcast(qterm_set), "term", "left_semi")
        tf = matched.groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf")
        )
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))

    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    tf_norm = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl)
    )
    comp = (
        tf.join(F.broadcast(qterms), "term")
        .join(doclen, "doc_id")
        .join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc_id",
            F.round(idf * tf_norm * SCORE_SCALE).cast("long").alias("comp_u"),
        )
    )
    scores = comp.groupBy("qid", "doc_id").agg(
        F.sum("comp_u").alias("score_u")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_u").desc(), F.col("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            (F.col("score_u") / float(SCORE_SCALE)).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# At-rest inverted index (bucket-partitioned postings, pruned probes)
# ---------------------------------------------------------------------------
# The same construction as the persisted IVF index (similarity.py):
# postings land partitioned by a term-hash bucket, so a query reads
# ONLY the buckets its terms hash to — partition pruning at the file
# level, then a row-level term filter inside those buckets. Document
# lengths and the (n_docs, total_dl, n_buckets) stats row are stored
# beside the postings; nothing at query time ever rescans the corpus.


def _term_bucket(term, n_buckets: int):
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def bm25_write_index(
    df: DataFrame,
    path: str,
    n_buckets: int = 64,
) -> None:
    """Materialize the inverted index of ``df``'s ``(doc_id, text)`` at
    ``path``.

    ``postings/`` is partitioned by ``bucket = xxhash64(term) mod
    n_buckets`` — repartitioned on the bucket before the write so each
    partition directory is one file, not one file per task (the
    cell-aligned layout lesson from the IVF index). ``doclen/`` and
    the single-row ``stats/`` table complete the scoring inputs.
    """
    spark = df.sparkSession
    postings, doclen = build_postings(df)
    (
        postings.withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{path}/postings")
    )
    doclen.write.mode("overwrite").parquet(f"{path}/doclen")
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        F.lit(n_buckets).alias("n_buckets"),
    )
    stats.write.mode("overwrite").parquet(f"{path}/stats")


def bm25_topk_from_index(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 from the at-rest index — identical results to
    :func:`bm25_topk` on the indexed corpus.

    Query cost is proportional to the probed buckets' postings, never
    the corpus: the bucket predicate prunes partitions at file level
    (assert ``bucket IN …`` lands in the scan's PartitionFilters), the
    term predicate filters rows inside them, and doc lengths join only
    for matched documents.
    """
    srow = spark.read.parquet(f"{path}/stats").collect()[0]
    n_buckets = int(srow["n_buckets"])
    qrows = sorted(
        {(int(qid), t) for qid, terms in queries for t in terms}
    )
    qterms = literal_rows_df(spark, qrows, "qid long, term string")
    terms = sorted({t for _, t in qrows})
    # bucket ids for the query terms, computed with the SAME engine
    # hash expression the writer used (query-set-sized collect)
    buckets = sorted(
        {
            r["bucket"]
            for r in literal_rows_df(
                spark, [(t,) for t in terms], "term string"
            )
            .select(_term_bucket(F.col("term"), n_buckets).alias("bucket"))
            .collect()
        }
    )
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
    )
    doclen = spark.read.parquet(f"{path}/doclen")
    stats = spark.read.parquet(f"{path}/stats").select("n_docs", "total_dl")
    dft = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))

    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    tf_norm = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl)
    )
    comp = (
        postings.join(F.broadcast(qterms), "term")
        .join(doclen, "doc_id")
        .join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc_id",
            F.round(idf * tf_norm * SCORE_SCALE).cast("long").alias("comp_u"),
        )
    )
    scores = comp.groupBy("qid", "doc_id").agg(
        F.sum("comp_u").alias("score_u")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_u").desc(), F.col("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            (F.col("score_u") / float(SCORE_SCALE)).alias("score"),
        )
    )
