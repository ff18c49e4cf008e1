"""DSIR — Data Selection via Importance Resampling (north-star
extension; Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", NeurIPS 2023).

Given a small TARGET corpus (the distribution you want — e.g. curated
encyclopedic text) and a huge RAW corpus (e.g. a web crawl), DSIR
scores every raw document by how target-like it is and resamples the
raw corpus toward the target distribution:

1. **features** — each document becomes a bag of hashed n-grams
   (unigrams + bigrams hashed into ``n_buckets`` buckets; the paper
   uses 10k buckets);
2. **importance weight** — fit bag-of-words bucket models p (target)
   and q (raw); ``log w(doc) = Σ_b c_b · (ln p_b − ln q_b)`` where
   ``c_b`` is the doc's count in bucket ``b``;
3. **resample** — Gumbel-top-k over ``log w`` draws n documents
   without replacement from the importance distribution.

The reference pipeline has no selection plane; this is part of the
LLM-training-data extension (BASELINE.json north star).

Scale design (100 TB posture):

* Each corpus is scanned ONCE for features; the per-doc bucket-count
  aggregate combines map-side and its exchange carries
  ``(doc_id, bucket, c)`` rows — text never shuffles.
* Both bucket models are ≤ ``n_buckets`` rows by construction, so the
  log-ratio table broadcasts; per-doc weights are one broadcast join
  + one map-side-combinable sum. No corpus-wide exchange carries
  anything wider than (doc_id, partial sum).
* Selection is a global top-n over one scalar per doc (a
  TakeOrdered, not a sort of the corpus).

Cross-engine determinism (the repo's fixed-point convention): bucket
log-ratios round to integer MICRO-units and per-doc sums run as
BIGINT (order-independent); the Gumbel keys derive from md5 hashes
and round before ranking, ids break ties. The DuckDB oracle replays
every stage bit-for-bit (quality_reports' dsir legs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vbb_data_pipeline_spark.functions.hashing import (
    default_hash_mode,
    hash_long,
)
from vbb_data_pipeline_spark.functions.text import tokens

__all__ = [
    "hashed_ngram_features",
    "dsir_logweights",
    "gumbel_topk",
]

#: fixed-point scale for per-bucket log-ratios (micro-units)
LOGW_SCALE = 1_000_000


def hashed_ngram_features(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """Per-document hashed n-gram bag: ``(id_col, bucket, c)``.

    Unigrams and bigrams (joined with ``_``) share one bucket space,
    as in the paper's ``hashed n-gram`` featurization. One explode +
    one map-side-combinable groupBy per corpus scan. The hash is the
    repo-wide switch (oracle md5 for driver parity;
    ``SPARK_GRAFT_FAST_HASH=1`` flips to JVM xxhash64 — any hash
    family yields valid DSIR features, only the oracle replay needs
    md5).
    """
    hash_mode = default_hash_mode()
    toks = docs.select(F.col(id_col), tokens(text_col).alias("_t"))
    grams = toks.select(
        id_col,
        F.explode(
            F.concat(
                F.col("_t"),
                F.when(
                    F.size("_t") >= 2,
                    F.expr(
                        "transform(sequence(0, size(_t) - 2), "
                        "i -> concat(_t[i], '_', _t[i + 1]))"
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("gram"),
    )
    return (
        grams.select(
            id_col,
            (hash_long(F.col("gram"), hash_mode) % n_buckets).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _bucket_counts(features: DataFrame) -> DataFrame:
    return features.groupBy("bucket").agg(F.sum("c").alias("n"))


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 10_000,
) -> DataFrame:
    """Importance log-weights for every raw document:
    ``(id_col, logw_u)`` in integer micro-units.

    ``p_b = (c_target_b + 1) / (N_target + B)`` and likewise ``q``
    over the raw corpus (add-one smoothing over the bucket space, so
    unseen buckets carry the floor rather than −inf). The two totals
    are single-row model metadata (same posture as
    ``operators/lm.unigram_model``); the log-ratio table is ≤ B rows
    and broadcasts. Documents with no tokens get weight 0 (they carry
    no evidence either way — never NULL).
    """
    # the feature frames fan out to several consumers (the totals
    # collect, the delta join, the per-doc weight agg) — materialize
    # them once so each corpus is genuinely scanned ONCE for features;
    # (id, bucket, c) rows are orders of magnitude smaller than text
    feat_raw = hashed_ngram_features(
        raw, text_col, id_col, n_buckets
    ).localCheckpoint(eager=True)
    feat_tgt = hashed_ngram_features(
        target, text_col, id_col, n_buckets
    ).localCheckpoint(eager=True)
    alpha = 1.0
    tgt_b = _bucket_counts(feat_tgt)
    raw_b = _bucket_counts(feat_raw)
    n_t = (tgt_b.agg(F.sum("n")).collect()[0][0]) or 0
    n_r = (raw_b.agg(F.sum("n")).collect()[0][0]) or 0
    denom_t = float(n_t) + alpha * n_buckets
    denom_r = float(n_r) + alpha * n_buckets
    delta = (
        tgt_b.withColumnRenamed("n", "ct")
        .join(raw_b.withColumnRenamed("n", "cr"), "bucket", "full_outer")
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.coalesce(F.col("ct"), F.lit(0)) + alpha) / denom_t)
                    - F.log(
                        (F.coalesce(F.col("cr"), F.lit(0)) + alpha) / denom_r
                    )
                )
                * LOGW_SCALE
            )
            .cast("long")
            .alias("delta_u"),
        )
    )
    per_doc = (
        feat_raw.join(F.broadcast(delta), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("delta_u")).alias("logw_u"))
    )
    return (
        raw.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("logw_u"), F.lit(0)).cast("long").alias("logw_u"),
        )
    )


def gumbel_topk(
    weights: DataFrame,
    n: int,
    seed: str,
    id_col: str,
) -> DataFrame:
    """Gumbel-top-k resampling WITHOUT replacement from the importance
    distribution (``logw_u``): ``(id_col, key, rank)`` for the ``n``
    winners.

    The Gumbel-max trick: adding i.i.d. Gumbel noise ``g = −ln(−ln u)``
    to each log-weight and taking the top n draws exactly from the
    softmax of the log-weights — the distributed-friendly form of
    weighted sampling (same family as operators/sampling's A-ES, which
    uses the equivalent ``u^(1/w)`` keys for linear weights).

    ``u`` derives deterministically from ``hash(seed|id)`` mapped into
    (0, 1), so reruns and engines agree; keys round before ranking and
    ids break ties (keys round to 6 digits). The top-n is a TakeOrdered
    (limit), never a global sort materialization.
    """
    h = hash_long(
        F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string")),
        default_hash_mode(),
    )
    # map to (0, 1) strictly: fold into [0, 2^60) first — a no-op for
    # the 60-bit md5 oracle path (so the SQL replay is unchanged), a
    # range reduction for 63-bit fast-mode xxhash64 (u > 1 would make
    # -ln(-ln u) NaN)
    u = (h % (1 << 60) + 1).cast("double") / float((1 << 60) + 1)
    g = -F.log(-F.log(u))
    key = F.round(F.col("logw_u").cast("double") / LOGW_SCALE + g, 6)
    ranked = (
        weights.select(F.col(id_col), key.alias("key"))
        .orderBy(F.col("key").desc(), F.col(id_col).asc())
        .limit(n)
    )
    # the window runs over the n winners only (post-limit), not the
    # corpus — a single tiny partition, not a global corpus sort
    w = F.row_number().over(
        Window.orderBy(F.col("key").desc(), F.col(id_col).asc())
    )
    return ranked.withColumn("rank", w.cast("int"))
