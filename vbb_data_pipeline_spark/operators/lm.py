"""Corpus-trained language-model quality scoring (north-star
extension).

The CCNet recipe (Wenzek et al. 2020) filters web text by
language-model perplexity: documents whose token distribution is far
from the reference corpus are likely garbage (or gold, at the high
end — CCNet keeps the head/middle buckets). A full KenLM is out of
scope for a pure-Spark engine (native lib), but the unigram member of
the family distributes perfectly and catches most of what the
perplexity signal sees at corpus scale:

1. **train**: token → count over the reference corpus (one explode +
   one map-side-combinable groupBy), keep the top ``vocab_size``
   tokens (deterministic: count desc, token asc), convert to
   add-one-smoothed log-probabilities;
2. **score**: broadcast the tiny model; each document's score is the
   mean token log-prob with OOV tokens charged the smoothing floor —
   an explode + broadcast-join + groupBy(doc) pipeline whose only
   corpus-wide exchange carries ``(doc_id, logprob)`` pairs.

Everything is fixed-point-free but deterministic: counts are exact
integers, log-probs are computed in one fixed expression shape, and
scores round before comparison so a DuckDB oracle can replay the
whole construction (tests/test_lm.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions.text import token_count, tokens


def unigram_model(
    corpus: DataFrame,
    text_col: str,
    vocab_size: int = 50_000,
) -> tuple[DataFrame, float]:
    """Train the unigram table: ``(token, logprob)`` for the
    ``vocab_size`` most frequent tokens.

    Add-one smoothing over the full observed vocabulary:
    ``logprob(t) = ln((count(t) + 1) / (N + V + 1))`` where ``N`` =
    total token occurrences and ``V`` = distinct observed tokens; the
    ``+1`` in the denominator reserves mass for OOV, whose per-token
    floor is ``ln(1 / (N + V + 1))``. One explode + one groupBy; the
    top-``vocab_size`` cut is deterministic (count desc, token asc).
    At 100 TB the groupBy is the only corpus-wide exchange and
    combines map-side; the model itself is broadcast-sized by
    construction. Returns ``(model_df, oov_logprob)`` — the single-row
    totals collect is model metadata, not data movement.
    """
    tok = corpus.select(F.explode(tokens(text_col)).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.sum("n").alias("N"), F.count(F.lit(1)).alias("V")
    ).collect()[0]
    denom = float(totals.N + totals.V + 1)
    top = (
        counts.orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(vocab_size)
    )
    model = top.select(
        "token",
        F.log((F.col("n") + 1) / F.lit(denom)).alias("logprob"),
    )
    return model, -math.log(denom)


def score_documents(
    docs: DataFrame,
    model: DataFrame,
    oov_logprob: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Mean token log-prob per document (higher = more corpus-like),
    rounded to 4 digits.

    The token explode broadcast-joins the model (left join; misses
    take the OOV floor), then one groupBy(doc) averages — the
    exchange carries ``(doc_id, sum, count)`` partial aggregates.
    Empty documents score the OOV floor (defined, never NULL).

    Per-token log-probs are rounded to integer micro-units and summed
    as BIGINT (the repo's fixed-point convention), so the mean is
    order-independent and bit-identical across engines/partitionings
    — summing raw doubles would make the 4-dp result depend on
    reduction order.
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    scored = tok.join(F.broadcast(model), "token", "left").select(
        id_col,
        F.round(
            F.coalesce(F.col("logprob"), F.lit(oov_logprob)) * 1_000_000
        )
        .cast("long")
        .alias("lp_u"),
    )
    per_doc = scored.groupBy(id_col).agg(
        (
            F.sum("lp_u").cast("double")
            / F.count(F.lit(1))
            / 1_000_000.0
        ).alias("_mean")
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.round(F.coalesce(F.col("_mean"), F.lit(oov_logprob)), 4)
            .alias("lm_score"),
        )
    )


def lm_quality_scores(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    vocab_size: int = 50_000,
) -> DataFrame:
    """Self-trained variant: train the unigram model on ``docs`` and
    score the same corpus (the usual bootstrap when no external
    reference corpus exists). Returns ``(id_col, lm_score, n_tokens)``
    — feed a percentile cut downstream (CCNet keeps the middle)."""
    model, oov = unigram_model(docs, text_col, vocab_size)
    scores = score_documents(docs, model, oov, text_col, id_col)
    return scores.join(
        docs.select(F.col(id_col), token_count(text_col).alias("n_tokens")),
        id_col,
    )
