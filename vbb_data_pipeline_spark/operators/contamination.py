"""Benchmark decontamination: n-gram overlap against an eval set.

The training-corpus counterpart to dedup: before training, documents
that textually overlap a held-out benchmark must be found and dropped,
or the eval is compromised. The standard public recipe (GPT-3 appendix
C / PaLM-style) flags a training document when it shares any (or
enough) word n-grams with any benchmark item.

Scale shape: the benchmark side is tiny (thousands of items) and the
training side is the 100 TB corpus — so the benchmark's n-gram set
broadcasts, the corpus explodes its n-grams map-side, and the flag is
a broadcast semi/inner join + one re-aggregation keyed by document id.
The corpus never shuffles its text; only (doc_id, gram_hash) pairs of
matching grams move, and only for contaminated docs. Grams compare by
the engine's mode-switched hash (md5-derived under oracle mode so the
whole operator is DuckDB-differential-testable; xxhash64 in
production — ``functions/hashing.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import default_hash_mode, hash_long
from ..functions.text import ngrams, tokens


def _gram_hashes(
    df: DataFrame, text_col: str, n: int, mode: str, out: str
) -> DataFrame:
    """Distinct ``(…, gram_hash)`` pairs for every word n-gram."""
    return df.select(
        "*",
        F.explode(F.array_distinct(ngrams(tokens(text_col), n))).alias("_gram"),
    ).withColumn(out, hash_long(F.col("_gram"), mode)).drop("_gram")


def contamination_report(
    docs: DataFrame,
    eval_df: DataFrame,
    min_matches: int = 1,
    hash_mode: str | None = None,
) -> DataFrame:
    """Per-document contamination evidence over the ``text`` columns of
    ``docs`` and ``eval_df``.

    Returns ``(doc_id, n_contaminated_grams)`` for every training
    document sharing at least ``min_matches`` distinct word trigrams
    with the eval set. ``min_matches`` > 1 guards against generic
    trigrams flagging everything.

    Plan: eval grams dedup to one tiny frame → broadcast inner join
    against the corpus gram stream → count distinct matching grams per
    doc. One real shuffle (the per-doc count), carrying only matching
    ``(doc_id, gram_hash)`` pairs.
    """
    mode = hash_mode or default_hash_mode()
    eval_grams = (
        _gram_hashes(eval_df.select("text"), "text", 3, mode, "gram_hash")
        .select("gram_hash")
        .distinct()
    )
    doc_grams = _gram_hashes(
        docs.select("doc_id", "text"), "text", 3, mode, "gram_hash"
    ).select("doc_id", "gram_hash")
    matches = doc_grams.join(F.broadcast(eval_grams), "gram_hash")
    return (
        matches.groupBy("doc_id")
        .agg(F.count_distinct("gram_hash").alias("n_contaminated_grams"))
        .filter(F.col("n_contaminated_grams") >= F.lit(min_matches))
    )


def decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    min_matches: int = 1,
    hash_mode: str | None = None,
) -> DataFrame:
    """Drop contaminated documents: ``docs`` minus every row flagged by
    :func:`contamination_report` over word trigrams of the ``text``
    columns (left-anti
    on ``doc_id``), wide
    columns untouched — only ids move through the anti-join."""
    flagged = contamination_report(
        docs,
        eval_df,
        min_matches=min_matches,
        hash_mode=hash_mode,
    ).select("doc_id")
    return docs.join(flagged, "doc_id", "left_anti")
