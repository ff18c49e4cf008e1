"""Distributed BPE tokenizer-training preparation.

Byte-pair encoding (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units"; byte-level variant
popularized by GPT-2) trains a subword vocabulary by repeatedly
merging the most frequent adjacent symbol pair. The reference
pipeline has no tokenizer plane; this is part of the
training-data-pipeline extension (BASELINE.json north star).

Scale design (100 TB posture):

* The corpus text is touched EXACTLY ONCE — the word-frequency
  aggregate (`word_counts`), a map-side-combinable hash groupBy whose
  exchange carries (word, count) pairs, never documents.
* Every merge round runs over the DISTINCT-WORD table. By Heaps' law
  the vocabulary grows ~O(corpus^0.5), so at 100 TB the per-round
  working set is millions of short rows, not terabytes; pair counts
  partial-aggregate map-side, and the argmax that reaches the driver
  is ONE row per round.
* Only words that actually contain the winning pair are rewritten
  each round (an `exists` filter guards the Arrow stage), and the
  vocab lineage is truncated per round with localCheckpoint —
  the same bounded-lineage pattern as operators/graph.py's PageRank.
* The symbol-merge rewrite is an Arrow-batched pandas_udf: justified
  Python because it is sequential left-to-right string folding over
  VOCAB-scale rows (never corpus-scale), inexpressible as a native
  array expression without a quadratic construction.

Determinism: the winning pair each round is (max count, then
lexicographically smallest pair) — engine- and partitioning-
independent, so any two runs (and the pytest python replay) produce
identical merge tables.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from vbb_data_pipeline_spark.functions.text import tokens

__all__ = [
    "word_counts",
    "symbol_pairs",
    "pair_counts",
    "bpe_train",
    "bpe_encode_words",
    "bpe_vocab",
    "bpe_encode_corpus",
]

# End-of-word marker (Sennrich et al. §3.2): distinguishes "est" in
# "est</w>" (word-final) from "est" mid-word, and makes decoding
# unambiguous. Appended as a distinct trailing symbol.
EOW = "</w>"


def word_counts(df: DataFrame) -> DataFrame:
    """Corpus ``text`` → (word, n) frequency table; the ONLY
    corpus-wide pass.

    One explode + one hash aggregate: partial counts combine map-side,
    so the exchange is bounded by distinct words per partition.
    """
    return (
        df.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def symbol_pairs(vocab: DataFrame) -> DataFrame:
    """(word-as-symbol-array, n) → exploded (a, b, n) pair rows."""
    pairs = F.expr(
        "transform(sequence(0, size(syms) - 2), "
        "i -> struct(syms[i] AS a, syms[i + 1] AS b))"
    )
    return (
        vocab.filter(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "n")
        .select("p.a", "p.b", "n")
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies weighted by word count.

    Map-side-combinable hash aggregate over vocab-scale rows; at any
    corpus size the exchange carries (pair, partial count) rows.
    """
    return symbol_pairs(vocab).groupBy("a", "b").agg(
        F.sum("n").alias("pair_n")
    )


def initial_vocab(words: DataFrame) -> DataFrame:
    """(word, n) → (word, syms, n) with chars + end-of-word mark."""
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW)))
    return words.select("word", syms.alias("syms"), "n")


def _merge_round_udf(a: str, b: str):
    """pandas_udf merging adjacent (a, b) → a+b, left-to-right
    non-overlapping — the classic BPE merge step, vocab-scale only."""
    merged = a + b

    @F.pandas_udf("array<string>")
    def merge(col: pd.Series) -> pd.Series:
        def one(syms):
            out = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        return col.map(one)

    return merge


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    min_pair_count: int = 2,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges over the ``text`` column; returns
    (merge table, final vocab).

    Each round: vocab-scale pair aggregate → single-row deterministic
    argmax to the driver (count desc, then (a, b) asc) → Arrow rewrite
    of only the words containing the pair → localCheckpoint to keep
    the plan flat. Stops early when no pair reaches
    ``min_pair_count``.
    """
    vocab = initial_vocab(word_counts(df))
    vocab = vocab.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            pair_counts(vocab)
            .filter(F.col("pair_n") >= min_pair_count)
            .orderBy(F.col("pair_n").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # size guard first: a fully-merged word has ONE symbol, and
        # sequence(0, -1) would walk backwards into syms[-1] (ANSI
        # array-index error — caught by the sf0.1 trainer run, where
        # 30 merges collapse frequent short words to single symbols)
        has_pair = F.expr(
            f"size(syms) >= 2 AND exists(sequence(0, size(syms) - 2), "
            f"i -> syms[i] = {_sql_str(a)} AND syms[i + 1] = {_sql_str(b)})"
        )
        merge = _merge_round_udf(a, b)
        vocab = vocab.withColumn(
            "syms", F.when(has_pair, merge(F.col("syms"))).otherwise(F.col("syms"))
        )
        vocab = vocab.localCheckpoint(eager=True)
    return merges, vocab


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_encode_words(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply a learned merge table to a (word, ...) table → subword
    arrays.

    One Arrow stage, no shuffle: encoding is embarrassingly parallel.
    Downstream, corpus encoding is a broadcast-join of documents'
    exploded words against this (vocab-scale) table — the merge loop
    itself never sees corpus rows.
    """
    merge_list = list(merges)

    @F.pandas_udf("array<string>")
    def encode(col: pd.Series) -> pd.Series:
        def one(word):
            syms = list(word) + [EOW]
            for a, b in merge_list:
                out = []
                i, n = 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        return col.map(one)

    return words.withColumn("subwords", encode(F.col("word")))


def bpe_vocab(encoded_words: DataFrame) -> DataFrame:
    """Deterministic ``(subword, token_id)`` table from encoded words.

    Ids are dense ranks over the lexicographically sorted distinct
    subwords — engine- and partitioning-independent, so two clusters
    (or a sequential replay) assign identical ids. Vocab-scale rows
    only; the single-partition window is a few-thousand-row ranking,
    not corpus data.
    """
    from pyspark.sql.window import Window

    return (
        encoded_words.select(F.explode("subwords").alias("subword"))
        .distinct()
        .withColumn(
            "token_id",
            F.row_number().over(Window.orderBy("subword")).cast("long") - 1,
        )
    )


def bpe_encode_corpus(
    docs: DataFrame,
    merges: list[tuple[str, str]],
) -> tuple[DataFrame, DataFrame]:
    """Tokenize a corpus into integer token ids with a trained merge
    table: returns ``(encoded, vocab)`` where ``encoded`` is
    ``(doc_id, token_ids array<bigint>, n_tokens)`` over the ``text``
    column and ``vocab`` is the ``(subword, token_id)`` table used.

    This is the corpus half the trainer deliberately never does
    (``bpe_train`` touches only the distinct-word table); together
    they complete the tokenizer plane: train → encode → feed
    ``operators/sampling.pack_sequences`` with real token counts.

    Scale design (100 TB posture):

    * The merge loop runs ONCE per distinct word
      (:func:`bpe_encode_words` on the vocab-scale word table), never
      per occurrence — by Heaps' law the Arrow stage sees ~√corpus
      rows. Documents then broadcast-join the tiny word→ids table.
    * Document order is preserved without re-milling text: the corpus
      explodes to ``(doc, word_pos, word)`` ints + word, joins the
      broadcast lookup, and re-assembles with one groupBy(doc) whose
      rows are ``(pos, ids)`` pairs — ``array_sort`` on the collected
      structs restores order deterministically regardless of
      partitioning (no window over the corpus, no global sort).
    * ``vocab`` ids are dense lexicographic ranks (vocab-scale
      window) over this corpus's subwords, so the id space is stable
      across engines and runs.
    * The word→ids join is broadcast: distinct words comfortably
      broadcast at any tested scale.
    """
    id_col = "doc_id"
    toks = docs.select(
        F.col(id_col), F.posexplode(tokens("text")).alias("pos", "word")
    )
    distinct_words = toks.select("word").distinct()
    encoded_words = bpe_encode_words(distinct_words, merges)
    vocab = bpe_vocab(encoded_words)
    # word -> ordered id list, via the (vocab-scale) subword table
    word_ids = (
        encoded_words.select(
            "word", F.posexplode("subwords").alias("sp", "subword")
        )
        .join(F.broadcast(vocab), "subword", "left")
        .groupBy("word")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sp"), F.col("token_id")))
                ),
                lambda s: s["token_id"],
            ).alias("ids")
        )
    )
    encoded = (
        toks.join(F.broadcast(word_ids), "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("ids")))
                    ),
                    lambda s: s["ids"],
                )
            ).alias("token_ids")
        )
        .withColumn("n_tokens", F.size("token_ids").cast("long"))
    )
    # empty documents keep a row (zero tokens), like token_count
    encoded = (
        docs.select(id_col)
        .join(encoded, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("token_ids"), F.array().cast("array<bigint>")
            ).alias("token_ids"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
        )
    )
    return encoded, vocab
