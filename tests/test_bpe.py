"""BPE tokenizer-training prep (operators/bpe.py): the distributed
trainer must produce EXACTLY the merge table a sequential reference
implementation produces from the same corpus (Sennrich et al. 2016
semantics: most-frequent adjacent pair, left-to-right non-overlapping
merge, end-of-word marker), and encoding must replay the merges."""

from __future__ import annotations

import collections
import re

import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.operators.bpe import (
    EOW,
    bpe_encode_words,
    bpe_train,
    initial_vocab,
    pair_counts,
    word_counts,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Sequential reference replay (the oracle)
# ---------------------------------------------------------------------------
def _py_tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _py_bpe_train(texts, n_merges, min_pair_count=2):
    wc = collections.Counter()
    for t in texts:
        wc.update(_py_tokens(t))
    vocab = {w: tuple(list(w) + [EOW]) for w in wc}
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for w, syms in vocab.items():
            n = wc[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        # max count, then lexicographically smallest (a, b)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        a, b = best[0]
        merges.append((a, b))
        new_vocab = {}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return merges, vocab


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )


def test_train_matches_sequential_reference(spark, docs):
    texts = [r["text"] for r in docs.select("text").collect()]
    want_merges, want_vocab = _py_bpe_train(texts, n_merges=12)

    got_merges, got_vocab = bpe_train(docs, n_merges=12)
    assert got_merges == want_merges

    got = {
        r["word"]: tuple(r["syms"])
        for r in got_vocab.select("word", "syms").collect()
    }
    assert got == want_vocab


def test_word_counts_match_python(spark, docs):
    texts = [r["text"] for r in docs.select("text").collect()]
    wc = collections.Counter()
    for t in texts:
        wc.update(_py_tokens(t))
    got = {
        r["word"]: r["n"] for r in word_counts(docs).collect()
    }
    assert got == dict(wc)


def test_encode_replays_merges(spark, docs):
    """Encoding a word with the learned merge table equals the final
    vocab's symbol sequence for that word."""
    merges, vocab = bpe_train(docs, n_merges=8)
    words = vocab.select("word")
    enc = bpe_encode_words(words, merges)
    got = {
        r["word"]: tuple(r["subwords"])
        for r in enc.collect()
    }
    want = {
        r["word"]: tuple(r["syms"])
        for r in vocab.select("word", "syms").collect()
    }
    assert got == want


def test_merge_determinism_across_partitionings(spark, docs):
    """The merge table must not depend on physical partitioning."""
    m1, _ = bpe_train(docs.repartition(1), n_merges=6)
    m2, _ = bpe_train(docs.repartition(7, "doc_id"), n_merges=6)
    assert m1 == m2


def test_corpus_scanned_once(spark, docs):
    """The merge loop must run on the vocab table only: after the
    initial word-count materialization, per-round plans read the
    localCheckpoint, never the corpus. Guard: the pair-count plan over
    the trained vocab contains no parquet/LocalTableScan of documents
    columns (text) — it scans checkpointed (word, syms, n) rows."""
    _, vocab = bpe_train(docs, n_merges=3)
    plan = pair_counts(vocab)._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan
    assert "Scan parquet" not in plan


def test_fully_merged_word_does_not_crash(spark):
    """Enough merges collapse a frequent word to ONE symbol; the
    has-pair probe must guard the size before indexing (sequence(0,-1)
    walks backwards into syms[-1] under ANSI — regression caught by
    the sf0.1 trainer run)."""
    df = spark.createDataFrame([("ab ab ab ab",)], "text string")
    merges, vocab = bpe_train(df, n_merges=10, min_pair_count=1)
    rows = {r["word"]: tuple(r["syms"]) for r in vocab.collect()}
    assert rows["ab"] == ("ab" + EOW,)  # fully collapsed, single symbol
    # python replay agrees end-to-end
    want_merges, want_vocab = _py_bpe_train(
        ["ab ab ab ab"], n_merges=10, min_pair_count=1
    )
    assert merges == want_merges
    assert rows == want_vocab


def test_pair_counts_weighting(spark):
    df = spark.createDataFrame(
        [("ab ab xy",)], "text string"
    )
    vocab = initial_vocab(word_counts(df))
    pc = {
        (r["a"], r["b"]): r["pair_n"]
        for r in pair_counts(vocab).collect()
    }
    # "ab" occurs twice -> ('a','b') weighted 2; 'b</w>' likewise
    assert pc[("a", "b")] == 2
    assert pc[("b", EOW)] == 2
    assert pc[("x", "y")] == 1
    assert pc[("y", EOW)] == 1


# ---------------------------------------------------------------------------
# Corpus encoding → token ids (bpe_encode_corpus) — the tokenizer
# plane's second half: train on the word table, encode every document
# in order, feed sequence packing with real token counts.
# ---------------------------------------------------------------------------
def _py_encode_word(word, merges):
    syms = list(word) + [EOW]
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _py_encode_corpus(texts_by_id, merges):
    """Sequential replay: subword -> dense lexicographic id, then the
    per-doc ordered id stream."""
    all_sub = set()
    enc_word = {}
    for t in texts_by_id.values():
        for w in _py_tokens(t):
            if w not in enc_word:
                enc_word[w] = _py_encode_word(w, merges)
                all_sub.update(enc_word[w])
    ids = {s: i for i, s in enumerate(sorted(all_sub))}
    return {
        did: [ids[s] for w in _py_tokens(t) for s in enc_word[w]]
        for did, t in texts_by_id.items()
    }, ids


def test_encode_corpus_matches_sequential_replay(spark, docs):
    from vbb_data_pipeline_spark.operators.bpe import bpe_encode_corpus

    merges, _ = bpe_train(docs, n_merges=10)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    want, want_ids = _py_encode_corpus(texts, merges)

    encoded, vocab = bpe_encode_corpus(docs, merges)
    got = {
        r["doc_id"]: list(r["token_ids"]) for r in encoded.collect()
    }
    assert got == want
    got_ids = {
        r["subword"]: r["token_id"] for r in vocab.collect()
    }
    assert got_ids == want_ids


def test_encode_corpus_partitioning_invariant(spark, docs):
    from vbb_data_pipeline_spark.operators.bpe import bpe_encode_corpus

    merges, _ = bpe_train(docs, n_merges=6)
    a, _ = bpe_encode_corpus(docs.repartition(1), merges)
    b, _ = bpe_encode_corpus(docs.repartition(9, "doc_id"), merges)
    ga = {r["doc_id"]: list(r["token_ids"]) for r in a.collect()}
    gb = {r["doc_id"]: list(r["token_ids"]) for r in b.collect()}
    assert ga == gb


def test_encode_corpus_roundtrip_decodes(spark, docs):
    """Concatenating a doc's subwords and stripping EOW reproduces its
    token stream (the EOW marker makes decoding unambiguous)."""
    from vbb_data_pipeline_spark.operators.bpe import bpe_encode_corpus

    merges, _ = bpe_train(docs, n_merges=10)
    encoded, vocab = bpe_encode_corpus(docs, merges)
    inv = {r["token_id"]: r["subword"] for r in vocab.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in encoded.collect():
        decoded = "".join(inv[i] for i in r["token_ids"]).split(EOW)
        decoded = [w for w in decoded if w]
        assert decoded == _py_tokens(texts[r["doc_id"]])


def test_encode_corpus_empty_doc_row_kept(spark):
    from vbb_data_pipeline_spark.operators.bpe import bpe_encode_corpus

    d = spark.createDataFrame(
        [(1, "aa ab"), (2, ""), (3, None)], "doc_id long, text string"
    )
    merges = [("a", "a")]
    encoded, _ = bpe_encode_corpus(d, merges)
    got = {r["doc_id"]: (list(r["token_ids"]), r["n_tokens"]) for r in encoded.collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] == ([], 0) and got[3] == ([], 0)
    assert got[1][1] == len(got[1][0]) > 0


def test_encode_feeds_pack_sequences(spark, docs):
    """End-to-end tokenizer -> packing: n_tokens from the encoder
    drives pack_sequences; spans partition the shard streams exactly."""
    from vbb_data_pipeline_spark.operators.bpe import bpe_encode_corpus
    from vbb_data_pipeline_spark.operators.sampling import pack_sequences

    merges, _ = bpe_train(docs, n_merges=6)
    encoded, _ = bpe_encode_corpus(docs, merges)
    plan = pack_sequences(
        encoded, "doc_id", "n_tokens", seq_len=128, n_shards=4, seed="t"
    )
    rows = plan.collect()
    assert len(rows) == docs.count()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["pos"])
        off = 0
        for r in rs:
            assert r["start_off"] == off
            off = r["end_off"]
