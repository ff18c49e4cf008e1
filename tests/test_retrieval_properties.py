"""Property tests (hypothesis) for the round-5 text operators: BM25
scoring and the BPE trainer must agree with their sequential python
replays on ANY corpus — including empty documents, punctuation-only
text, unicode, single-character tokens, and query terms absent from
the corpus. Examples kept small, deadlines off (Spark latency ≫
hypothesis defaults) — same convention as test_cdc_properties.py."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.test_bpe import _py_bpe_train
from tests.test_retrieval import QUERIES, _py_bm25
from vbb_data_pipeline_spark.operators.bpe import bpe_train
from vbb_data_pipeline_spark.operators.retrieval import bm25_topk

# Adversarial text alphabet: lowercase tokens, digits, separators the
# tokenizer must split on, uppercase (lowercased by tokens()), unicode
# beyond the [a-z0-9] token class, and empty strings.
TEXTS = st.lists(
    st.text(alphabet="ab1 .!Zé\n\t", max_size=24),
    min_size=1,
    max_size=8,
)

QUERY_TERMS = st.lists(
    st.sampled_from(["a", "ab", "b1", "1", "zz", "é"]),
    min_size=1,
    max_size=3,
    unique=True,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=TEXTS, terms=QUERY_TERMS)
def test_bm25_matches_replay_on_any_corpus(spark, texts, terms):
    docs = _docs(spark, texts)
    queries = [(0, terms)]
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _py_bm25(rows, queries, k=5)
    got = sorted(
        (r["qid"], r["rank"], r["doc_id"], r["score"])
        for r in bm25_topk(spark, docs, queries, k=5).collect()
    )
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=TEXTS)
def test_bpe_train_matches_replay_on_any_corpus(spark, texts):
    docs = _docs(spark, texts)
    want_merges, want_vocab = _py_bpe_train(texts, n_merges=6)
    got_merges, got_vocab = bpe_train(docs, n_merges=6)
    assert got_merges == want_merges
    got = {
        r["word"]: tuple(r["syms"])
        for r in got_vocab.select("word", "syms").collect()
    }
    assert got == want_vocab


def test_bm25_absent_terms_return_empty(spark):
    docs = _docs(spark, ["a b c", "b c d"])
    out = bm25_topk(spark, docs, [(0, ["zzz"])], k=5).collect()
    assert out == []
