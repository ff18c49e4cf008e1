"""BM25 retrieval (operators/retrieval.py): exact differential against
a sequential python replay of the same formula, determinism across
partitionings, and the only-matching-tokens-shuffle plan posture."""

from __future__ import annotations

import collections
import math
import re

import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.operators.retrieval import (
    B,
    K1,
    SCORE_SCALE,
    bm25_topk,
    build_postings,
)
from vbb_data_pipeline_spark.plans import count_exchanges

SF = "/root/testdata/sf0.001"

QUERIES = [
    (0, ["hash", "join", "batch"]),
    (1, ["small", "vector", "data"]),
]


def _py_tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _py_bm25(rows, queries, k):
    toks = {doc_id: _py_tokens(text) for doc_id, text in rows}
    # operator contract: corpus stats cover token-BEARING documents
    # (doclen is derived from the token stream, so zero-token docs
    # contribute neither to n_docs nor avgdl)
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    if not dl:
        return []
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    tf: dict[tuple[str, int], int] = collections.Counter()
    for d, ts in toks.items():
        for t in ts:
            tf[(t, d)] += 1
    out = []
    for qid, terms in queries:
        scores: dict[int, int] = collections.defaultdict(int)
        for term in sorted(set(terms)):
            df_t = sum(1 for (t, _d) in tf if t == term)
            if df_t == 0:
                continue
            idf = math.log(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
            for (t, d), f in tf.items():
                if t != term:
                    continue
                comp = idf * (f * (K1 + 1)) / (
                    f + K1 * (1 - B + B * dl[d] / avgdl)
                )
                # banker's-free HALF_UP like Spark/DuckDB round()
                scores[d] += int(math.floor(comp * SCORE_SCALE + 0.5))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for rank, (d, s_u) in enumerate(ranked, 1):
            out.append((qid, rank, d, s_u / SCORE_SCALE))
    return sorted(out)


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(150)
    )


def test_bm25_matches_python_replay(spark, docs):
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _py_bm25(rows, QUERIES, k=10)
    got = sorted(
        (r["qid"], r["rank"], r["doc_id"], r["score"])
        for r in bm25_topk(spark, docs, QUERIES, k=10).collect()
    )
    assert got == want


def test_bm25_partitioning_invariant(spark, docs):
    a = sorted(map(tuple, bm25_topk(spark, docs.repartition(1), QUERIES, k=5).collect()))
    b = sorted(map(tuple, bm25_topk(spark, docs.repartition(7, "doc_id"), QUERIES, k=5).collect()))
    assert a == b


def test_postings_consistent_with_query_path(spark, docs):
    """The at-rest index's tf for a query term equals the query path's
    matched tf."""
    postings, doclen = build_postings(docs)
    want = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in postings.filter(F.col("term") == "hash").collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    tf = collections.Counter()
    for d, text in rows:
        for t in _py_tokens(text):
            if t == "hash":
                tf[("hash", d)] += 1
    assert want == dict(tf)
    assert doclen.count() == docs.count()


def test_index_path_matches_query_path(spark, docs, tmp_path):
    """bm25_topk_from_index must return EXACTLY bm25_topk's answer."""
    from vbb_data_pipeline_spark.operators.retrieval import (
        bm25_topk_from_index,
        bm25_write_index,
    )

    path = str(tmp_path / "bm25_idx")
    bm25_write_index(docs, path, n_buckets=16)
    want = sorted(map(tuple, bm25_topk(spark, docs, QUERIES, k=10).collect()))
    got = sorted(
        map(tuple, bm25_topk_from_index(spark, path, QUERIES, k=10).collect())
    )
    assert got == want


def test_index_probe_prunes_buckets(spark, docs, tmp_path):
    """The probe's postings scan must carry the bucket predicate as a
    partition filter (file-level pruning) — reading every bucket for a
    3-term query would defeat the at-rest layout."""
    from vbb_data_pipeline_spark.operators.retrieval import (
        bm25_topk_from_index,
        bm25_write_index,
    )
    from vbb_data_pipeline_spark.plans import formatted

    path = str(tmp_path / "bm25_idx")
    bm25_write_index(docs, path, n_buckets=16)
    df = bm25_topk_from_index(spark, path, QUERIES, k=5)
    plan = formatted(df)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("bucket" in l and "IN" in l for l in part_lines), part_lines


def test_index_write_is_bucket_aligned(spark, docs, tmp_path):
    """One file per bucket directory (repartition-before-partitionBy),
    not one file per task."""
    import glob

    from vbb_data_pipeline_spark.operators.retrieval import bm25_write_index

    path = str(tmp_path / "bm25_idx")
    bm25_write_index(docs, path, n_buckets=8)
    for d in glob.glob(f"{path}/postings/bucket=*"):
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d


def test_bm25_plan_posture(spark, docs):
    """Query path: no cartesian/python; bounded exchanges (doc-length
    agg, matched-tf agg, score agg, top-k window + AQE reads)."""
    df = bm25_topk(spark, docs, QUERIES, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert count_exchanges(df) <= 6


def test_bm25_shared_tf_parity(spark, docs):
    """The tf_all-derived form (tokens_retrieval_battery's shared
    frame, r11) returns EXACTLY the source-derived answer: doc lengths
    as sum(tf) and matched postings as a semi-join are row-identical
    to the original token-stream constructions."""
    from vbb_data_pipeline_spark.functions.text import tokens

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("term")
    ).filter(F.col("doc_id").isNotNull() & F.col("term").isNotNull())
    tf_all = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    want = sorted(map(tuple, bm25_topk(spark, docs, QUERIES, k=10).collect()))
    got = sorted(
        map(
            tuple,
            bm25_topk(spark, docs, QUERIES, k=10, tf_all=tf_all).collect(),
        )
    )
    assert got == want


def test_shared_tf_parity_with_null_id(spark, docs):
    """A NULL-id row is no document on either path: BM25 and TF-IDF
    computed from the battery's shared tf frame (which filters
    ``doc_id IS NOT NULL``) equal their internal token-stream paths,
    and neither returns a NULL id."""
    from vbb_data_pipeline_spark.functions.text import tf_idf_top_terms, tokens

    null_row = spark.createDataFrame(
        [(None, "hash join batch small vector data hash join")],
        "doc_id long, text string",
    )
    with_null = docs.unionByName(null_row)
    tf_all = (
        with_null.select(
            F.col("doc_id"), F.explode(tokens("text")).alias("term")
        )
        .filter(F.col("doc_id").isNotNull() & F.col("term").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    bm_int = sorted(map(tuple, bm25_topk(spark, with_null, QUERIES).collect()))
    bm_tf = sorted(
        map(tuple, bm25_topk(spark, with_null, QUERIES, tf_all=tf_all).collect())
    )
    assert bm_int == bm_tf
    assert bm_int == sorted(map(tuple, bm25_topk(spark, docs, QUERIES).collect()))
    ti_int = sorted(
        map(tuple, tf_idf_top_terms(with_null, "text", "doc_id", k=3).collect())
    )
    ti_tf = sorted(
        map(
            tuple,
            tf_idf_top_terms(with_null, "text", "doc_id", k=3, tf=tf_all).collect(),
        )
    )
    assert ti_int == ti_tf
    assert all(r[0] is not None for r in ti_int)
