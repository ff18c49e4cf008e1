"""Incremental SemDeDup (operators/similarity.semdedup_incremental):
the growing-corpus form — new batches classify against the at-rest
IVF index, survivors append, the corpus is never re-scanned."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.operators.similarity import (
    ivf_write_index,
    semdedup_incremental,
)

THRESH = 0.95


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, schema="vec_id long, embedding array<double>"
    )


def _cents(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])],
        schema="cell_id long, embedding array<double>",
    )


@pytest.fixture()
def index(spark, tmp_path):
    path = str(tmp_path / "ivf")
    corpus = _vecs(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0]),   # cell 0
            (2, [0.9, 0.1, 0.0, 0.0]),   # cell 0
            (10, [0.0, 0.0, 0.0, 1.0]),  # cell 1
        ],
    )
    ivf_write_index(corpus, _cents(spark), path)
    return path


def _probe(spark, index, rows):
    out = semdedup_incremental(
        _vecs(spark, rows), index, _cents(spark), threshold=THRESH
    )
    return {r["vec_id"]: r.asDict() for r in out.collect()}


def test_copy_flagged_with_attribution(spark, index):
    got = _probe(spark, index, [(100, [1.0, 0.0, 0.0, 0.0])])
    assert got[100]["status"] == "near_dup"
    assert got[100]["dup_of"] == 1
    assert got[100]["similarity"] == 1.0


def test_cell_blocking_no_cross_cell_match(spark, index):
    # identical to corpus doc 10 but probes only its own cell; a
    # vector near cell 0's contents lands in cell 0 and never sees
    # cell 1's rows
    got = _probe(spark, index, [(101, [0.0, 0.0, 0.0, 1.0])])
    assert got[101]["status"] == "near_dup" and got[101]["dup_of"] == 10


def test_genuinely_new_passes(spark, index):
    got = _probe(spark, index, [(102, [0.5, 0.0, 0.86, 0.0])])
    assert got[102]["status"] == "new"
    assert got[102]["dup_of"] is None and got[102]["similarity"] is None


def test_deterministic_tiebreak_smallest_id(spark, index):
    # equally close to corpus docs 1 and... make an exact tie by
    # probing a vector equidistant: doc 1 [1,0,0,0] and doc 2
    # [.9,.1,0,0] aren't symmetric, so instead verify the winner is
    # the max-cosine doc, and on an exact duplicate pair in the index
    # the smaller id wins
    from vbb_data_pipeline_spark.operators.similarity import (
        ivf_write_index as write,
    )

    # append an exact copy of doc 1 with a bigger id
    write(
        _vecs(spark, [(5, [1.0, 0.0, 0.0, 0.0])]),
        _cents(spark),
        index,
        mode="append",
    )
    got = _probe(spark, index, [(103, [1.0, 0.0, 0.0, 0.0])])
    assert got[103]["dup_of"] == 1  # 1 < 5, same cosine


def test_survivor_append_feeds_next_batch(spark, index):
    first = _probe(spark, index, [(200, [0.5, 0.0, 0.86, 0.0])])
    assert first[200]["status"] == "new"
    ivf_write_index(
        _vecs(spark, [(200, [0.5, 0.0, 0.86, 0.0])]),
        _cents(spark),
        index,
        mode="append",
    )
    second = _probe(spark, index, [(201, [0.5, 0.0, 0.86, 0.0])])
    assert second[201]["status"] == "near_dup"
    assert second[201]["dup_of"] == 200


def test_null_vector_passes_as_new(spark, index):
    got = _probe(spark, index, [(300, None), (301, [1.0, 0.0, 0.0, 0.0])])
    assert got[300]["status"] == "new" and got[300]["similarity"] is None
    assert got[301]["status"] == "near_dup"


def test_index_read_prunes_to_batch_cells(spark, index):
    # the probe's scan must carry a cell_id partition filter
    out = semdedup_incremental(
        _vecs(spark, [(400, [1.0, 0.0, 0.0, 0.0])]),
        index,
        _cents(spark),
        threshold=THRESH,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the FileScan must carry a real cell_id partition predicate
    # (observed: "PartitionFilters: [isnotnull(cell_id#N), (cell_id#N = 0)]")
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None, "index scan lost its PartitionFilters"
    assert "cell_id" in m.group(1), m.group(1)
