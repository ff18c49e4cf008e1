"""Semantics of operators/similarity.semantic_dedup (SemDeDup, Abbas
et al. 2023) on a hand-built corpus where the right answer is known:

* cluster blocking — docs only ever suppress docs in their own cell;
* keep priority — within a duplicate group the doc with the LOWEST
  centroid cosine survives (the paper's keep-the-atypical policy),
  id tiebreak;
* upper-triangular max — a dropped doc still suppresses worse-ranked
  near-copies (no sequential sweep);
* threshold edge — cosine exactly at the threshold drops (>=).
"""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from vbb_data_pipeline_spark.operators.similarity import semantic_dedup

DIM = 4


def _df(spark, rows):
    return spark.createDataFrame(
        rows, schema="vec_id long, embedding array<double>"
    )


def _cents(spark, rows):
    return spark.createDataFrame(
        rows, schema="cell_id long, embedding array<double>"
    )


@pytest.fixture(scope="module")
def result(spark):
    # Two well-separated cells on orthogonal axes. Within cell 0:
    # three near-identical vectors (a duplicate group) plus one
    # orthogonal-ish singleton; cell 1 holds an unrelated pair.
    e = 0.05
    rows = [
        # cell 0 duplicate group — distinct distances to the centroid
        (0, [1.0, 0.0, 0.0, 0.0]),        # cos to centroid highest
        (1, [1.0, e, 0.0, 0.0]),          # slightly off-axis
        (2, [1.0, 2 * e, 0.0, 0.0]),      # most atypical → kept
        # cell 0 singleton: same cell, low cosine to the group
        (3, [0.5, 0.0, 0.86, 0.0]),
        # cell 1 pair: near-dups of each other on the y axis
        (10, [0.0, 0.0, 0.0, 1.0]),
        (11, [0.0, e, 0.0, 1.0]),
    ]
    cents = [
        (0, [1.0, 0.05, 0.1, 0.0]),
        (1, [0.0, 0.0, 0.0, 1.0]),
    ]
    out = semantic_dedup(
        _df(spark, rows),
        _cents(spark, cents),
        threshold=0.95,
    )
    return {r["vec_id"]: r.asDict() for r in out.collect()}


def test_one_row_per_doc(result):
    assert sorted(result) == [0, 1, 2, 3, 10, 11]


def test_cluster_blocking(result):
    # cells assigned by nearest centroid: x-axis docs to 0, y to 1
    assert {result[i]["cell_id"] for i in (0, 1, 2, 3)} == {0}
    assert {result[i]["cell_id"] for i in (10, 11)} == {1}


def test_keep_priority_is_low_centroid_cosine(result):
    # among the duplicate group {0, 1, 2}, the survivor is the member
    # with the LOWEST centroid cosine — doc 0 (the centroid leans
    # toward the off-axis members, making the pure x-axis vector the
    # atypical one); 1 and 2 are suppressed as its near-copies
    assert result[0]["dropped"] is False
    assert result[1]["dropped"] is True
    assert result[2]["dropped"] is True


def test_singleton_survives_same_cell(result):
    # id 3 shares cell 0 but is far from the duplicate group; it ranks
    # first (lowest centroid cosine in the cell) and survives, and doc
    # 0's only better-ranked neighbor is this distant singleton —
    # compared (non-NULL max) yet kept
    assert result[3]["dropped"] is False
    assert result[3]["rnk"] == 1
    assert result[0]["max_cos_better"] is not None
    assert result[0]["max_cos_better"] < 0.6


def test_other_cell_pair(result):
    kept = [i for i in (10, 11) if not result[i]["dropped"]]
    dropped = [i for i in (10, 11) if result[i]["dropped"]]
    assert len(kept) == 1 and len(dropped) == 1


def test_rank_one_has_null_max(result):
    for r in result.values():
        if r["rnk"] == 1:
            assert r["max_cos_better"] is None
            assert r["dropped"] is False


def test_threshold_is_inclusive(spark):
    # identical vectors → rounded cosine 1.0; threshold 1.0 must drop
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0])]
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    out = semantic_dedup(
        _df(spark, rows), _cents(spark, cents), threshold=1.0
    )
    got = {r["vec_id"]: r["dropped"] for r in out.collect()}
    assert got[0] is False and got[1] is True


def test_max_cell_size_backstop(spark):
    # a degenerate cell over the cap skips the pair stage but its docs
    # stay in the report as kept pass-through rows (NULL rank/cosine)
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)] + [
        (100, [0.0, 0.0, 0.0, 1.0])
    ]
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])]
    out = semantic_dedup(
        _df(spark, rows),
        _cents(spark, cents),
        threshold=0.9,
        max_cell_size=3,
    )
    got = {r["vec_id"]: r for r in out.collect()}
    assert sorted(got) == [0, 1, 2, 3, 4, 100]
    for i in range(5):  # the capped cell: all kept, unranked
        r = got[i]
        assert r["dropped"] is False
        assert r["rnk"] is None and r["max_cos_better"] is None
        assert r["cell_id"] == 0
    assert got[100]["rnk"] == 1 and got[100]["dropped"] is False


def test_null_vectors_pass_through(spark):
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, None)]
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    out = semantic_dedup(
        _df(spark, rows), _cents(spark, cents), threshold=0.9
    )
    got = {r["vec_id"]: r for r in out.collect()}
    assert sorted(got) == [0, 1]
    assert got[1]["dropped"] is False
    assert got[1]["cell_id"] is None and got[1]["rnk"] is None


def test_arrow_assignment_parity(spark):
    """assign='arrow' (BLAS batch matmul) must produce the identical
    report to the expression path — same cells, ranks, cosines and
    verdicts (the rounding parity contract of ivf_assign_arrow)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(80)
    ]
    cents = [(c, [rng.uniform(-1, 1) for _ in range(DIM)]) for c in range(5)]
    kw = dict(threshold=0.6)
    a = semantic_dedup(
        _df(spark, rows), _cents(spark, cents), assign="expr", **kw
    ).collect()
    b = semantic_dedup(
        _df(spark, rows), _cents(spark, cents), assign="arrow", **kw
    ).collect()
    ka = {r["vec_id"]: (r["cell_id"], r["rnk"], r["max_cos_better"], r["dropped"]) for r in a}
    kb = {r["vec_id"]: (r["cell_id"], r["rnk"], r["max_cos_better"], r["dropped"]) for r in b}
    assert ka == kb


def test_small_corpus_trains_without_centroids(spark):
    """centroids=None (the production default) must process corpora
    with fewer than 16 non-null vectors: n_cells previously floored
    at 16 and the trainer raised on any smaller batch. All-NULL
    corpora come back as pure pass-through reports."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 0.0, 0.0, 1.0]),
        (3, None),                      # NULL vector: pass-through
    ]
    out = semantic_dedup(_df(spark, rows), None, threshold=0.99)
    got = {r["vec_id"]: r.asDict() for r in out.collect()}
    assert set(got) == {0, 1, 2, 3}          # one row per input doc
    assert got[3]["dropped"] is False        # NULL vec passes through
    assert sum(1 for r in got.values() if r["dropped"]) <= 1

    # all-NULL corpus: nothing to train on, every doc passes through
    out2 = semantic_dedup(
        _df(spark, [(7, None), (8, None)]), None, threshold=0.99
    )
    got2 = {r["vec_id"]: r.asDict() for r in out2.collect()}
    assert set(got2) == {7, 8}
    assert not any(r["dropped"] for r in got2.values())


def test_trainer_cache_is_namespaced_per_trainer(spark, monkeypatch):
    """One cache dict serves every trainer. An entry is keyed by the
    trainer, the caller's cache_key (the input data) and every other
    trainer argument, so (a) the same cache_key through two trainers,
    or through one trainer with different arguments, never returns the
    other model; (b) two queries that train the same model share one
    entry; (c) a warm semantic_dedup runs no Spark job to find its
    quantizer (its corpus count sits inside the cached trainer)."""
    import math
    import random

    from vbb_data_pipeline_spark.operators import similarity as sim
    from vbb_data_pipeline_spark.queries import similarity_q as sq

    cache: dict = {}
    monkeypatch.setattr(sim, "_CENTROID_CACHE", cache)

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = _df(spark, rows)
    key = "shared-identity-123"
    km = sim.kmeans_centroids_local(df, n_cells=2, iters=1, cache_key=key)
    pq = sim.pq_train_local(
        df, n_subspaces=2, n_codes=2, iters=1, dim=DIM, cache_key=key
    )
    assert set(km.columns) != set(pq.columns)  # distinct models back
    assert "cell_id" in km.columns
    assert "subspace" in pq.columns

    # (a) same trainer and cache_key, different iters: the second Lloyd
    # round moves the 46° vector to cell 0 (cell 1's mean swings past
    # 110° after round one), so the two models differ
    angles = [0, 90, 46, 130, 140, 150]
    arows = [
        (i, [math.cos(math.radians(a)), math.sin(math.radians(a)), 0.0, 0.0])
        for i, a in enumerate(angles)
    ]
    adf = _df(spark, arows)

    def model(m):
        return sorted((r[0], tuple(r[1])) for r in m.collect())

    m1 = sim.kmeans_centroids_local(adf, n_cells=2, iters=1, cache_key="ang")
    n = len(cache)
    m2 = sim.kmeans_centroids_local(adf, n_cells=2, iters=2, cache_key="ang")
    assert len(cache) == n + 1
    assert model(m2) != model(m1)
    assert model(m2) == model(sim.kmeans_centroids_local(adf, 2, 2))

    # (b) md5 mode: sim_ivf_topk and the semdedup leg train the one
    # IVF model; building both leaves one entry
    monkeypatch.delenv("SPARK_GRAFT_FAST_HASH", raising=False)
    cache.clear()
    sq.sim_ivf_topk(spark, SF_DIR)
    sq.sim_semantic_dedup(spark, SF_DIR)
    assert len(cache) == 1

    # (c) warm semantic_dedup(None, ...): no new entry, no Spark job
    # until the result executes (checkpoint=False: the default
    # checkpoint materializes the ranked assignment eagerly)
    rng = random.Random(11)
    cdf = _df(
        spark,
        [(i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(40)],
    )
    kw = dict(
        threshold=0.9, checkpoint=False,
        train_cache_key="semdedup-warm",
    )
    cold = semantic_dedup(cdf, None, **kw).collect()
    n = len(cache)
    sc = spark.sparkContext
    sc.setJobGroup("warm-semdedup", "warm semantic_dedup")
    try:
        warm = semantic_dedup(cdf, None, **kw)
        assert sc.statusTracker().getJobIdsForGroup("warm-semdedup") == []
        assert len(cache) == n
        assert sorted(warm.collect()) == sorted(cold)
        assert sc.statusTracker().getJobIdsForGroup("warm-semdedup")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
