"""Arrow/numpy brute-force top-k (the scale path) vs the expression
path: identical results, pair-free plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_arrow,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _key(rows):
    return sorted((r.query_id, r.rank, r.neighbor_id, r.cosine) for r in rows)


def test_arrow_topk_matches_expression_path(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    exp = brute_force_topk(emb, q, k=5).collect()
    got = brute_force_topk_arrow(emb, q, k=5).collect()
    assert _key(got) == _key(exp)


def test_arrow_topk_respects_partition_boundaries(spark, emb):
    """Per-batch local top-k must still produce the global top-k after
    the re-rank, regardless of how the corpus is partitioned."""
    q = emb.filter(F.col("vec_id") < 3)
    exp = _key(brute_force_topk(emb, q, k=7).collect())
    for nparts in (1, 13):
        got = _key(
            brute_force_topk_arrow(emb.repartition(nparts), q, k=7).collect()
        )
        assert got == exp


def test_arrow_topk_empty_queries(spark, emb):
    out = brute_force_topk_arrow(emb, emb.filter(F.col("vec_id") < 0), k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id",
        "neighbor_id",
        "cosine",
        "rank",
    ]


def test_arrow_topk_null_vectors_ignored(spark, emb):
    """NULL corpus vectors are dropped, never crash the matmul."""
    base = emb.select("vec_id", "embedding")
    with_null = base.unionByName(
        base.limit(1).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.lit(None).cast("array<float>").alias("embedding"),
        )
    )
    q = emb.filter(F.col("vec_id") < 2)
    got = brute_force_topk_arrow(with_null, q, k=5).collect()
    assert all(r.neighbor_id < 100000 for r in got)


def test_arrow_topk_plan_is_pair_free(spark, emb):
    """One Python stage over the corpus + one window shuffle — no
    cartesian/cross product materializing pair rows."""
    q = emb.filter(F.col("vec_id") < 10)
    df = brute_force_topk_arrow(emb, q, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# Persisted IVF index: inverted lists as storage partitioning
# --------------------------------------------------------------------------
def test_ivf_index_matches_inline_and_prunes(spark, emb, tmp_path):
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        ivf_write_index,
        kmeans_centroids_local,
    )

    cent = kmeans_centroids_local(emb, n_cells=8, iters=1)
    q = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf_index")
    ivf_write_index(emb, cent, idx)

    got = ivf_topk_from_index(
        spark, idx, q, cent, k=5, nprobe=2
    )
    exp = ivf_topk(
        emb, q, k=5, n_cells=8, nprobe=2, dim=64, centroids=cent
    ).collect()
    assert _key(got.collect()) == _key(exp)

    # the index scan must carry a cell_id partition filter (pruned
    # read); other scans (queries/centroids) have empty filter lists
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert any(
        "cell_id" in seg[:200]
        for seg in plan.split("PartitionFilters")[1:]
    ), plan


def test_ivf_topk_join_route_matches_literal_route(spark, emb, monkeypatch):
    """Above IVF_LITERAL_MAX_EXPRS, ivf_topk assigns cells with a
    broadcast join + argmax aggregate and selects probe cells with a
    window instead of the literal expressions. Both routes return the
    same rows."""
    from vbb_data_pipeline_spark.operators import similarity as sim

    cent = sim.kmeans_centroids_local(emb, n_cells=8, iters=1)
    q = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=5, n_cells=8, nprobe=2, dim=64, centroids=cent)
    literal = sim.ivf_topk(emb, q, **kw)
    assert "BroadcastNestedLoopJoin" not in literal._jdf.queryExecution(
    ).executedPlan().toString()
    monkeypatch.setattr(sim, "IVF_LITERAL_MAX_EXPRS", 0)
    joined = sim.ivf_topk(emb, q, **kw)
    # the query x centroid probe join only exists on the join route
    assert "BroadcastNestedLoopJoin" in joined._jdf.queryExecution(
    ).executedPlan().toString()
    got = joined.collect()
    assert got
    assert _key(got) == _key(literal.collect())


def test_embedding_neardup_bucket_cap(spark, emb):
    """max_bucket_size drops degenerate hyperplane buckets (identical
    embedding spikes) from the quadratic pair stage."""
    from vbb_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    base = emb.select("vec_id", "embedding").limit(50)
    one = base.limit(1).select(F.col("embedding").alias("_e"))
    spike = (
        base.limit(20)
        .crossJoin(one)
        .select((F.col("vec_id") + 10_000).alias("vec_id"),
                F.col("_e").alias("embedding"))
    )
    corpus = base.unionByName(spike)

    unc = embedding_neardup_pairs(corpus, dim=64, threshold=0.9)
    cap = embedding_neardup_pairs(
        corpus, dim=64, threshold=0.9, max_bucket_size=10
    )
    unc_pairs = {(r.id_a, r.id_b) for r in unc.collect()}
    cap_pairs = {(r.id_a, r.id_b) for r in cap.collect()}
    spike_pairs = {p for p in unc_pairs if p[0] >= 10_000 and p[1] >= 10_000}
    # uncapped sees the quadratic spike (20 clones -> 190 pairs)
    assert len(spike_pairs) >= 190
    # capped: the spike's bucket (>10 occupants) is gone entirely
    assert not any(p[0] >= 10_000 and p[1] >= 10_000 for p in cap_pairs)
    assert cap_pairs <= unc_pairs


def test_half_up_rounding_parity_on_dyadic_half_ticks(spark):
    """The Arrow path must round HALF_UP like F.round — np.round
    (half-to-even) diverges on exact dyadic half-ticks, e.g.
    0.015625 (1/64) at 5 digits: HALF_UP gives 0.01563, np.round
    gives 0.01562. Pins the rounding kernel on exactly those values
    (only dyadic rationals can BE exact half-ticks in binary FP)."""
    import numpy as np

    p = 10.0 ** 5
    vals = np.array([0.015625, -0.015625, 0.000005, 0.25, 1.0])
    got = np.sign(vals) * np.floor(np.abs(vals) * p + 0.5) / p
    assert got.tolist() == [0.01563, -0.01563, 0.00001, 0.25, 1.0]
    # np.round would give 0.01562 (half-to-even) — pin the difference
    assert np.round(0.015625, 5) == 0.01562


def test_expression_plan_is_dim_independent_and_arrow_wins_at_768(spark):
    """r2-regression tripwire: the expression path's analyzed plan
    must not grow with dim (zip_with+aggregate is O(1) nodes — an
    unrolled form cost ~35 s of Catalyst work at dim=64 and would be
    10-100x at real embedding dims). Which path is faster at dim=768
    is a timing question for a benchmark workload, not a unit test:
    a wall-clock assertion here was flaky under a loaded suite."""
    import numpy as np

    rng = np.random.default_rng(7)

    def mk(dim, n=400):
        rows = [(i, rng.standard_normal(dim).tolist()) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    plans = {}
    for dim in (8, 768):
        e = mk(dim)
        q = e.filter(F.col("vec_id") < 5)
        df = brute_force_topk(e, q, k=3)
        plans[dim] = len(df._jdf.queryExecution().analyzed().toString())
        # both routes still run at each dim
        assert len(df.collect()) == len(brute_force_topk_arrow(e, q, k=3).collect())
    # plan text size within noise between dim=8 and dim=768
    assert plans[768] < plans[8] * 1.5, plans


def test_ivf_assign_arrow_matches_expression_path(spark, emb):
    """Index-build assignment parity: the BLAS argmax must pick the
    identical cell for every vector (rounding absorbs BLAS-vs-
    sequential dot ulps; ties break to the smallest cell id on both
    paths), and pass the vector column through unchanged."""
    from vbb_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_arrow,
        kmeans_centroids_local,
    )

    cent = kmeans_centroids_local(emb, n_cells=8, iters=2)
    exp = ivf_assign(emb, cent).collect()
    got = ivf_assign_arrow(emb, cent).collect()
    key = lambda rows: sorted(  # noqa: E731
        (r.vec_id, r.cell_id, tuple(r.embedding)) for r in rows
    )
    assert key(got) == key(exp)
    # identical under different physical partitioning of the corpus
    got13 = ivf_assign_arrow(emb.repartition(13), cent).collect()
    assert key(got13) == key(exp)
