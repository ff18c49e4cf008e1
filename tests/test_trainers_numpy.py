"""BLAS (numpy) quantizer trainers — the index-BUILD path for scale.

kmeans_centroids_numpy / pq_train_numpy exist because the
engine-deterministic trainers are interpreted Python whose Lloyd loop
is O(sample x cells x dim) per round — fine for oracle replay at test
scale, days at n_cells in the thousands. These tests pin what the
BLAS path must guarantee instead of bit-replayability: schema
compatibility with every downstream consumer, run-to-run determinism
on one platform, ordinal seeding (id offsets / gaps are fine), and
end-to-end ANN quality through the persisted IVF-PQ index.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.operators import similarity as sim

SF = "/root/testdata/sf0.01"
DIM = 64
M = 8
K = 16


@pytest.fixture(scope="module")
def emb(spark):
    from vbb_data_pipeline_spark.queries import load_table

    return load_table(spark, SF, "embeddings").localCheckpoint()


def test_centroid_schema_and_determinism(emb):
    c1 = sim.kmeans_centroids_numpy(emb, n_cells=16, iters=2)
    c2 = sim.kmeans_centroids_numpy(emb, n_cells=16, iters=2)
    rows1 = sorted((r.cell_id, tuple(r.embedding)) for r in c1.collect())
    rows2 = sorted((r.cell_id, tuple(r.embedding)) for r in c2.collect())
    assert rows1 == rows2  # same platform -> bit-identical reruns
    assert c1.columns == ["cell_id", "embedding"]
    assert 0 < len(rows1) <= 16
    assert all(len(v) == DIM for _, v in rows1)


def test_ordinal_seeding_survives_id_offset(emb):
    """The deterministic trainers raise on id spaces that don't start
    at 0; the BLAS trainer seeds by ordinal and must train the same
    model for any key relabeling."""
    shifted = emb.withColumn(
        "vec_id", F.col("vec_id") + F.lit(5_000_000)
    )
    base = sim.kmeans_centroids_numpy(emb, n_cells=16, iters=2)
    moved = sim.kmeans_centroids_numpy(shifted, n_cells=16, iters=2)
    k1 = sorted((r.cell_id, tuple(r.embedding)) for r in base.collect())
    k2 = sorted((r.cell_id, tuple(r.embedding)) for r in moved.collect())
    assert k1 == k2
    with pytest.raises(ValueError, match="seed"):
        sim.kmeans_centroids_local(shifted, n_cells=16, iters=1)


def test_pq_codebook_shape(emb):
    cb = sim.pq_train_numpy(emb, n_subspaces=M, n_codes=K, iters=2, dim=DIM)
    rows = cb.collect()
    assert cb.columns == ["subspace", "code", "subvec"]
    per_sub = {}
    for r in rows:
        per_sub.setdefault(r.subspace, set()).add(r.code)
        assert len(r.subvec) == DIM // M
    assert set(per_sub) == set(range(M))
    assert all(len(codes) <= K for codes in per_sub.values())


def test_persisted_index_recall_with_numpy_models(emb, spark, tmp_path):
    """End-to-end: BLAS-trained models -> codes-at-rest index ->
    probe; recall@10 against exact brute force must clear the same
    bar the deterministic pipeline is held to."""
    centroids = sim.kmeans_centroids_numpy(emb, n_cells=8, iters=3)
    cb = sim.pq_train_numpy(emb, n_subspaces=M, n_codes=K, iters=3, dim=DIM)
    idx = str(tmp_path / "ivfpq_np")
    sim.ivf_pq_write_index(emb, centroids, cb, idx, dim=DIM, n_subspaces=M)
    q = emb.filter(F.col("vec_id") < 8)
    got = sim.ivf_pq_topk_from_index(
        spark, idx, q, centroids, cb, k=10, nprobe=4, n_subspaces=M,
        dim=DIM, candidates=30,
    ).collect()
    truth = sim.brute_force_topk_arrow(emb, q, k=10).collect()
    g = {(r.query_id, r.neighbor_id) for r in got}
    t = {(r.query_id, r.neighbor_id) for r in truth}
    assert len(g & t) / len(t) >= 0.6  # nprobe=4 of 8 cells + PQ loss


def test_local_kmeans_rejects_partially_gapped_seed_ids(spark):
    """Gapped ids below n_cells (3 of the 5 seed ids present) must
    raise, not silently train fewer cells and degrade IVF recall."""
    import pytest as _pytest

    from vbb_data_pipeline_spark.operators.similarity import (
        kmeans_centroids_local,
    )

    rows = [(i, [float(i), 1.0]) for i in (0, 1, 2, 5, 9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="kmeans seeding found 3"):
        kmeans_centroids_local(df, n_cells=5, iters=1)
