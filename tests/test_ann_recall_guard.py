"""Build-time ANN recall estimation + nprobe='auto' escalation /
exact-scan fallback (round-9 VERDICT item 3): on clustered corpora the
estimator certifies a small nprobe; on uniform (unclusterable)
corpora it must record fallback and the auto probe must return EXACT
results instead of silent coin-flip recall."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.operators.similarity import (
    ANN_RECALL_MARKER,
    ann_recall_estimate,
    brute_force_topk_arrow,
    exact_topk_from_index,
    ivf_pq_topk_from_index,
    ivf_pq_write_index,
    ivf_topk_from_index,
    ivf_write_index,
    kmeans_centroids_numpy,
    pq_train_numpy,
)

DIM = 16
N = 2000
CLUSTER = 10  # mini-cluster size: each vector's true (k=9)-NN set
K = 9


def _corpus(spark, kind: str):
    rows = []
    for vid in range(N):
        rng = np.random.default_rng(vid)
        if kind == "clustered":
            cid = vid // CLUSTER
            crng = np.random.default_rng(7_000_003 + cid)
            c = crng.normal(size=DIM)
            c /= np.linalg.norm(c)
            v = c + 0.05 * rng.normal(size=DIM)
        else:
            v = rng.normal(size=DIM)
        rows.append((vid, [float(x) for x in v.astype("float32")]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint()


def _recall(got_df, want_df):
    got = {(r.query_id, r.neighbor_id) for r in got_df.collect()}
    want = {(r.query_id, r.neighbor_id) for r in want_df.collect()}
    return len(got & want) / len(want)


@pytest.fixture(scope="module")
def clustered(spark):
    return _corpus(spark, "clustered")


@pytest.fixture(scope="module")
def uniform(spark):
    return _corpus(spark, "uniform")


def test_clustered_build_certifies_small_nprobe(spark, clustered, tmp_path):
    path = str(tmp_path / "ivf_c")
    cents = kmeans_centroids_numpy(
        clustered, n_cells=40, iters=3, sample_n=N
    ).localCheckpoint()
    ivf_write_index(
        clustered, cents, path, target_recall=0.9,
        recall_kwargs={"k": K, "n_queries": 16},
    )
    rec = json.loads(
        open(f"{path}/{ANN_RECALL_MARKER}").read()
    )
    assert rec["fallback"] is False
    assert rec["recommended_nprobe"] <= 16  # routing works on clusters
    assert rec["curve"][-1]["recall"] >= 0.9

    # the auto probe actually delivers the certified recall
    q = clustered.filter(F.col("vec_id") < 8)
    auto = ivf_topk_from_index(
        spark, path, q, cents, k=K, nprobe="auto"
    )
    truth = brute_force_topk_arrow(clustered, q, k=K)
    assert _recall(auto, truth) >= 0.9


def test_uniform_build_enforces_exact_fallback(spark, uniform, tmp_path):
    """No nprobe rung on uniform vectors reaches a strict target at a
    real pruning fraction — the marker must say fallback and the auto
    probe must be EXACT (recall 1.0), never silently approximate."""
    path = str(tmp_path / "ivf_u")
    cents = kmeans_centroids_numpy(
        uniform, n_cells=40, iters=3, sample_n=N
    ).localCheckpoint()
    ivf_write_index(
        uniform, cents, path, target_recall=0.95,
        # ladder capped below n_cells: no rung may scan everything,
        # mirroring production where nprobe == n_cells is not a probe
        recall_kwargs={"k": K, "n_queries": 16, "nprobe_ladder": (2, 4, 8)},
    )
    rec = json.loads(open(f"{path}/{ANN_RECALL_MARKER}").read())
    assert rec["fallback"] is True
    assert all(r["recall"] < 0.95 for r in rec["curve"])

    q = uniform.filter(F.col("vec_id") < 8)
    auto = ivf_topk_from_index(
        spark, path, q, cents, k=K, nprobe="auto"
    )
    truth = brute_force_topk_arrow(uniform, q, k=K)
    assert _recall(auto, truth) == 1.0


def test_pq_auto_scales_candidates_or_falls_back(spark, clustered, tmp_path):
    path = str(tmp_path / "ivfpq_c")
    cents = kmeans_centroids_numpy(
        clustered, n_cells=40, iters=3, sample_n=N
    ).localCheckpoint()
    cbs = pq_train_numpy(
        clustered, n_subspaces=4, n_codes=16, iters=3, dim=DIM, sample_n=N
    ).localCheckpoint()
    ivf_pq_write_index(
        clustered, cents, cbs, path, dim=DIM, n_subspaces=4,
        recall_kwargs={"k": K, "n_queries": 16},
    )
    rec = json.loads(open(f"{path}/{ANN_RECALL_MARKER}").read())
    assert rec["kind"] == "ivf_pq"
    q = clustered.filter(F.col("vec_id") < 8)
    truth = brute_force_topk_arrow(clustered, q, k=K)
    if rec["fallback"]:
        auto = ivf_pq_topk_from_index(
            spark, path, q, cents, cbs, k=K, nprobe="auto",
            n_subspaces=4, dim=DIM,
        )
        # fallback path is exact and schema-stable (approx == exact)
        assert _recall(auto, truth) == 1.0
        assert auto.columns == [
            "query_id", "neighbor_id", "cosine", "approx_cosine", "rank",
        ]
    else:
        # the certified pair includes a candidates pool scaled to the
        # rung — the fix for recall DROPPING as nprobe grows
        assert rec["recommended_candidates"] >= K * rec["recommended_nprobe"]
        auto = ivf_pq_topk_from_index(
            spark, path, q, cents, cbs, k=K, nprobe="auto",
            n_subspaces=4, dim=DIM,
        )
        assert _recall(auto, truth) >= 0.9


def test_auto_without_marker_raises(spark, clustered, tmp_path):
    path = str(tmp_path / "ivf_nomark")
    cents = kmeans_centroids_numpy(
        clustered, n_cells=40, iters=2, sample_n=N
    ).localCheckpoint()
    # target_recall=None is the r10 escape hatch: certification is
    # the DEFAULT build posture now, skipping it must be explicit
    ivf_write_index(clustered, cents, path, target_recall=None)
    q = clustered.filter(F.col("vec_id") < 4)
    with pytest.raises(ValueError, match="recall marker"):
        ivf_topk_from_index(
            spark, path, q, cents, k=K, nprobe="auto"
        )
    # integer nprobe keeps working without a marker
    assert ivf_topk_from_index(
        spark, path, q, cents, k=K, nprobe=4
    ).count() > 0


def test_default_build_certifies_and_default_probe_consumes(
    spark, clustered, tmp_path
):
    """r10: the DEFAULT API path is certified — ivf_write_index with
    no target_recall argument writes the marker, and
    ivf_topk_from_index with no nprobe argument resolves 'auto'
    against it and delivers the certified recall."""
    path = str(tmp_path / "ivf_default")
    cents = kmeans_centroids_numpy(
        clustered, n_cells=40, iters=3, sample_n=N
    ).localCheckpoint()
    ivf_write_index(
        clustered, cents, path,
        recall_kwargs={"k": K, "n_queries": 16},
    )
    rec = json.loads(open(f"{path}/{ANN_RECALL_MARKER}").read())
    assert rec["target_recall"] == 0.9
    q = clustered.filter(F.col("vec_id") < 8)
    auto = ivf_topk_from_index(spark, path, q, cents, k=K)
    truth = brute_force_topk_arrow(clustered, q, k=K)
    assert _recall(auto, truth) >= 0.9


def test_fallback_marker_serves_any_k(spark, uniform, tmp_path):
    """r9 advice: a fallback-marked index routes auto probes to the
    EXACT scan, which is exact for ANY k — the k>marker_k guard must
    not fire on that path (it ran first and raised)."""
    path = str(tmp_path / "ivf_u_bigk")
    cents = kmeans_centroids_numpy(
        uniform, n_cells=40, iters=3, sample_n=N
    ).localCheckpoint()
    ivf_write_index(
        uniform, cents, path, target_recall=0.95,
        recall_kwargs={"k": K, "n_queries": 16, "nprobe_ladder": (2, 4, 8)},
    )
    rec = json.loads(open(f"{path}/{ANN_RECALL_MARKER}").read())
    assert rec["fallback"] is True
    q = uniform.filter(F.col("vec_id") < 4)
    big_k = K + 11  # larger than the certified k: exact path must serve it
    got = ivf_topk_from_index(
        spark, path, q, cents, k=big_k, nprobe="auto"
    )
    truth = brute_force_topk_arrow(uniform, q, k=big_k)
    assert _recall(got, truth) == 1.0


def test_auto_kind_mismatch_raises(spark, clustered, tmp_path):
    path = str(tmp_path / "ivf_kind")
    cents = kmeans_centroids_numpy(
        clustered, n_cells=40, iters=2, sample_n=N
    ).localCheckpoint()
    ivf_write_index(
        clustered, cents, path, target_recall=0.5,
        recall_kwargs={"k": K, "n_queries": 8},
    )
    cbs = pq_train_numpy(
        clustered, n_subspaces=4, n_codes=16, iters=2, dim=DIM, sample_n=N
    ).localCheckpoint()
    q = clustered.filter(F.col("vec_id") < 4)
    with pytest.raises(ValueError, match="kind"):
        ivf_pq_topk_from_index(
            spark, path, q, cents, cbs, k=K, nprobe="auto",
            n_subspaces=4, dim=DIM,
        )


def test_estimator_standalone_no_marker(spark, clustered, tmp_path):
    """write_marker=False returns the measurement without touching the
    index directory — the read-only analysis mode."""
    import os

    path = str(tmp_path / "ivf_ro")
    cents = kmeans_centroids_numpy(
        clustered, n_cells=40, iters=2, sample_n=N
    ).localCheckpoint()
    ivf_write_index(clustered, cents, path, target_recall=None)
    out = ann_recall_estimate(
        spark, path, clustered, cents, k=K, n_queries=8,
        target_recall=0.9, write_marker=False,
    )
    assert out["curve"] and 0.0 <= out["curve"][0]["recall"] <= 1.0
    assert not os.path.exists(f"{path}/{ANN_RECALL_MARKER}")


def test_auto_k_larger_than_certified_raises(spark, clustered, tmp_path):
    """The marker certifies recall@MARKER_K. A probe asking a LARGER k
    must refuse: for IVF-PQ the marker's recommended_candidates would
    silently cap every query below k rows; a smaller k rides the
    certification conservatively."""
    path = str(tmp_path / "ivf_kcert")
    cents = kmeans_centroids_numpy(
        clustered, n_cells=40, iters=3, sample_n=N
    ).localCheckpoint()
    ivf_write_index(
        clustered, cents, path, target_recall=0.9,
        recall_kwargs={"k": K, "n_queries": 16},
    )
    q = clustered.filter(F.col("vec_id") < 4)
    with pytest.raises(ValueError, match="certified k="):
        ivf_topk_from_index(
            spark, path, q, cents, k=K + 11, nprobe="auto"
        )
    # smaller-k probes ride the certification
    small = ivf_topk_from_index(
        spark, path, q, cents, k=K - 4, nprobe="auto"
    )
    assert small.groupBy("query_id").count().agg(
        F.max("count")
    ).collect()[0][0] == K - 4
    # integer nprobe bypasses certification entirely
    assert ivf_topk_from_index(
        spark, path, q, cents, k=K + 11, nprobe=8
    ).count() > 0


def test_append_estimate_covers_full_index(spark, clustered, tmp_path):
    """mode='append' + target_recall must estimate over the FULL
    on-disk index: the ladder probes walk all of it, so ground truth
    from the appended batch alone yields a bogus near-zero curve that
    overwrites a valid whole-index marker with fallback:true."""
    path = str(tmp_path / "ivf_append")
    cents = kmeans_centroids_numpy(
        clustered, n_cells=40, iters=3, sample_n=N
    ).localCheckpoint()
    first = clustered.filter(F.col("vec_id") % 2 == 0)
    rest = clustered.filter(F.col("vec_id") % 2 == 1)
    ivf_write_index(
        first, cents, path, target_recall=0.9,
        recall_kwargs={"k": K, "n_queries": 16},
    )
    ivf_write_index(
        rest, cents, path, mode="append", target_recall=0.9,
        recall_kwargs={"k": K, "n_queries": 16},
    )
    rec = json.loads(open(f"{path}/{ANN_RECALL_MARKER}").read())
    # clustered data stays certifiable after the append — the batch-
    # only estimate measured ~0 recall here (truth over half the
    # corpus, probes over all of it) and recorded fallback:true
    assert rec["fallback"] is False
    q = clustered.filter(F.col("vec_id") < 8)
    auto = ivf_topk_from_index(
        spark, path, q, cents, k=K, nprobe="auto"
    )
    truth = brute_force_topk_arrow(clustered, q, k=K)
    assert _recall(auto, truth) >= 0.9
