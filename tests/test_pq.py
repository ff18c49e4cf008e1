"""Product quantization (pq_train_local / pq_encode / pq_topk).

Covers: codebook shape & determinism, encode validity, ADC recall
against the exact brute-force oracle, and the plan guards that keep
the operator 100 TB-shaped (broadcast LUT, no cartesian product, no
Python eval). The cross-engine value check lives in the registry
(`sim_pq_topk` vs its DuckDB oracle, which replays training in SQL).
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


@pytest.fixture(scope="module")
def codebooks(emb):
    return sim.pq_train_local(
        emb, n_subspaces=M, n_codes=K, iters=2, dim=DIM
    ).localCheckpoint()


def test_codebook_shape_and_determinism(emb, codebooks):
    rows = codebooks.collect()
    # every subspace trained; no subspace exceeds K codewords; each
    # subvector is dim/M wide
    by_sub = {}
    for r in rows:
        by_sub.setdefault(r.subspace, []).append(r)
        assert len(r.subvec) == DIM // M
        assert 0 <= r.code < K
    assert sorted(by_sub) == list(range(M))
    # deterministic retrain (no cache key -> full retrain)
    again = sim.pq_train_local(emb, n_subspaces=M, n_codes=K, iters=2, dim=DIM)
    a = sorted(map(tuple, rows))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_encode_every_vector_all_subspaces(emb, codebooks):
    n = emb.count()
    codes = sim.pq_encode(emb, codebooks, n_subspaces=M, dim=DIM)
    stats = codes.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("vec_id").alias("vecs"),
        F.min("code").alias("lo"),
        F.max("code").alias("hi"),
    ).first()
    assert stats.rows == n * M
    assert stats.vecs == n
    assert 0 <= stats.lo and stats.hi < K


def test_adc_recall_vs_bruteforce(emb, codebooks):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(emb, queries, k=5)
    approx = sim.pq_topk(
        emb,
        queries,
        k=5,
        n_subspaces=M,
        n_codes=K,
        dim=DIM,
        candidates=20,
        codebooks=codebooks,
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 16 codes x 8 subspaces on this corpus: deterministic data ->
    # deterministic recall; the bound is a regression tripwire, not a
    # statistical claim
    assert recall >= 0.5, f"PQ recall@5 collapsed: {recall:.2f}"
    # the exact re-rank means every reported cosine is the true one
    joined = (
        approx.alias("a")
        .join(
            exact.alias("e"),
            (F.col("a.query_id") == F.col("e.query_id"))
            & (F.col("a.neighbor_id") == F.col("e.neighbor_id")),
        )
        .filter(F.col("a.cosine") != F.col("e.cosine"))
    )
    assert joined.count() == 0


def test_pq_plan_guards(emb, codebooks):
    queries = emb.filter(F.col("vec_id") < 10)
    out = sim.pq_topk(
        emb, queries, k=5, n_subspaces=M, n_codes=K, dim=DIM, codebooks=codebooks
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # LUT + query-vector joins
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan  # fully JVM-side


def test_ivfpq_recall_and_consistency(emb, codebooks):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(emb, queries, k=5)
    out = sim.ivf_pq_topk(
        emb,
        queries,
        k=5,
        n_cells=16,
        nprobe=4,
        n_subspaces=M,
        n_codes=K,
        dim=DIM,
        candidates=20,
        codebooks=codebooks,
    )
    rows = out.collect()
    # k results per query unless the probed cells held fewer
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r.query_id] = max(per_q.get(r.query_id, 0), r.rank)
        assert r.cosine <= 1.0 + 1e-9
    assert set(per_q) <= {r.vec_id for r in queries.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(e & a) / len(e)
    # pruning (nprobe=4/16) + PQ: deterministic tripwire, not a claim
    assert recall >= 0.3, f"IVF-PQ recall@5 collapsed: {recall:.2f}"
    # reported cosines are the true ones (exact re-rank)
    joined = (
        out.alias("a")
        .join(
            exact.alias("e"),
            (F.col("a.query_id") == F.col("e.query_id"))
            & (F.col("a.neighbor_id") == F.col("e.neighbor_id")),
        )
        .filter(F.col("a.cosine") != F.col("e.cosine"))
    )
    assert joined.count() == 0


def test_ivfpq_plan_guards(emb, codebooks):
    queries = emb.filter(F.col("vec_id") < 10)
    out = sim.ivf_pq_topk(
        emb, queries, k=5, n_subspaces=M, n_codes=K, dim=DIM,
        codebooks=codebooks,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan


def test_residual_pq_beats_raw_pq_on_clustered_data(spark):
    """The point of residual coding: same code budget, less error —
    ON CLUSTERED DATA, where residuals are much smaller than the
    vectors. (On the unclustered synthetic fixture the effect
    measurably INVERTS: k-means centroids of near-random vectors sit
    close to the origin, residuals are vector-sized, and the extra
    cross-term quantization just adds noise — raw-PQ error 0.071 vs
    residual 0.085 at sf0.01. That measurement is why this test
    builds its own clustered corpus instead of asserting a theory on
    the wrong data.)"""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, size=(16, DIM))
    rows = []
    for i in range(240):
        c = centers[i % 16]  # first 16 ids cover all clusters (seeds)
        v = c + rng.normal(0.0, 0.05, size=DIM)
        rows.append((i, [float(x) for x in v]))
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids = sim.kmeans_centroids_local(d, n_cells=16, iters=2)
    raw_cb = sim.pq_train_local(d, n_subspaces=M, n_codes=K, iters=2, dim=DIM)
    res_cb = sim.pq_train_residual_local(
        d, centroids, n_subspaces=M, n_codes=K, iters=2, dim=DIM
    )
    queries = d.filter(F.col("vec_id") < 20)
    kw = dict(
        k=10, n_cells=16, nprobe=4, n_subspaces=M, n_codes=K, dim=DIM,
        candidates=30, centroids=centroids,
    )
    raw = sim.ivf_pq_topk(d, queries, codebooks=raw_cb, **kw)
    res = sim.ivf_pq_residual_topk(d, queries, codebooks=res_cb, **kw)

    def mean_abs_err(df):
        row = df.select(
            F.avg(F.abs(F.col("cosine") - F.col("approx_cosine"))).alias("e")
        ).first()
        return row.e

    raw_err = mean_abs_err(raw)
    res_err = mean_abs_err(res)
    assert res_err < raw_err, (
        f"residual coding did not reduce ADC error on clustered data: "
        f"{res_err} vs {raw_err}"
    )


def test_residual_ivfpq_exact_rerank_and_plan(emb, spark):
    centroids = sim.kmeans_centroids_local(emb, n_cells=16, iters=2)
    queries = emb.filter(F.col("vec_id") < 10)
    out = sim.ivf_pq_residual_topk(
        emb, queries, k=5, n_subspaces=M, n_codes=K, dim=DIM,
        centroids=centroids,
    )
    exact = sim.brute_force_topk(emb, queries, k=5)
    joined = (
        out.alias("a")
        .join(
            exact.alias("e"),
            (F.col("a.query_id") == F.col("e.query_id"))
            & (F.col("a.neighbor_id") == F.col("e.neighbor_id")),
        )
        .filter(F.col("a.cosine") != F.col("e.cosine"))
    )
    assert joined.count() == 0  # reported cosines are true cosines
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan


def test_ivfpq_index_matches_inline_and_prunes(spark, emb, tmp_path):
    """Persisted IVF-PQ index: identical results to the inline
    pipeline; the ADC scan partition-prunes on cell_id and its
    projection excludes the vector column."""
    centroids = sim.kmeans_centroids_local(emb, n_cells=8, iters=1)
    cb = sim.pq_train_local(emb, n_subspaces=M, n_codes=K, iters=2, dim=DIM)
    q = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivfpq_index")
    sim.ivf_pq_write_index(
        emb, centroids, cb, idx, dim=DIM, n_subspaces=M
    )
    got = sim.ivf_pq_topk_from_index(
        spark, idx, q, centroids, cb, k=5, nprobe=2, n_subspaces=M,
        dim=DIM, candidates=20,
    )
    exp = sim.ivf_pq_topk(
        emb, q, k=5, n_cells=8, nprobe=2, n_subspaces=M, n_codes=K,
        dim=DIM, candidates=20, centroids=centroids, codebooks=cb,
    )
    key = lambda rows: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, r.cosine, r.approx_cosine, r.rank)
        for r in rows
    )
    assert key(got.collect()) == key(exp.collect())
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert any(
        "cell_id" in seg[:200] for seg in plan.split("PartitionFilters")[1:]
    ), plan
    # the ADC-side scan must NOT read the vector column: at least one
    # index scan projects only id + codes
    scans = [
        seg[:400] for seg in plan.split("ReadSchema: ")[1:]
        if "pq_codes" in seg[:400]
    ]
    assert any("embedding" not in s for s in scans), scans


def test_pq_encode_arrow_parity(emb, codebooks):
    """Arrow/BLAS encode path must produce IDENTICAL codes to the
    expression path on the driver fixtures — same d² arithmetic, same
    HALF_UP rounding, same smallest-code tie rule."""
    expr = sorted(
        map(
            tuple,
            sim.pq_encode(emb, codebooks, M, DIM).collect(),
        )
    )
    arrow = sorted(
        map(
            tuple,
            sim.pq_encode_arrow(emb, codebooks, M, DIM).collect(),
        )
    )
    assert expr == arrow
    assert len(expr) > 0


def test_pq_encode_arrow_plan_is_single_pass(emb, codebooks):
    """No exchange at all: the Arrow encode emits final (id, subspace,
    code) rows straight from the scan."""
    df = sim.pq_encode_arrow(emb, codebooks, M, DIM)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ivfpq_index_write_is_cell_aligned(spark, emb, tmp_path):
    """The index write repartitions ON cell_id before partitionBy, so
    each cell directory holds exactly one data file. Unaligned
    dynamic-partition writes (every task writing every cell) produced
    tasks x cells tiny files — measured 14x slower build and 5.5x
    slower probe at 200k rows, and a disk-filling spill at 2M
    (SCALE_ann.json before_fixes)."""
    from pathlib import Path

    centroids = sim.kmeans_centroids_local(emb, n_cells=8, iters=1)
    cb = sim.pq_train_local(emb, n_subspaces=M, n_codes=K, iters=1, dim=DIM)
    idx = tmp_path / "aligned_idx"
    sim.ivf_pq_write_index(
        emb, centroids, cb, str(idx), dim=DIM, n_subspaces=M
    )
    cell_dirs = [p for p in Path(idx).iterdir() if p.name.startswith("cell_id=")]
    assert cell_dirs, "no cell partitions written"
    for d in cell_dirs:
        files = [f for f in d.iterdir() if f.suffix == ".parquet"]
        assert len(files) == 1, f"{d.name}: {len(files)} files"


def test_shared_codes_and_assignment_parity(emb, codebooks):
    """r11 rung sharing: passing precomputed codes/assigned frames
    (sim_pq_battery's shared exchanges) returns EXACTLY the answers of
    the self-contained constructions, for all three PQ rungs."""
    queries = emb.filter(F.col("vec_id") < 6)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("long").alias("cell_id"), "embedding"
    )
    codes = (
        sim.pq_encode_arrow(emb, codebooks, M, DIM)
        .filter(
            F.col("vec_id").isNotNull()
            & F.col("subspace").isNotNull()
            & F.col("code").isNotNull()
        )
        .repartition("vec_id")
    )
    assigned = sim.ivf_assign(
        emb.filter(F.col("vec_id").isNotNull()), cents,
    )

    want = sorted(map(tuple, sim.pq_topk(
        emb, queries, k=4, n_subspaces=M, n_codes=K, dim=DIM,
        codebooks=codebooks).collect()))
    got = sorted(map(tuple, sim.pq_topk(
        emb, queries, k=4, n_subspaces=M, n_codes=K, dim=DIM,
        codebooks=codebooks, codes=codes).collect()))
    assert got == want

    want = sorted(map(tuple, sim.ivf_pq_topk(
        emb, queries, k=4, n_cells=8, nprobe=3, n_subspaces=M,
        n_codes=K, dim=DIM, centroids=cents,
        codebooks=codebooks).collect()))
    got = sorted(map(tuple, sim.ivf_pq_topk(
        emb, queries, k=4, n_cells=8, nprobe=3, n_subspaces=M,
        n_codes=K, dim=DIM, centroids=cents, codebooks=codebooks,
        codes=codes, assigned=assigned).collect()))
    assert got == want

    cb_res = sim.pq_train_residual_local(
        emb, cents, n_subspaces=M, n_codes=K, iters=2, dim=DIM
    )
    want = sorted(map(tuple, sim.ivf_pq_residual_topk(
        emb, queries, k=4, n_cells=8, nprobe=3, n_subspaces=M,
        n_codes=K, dim=DIM, centroids=cents,
        codebooks=cb_res).collect()))
    got = sorted(map(tuple, sim.ivf_pq_residual_topk(
        emb, queries, k=4, n_cells=8, nprobe=3, n_subspaces=M,
        n_codes=K, dim=DIM, centroids=cents, codebooks=cb_res,
        assigned=assigned).collect()))
    assert got == want


def test_pq_battery_shares_exchanges(spark):
    """sim_pq_battery's three rungs share one codes frame and one
    assignment frame. Spark then runs each shared exchange once and
    serves the other consumers with ReusedExchange. A change that
    makes two pre-exchange subtrees differ silently loses the reuse
    and runs an extra Arrow encode pass, so the counts in the final
    adaptive plan are pinned."""
    import re

    from conftest import SF_DIR

    from vbb_data_pipeline_spark.queries.similarity_q import sim_pq_battery

    df = sim_pq_battery(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.partition("== Initial Plan ==")[0]
    assert len(re.findall(r"\bReusedExchange\b", final)) == 10, final
    # one encode of the raw vectors (shared by the pq and ivfpq rungs)
    # and one of the residuals
    assert len(re.findall(r"\bMapInPandas\b", final)) == 2, final
