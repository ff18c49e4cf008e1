"""Similarity-search queries over the embeddings table (north-star
extension; operators/similarity.py).

The cosine is computed with the same primitive structure in both
engines (sequential dot product over double-cast float arrays), and
rounded before ranking so ordering is stable; ties break on neighbor
id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.functions.literals import literal_rows_df
from vbb_data_pipeline_spark.operators import similarity as sim
from vbb_data_pipeline_spark.queries import (
    load_table,
    register,
    tag_union,
    tag_union_sql,
)

DIM = 64
N_PLANES = 8

#: DuckDB cosine between two DOUBLE[] columns a/b — mirrors
#: operators/similarity.cosine (dot / max(norms, 1e-12)).
COS_SQL = (
    "list_dot_product({a}, {b}) / greatest("
    "sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})), 1e-12)"
)

# ---------------------------------------------------------------------------
# Adversarial gate rows (round 10): the embeddings fixtures are clean —
# no NULL embedding, zero-norm vector, or duplicate vector ever reached
# the driver's DuckDB hash-compare (the 1e-12 norm floor and the NULL
# boundaries had pytest coverage only). These planted rows put those
# classes INSIDE the sim_ann_battery / sim_embedding_neardup /
# sim_pq_battery oracles, built identically in both engines (literal
# union). Same recipe as queries/dedup_q.py's ADV_DOCS (round 9).
#
# Semantics pinned by the gate:
#   * NULL embedding  — dropped at every ANN boundary (lsh_topk /
#     ivf_topk filter r10; brute-force/PQ paths were already total);
#     semantic_dedup instead emits its pass-through row (NULL cell/
#     rank/cosine, dropped=false) — both mirrored in SQL.
#   * zero-norm vector — cosine 0.0 via the 1e-12 floor in BOTH
#     engines, never NaN/Inf; participates in k-means/PQ training.
#   * exact duplicate pair — cosine 1.0; rank/keep decisions resolve
#     on the id tie-break (9900003 < 9900004), and [semdedup] must
#     drop exactly the higher id.
# Components are 0.25-multiples: exactly representable in float32 and
# in SQL literals, so no cross-engine parse drift.
# ---------------------------------------------------------------------------

_ADV_PAT = [float((i % 7 - 3)) * 0.25 for i in range(DIM)]
ADV_VECS = [
    (9_900_001, None),
    (9_900_002, [0.0] * DIM),
    (9_900_003, list(_ADV_PAT)),
    (9_900_004, list(_ADV_PAT)),
]


def _adv_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # literal_rows_df, not createDataFrame: this union appears 2-4×
    # per ANN plan, and a Python-RDD-backed adversarial table was
    # re-evaluated through a Python worker on every execution of each
    # subtree (r10 bench: sim_ivf_topk spent more blocked time on
    # these scans than on its actual compute)
    adv = literal_rows_df(
        spark, ADV_VECS, "vec_id long, embedding array<float>"
    )
    return base.unionByName(adv)


def _vec_sql(v: list[float]) -> str:
    return "CAST([" + ", ".join(repr(float(x)) for x in v) + "] AS FLOAT[])"


ADV_EMB_SQL = (
    "(SELECT vec_id, embedding FROM embeddings UNION ALL "
    "SELECT vec_id, embedding FROM (VALUES "
    "(CAST(9900001 AS BIGINT), CAST(NULL AS FLOAT[])), "
    f"(9900002, {_vec_sql([0.0] * DIM)}), "
    f"(9900003, {_vec_sql(_ADV_PAT)}), "
    f"(9900004, {_vec_sql(_ADV_PAT)})"
    ") t(vec_id, embedding))"
)


def _with_adv(sql: str) -> str:
    """Swap every ``FROM embeddings`` scan for the base∪adversarial
    source (NULL rows kept — for oracles that pin pass-through
    semantics). str.replace never re-scans replaced text, so the
    'FROM embeddings' inside ADV_EMB_SQL itself is safe."""
    return sql.replace("FROM embeddings", f"FROM {ADV_EMB_SQL} embeddings")


def _with_adv_nonnull(sql: str) -> str:
    """Adversarial source for the ANN top-k oracles: NULL embeddings
    dropped at the boundary, mirroring lsh_topk/ivf_topk/brute-force/
    PQ operator semantics (a NULL vector cannot probe or be probed;
    its NULL cosine has engine-specific rank placement)."""
    src = (
        f"(SELECT vec_id, embedding FROM {ADV_EMB_SQL} e "
        "WHERE embedding IS NOT NULL)"
    )
    return sql.replace("FROM embeddings", f"FROM {src} embeddings")


_BF_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               round({COS_SQL.format(a="qv", b="cv")}, 5) AS cosine
        FROM q CROSS JOIN c
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Routed through the Arrow/BLAS path (the scale formulation: no
    # pair materialization, per-batch matmul + local top-k) since its
    # HALF_UP rounding matches F.round — verified bit-identical to the
    # expression path at sf0.01 AND sf0.1 against this oracle. The
    # expression path remains the zero-Python baseline
    # (tests/test_similarity_arrow.py pins their equivalence).
    e = _adv_embeddings(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    # fan_out measured and rejected here (r10): spreading the
    # mapInPandas BLAS scorer over 33 tasks doubled steady time
    # (0.30 -> 0.55 s) — per-task Python/Arrow overhead is ~15 ms even
    # with warm workers, far above the ~4 ms of matmul each task
    # would get at sf0.1. At scale the corpus scan has many splits
    # and the scorer parallelizes without an added exchange.
    out = sim.brute_force_topk_arrow(e, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


def _planes_sql_list(p: int) -> str:
    plane = sim.hyperplanes(N_PLANES, DIM)[p]
    return "[" + ", ".join(repr(x) for x in plane) + "]"


_LSH_ORACLE = f"""
    WITH b AS (
        SELECT vec_id,
               {" || ".join(
                   "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
                   + _planes_sql_list(p)
                   + ") >= 0 THEN '1' ELSE '0' END)"
                   for p in range(N_PLANES)
               )} AS bucket,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({COS_SQL.format(a="a.v", b="c.v")}, 5) AS cosine
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _adv_embeddings(spark, sf_dir)
    out = sim.lsh_topk(e, k=3, num_planes=N_PLANES, dim=DIM)
    return out.withColumn("rank", F.col("rank").cast("int"))


_IVF_CELLS = 16
_IVF_PROBE = 4
_KMEANS_ITERS = 2


def _ivf_centroids(
    e: DataFrame, sf_dir: str, sample_n: int = 1 << 18
) -> DataFrame:
    """The IVF coarse quantizer over ``_adv_embeddings(sf_dir)``, shared
    by the ivf, semdedup and PQ legs through the trainer cache (one
    model per ``sample_n``)."""
    return sim.kmeans_centroids_local(
        e,
        n_cells=_IVF_CELLS,
        iters=_KMEANS_ITERS,
        sample_n=sample_n,
        cache_key=f"adv1|{sf_dir}",
    )


def _kmeans_oracle() -> str:
    """Generate the DuckDB twin of kmeans_centroids_local + ivf_topk:
    the same fixed seed, the same ``_KMEANS_ITERS`` Lloyd rounds with
    fixed-point per-dimension means, the same rounded-cosine argmax
    with cell-id tie-break."""
    from vbb_data_pipeline_spark.operators.similarity import KMEANS_SCALE

    def assign_cte(name: str, cent: str) -> str:
        return f"""
    {name}_scored AS (
        SELECT e.vec_id, c.cell_id, e.v,
               round({COS_SQL.format(a="e.v", b="c.mv")}, 5) AS cos
        FROM corpus e CROSS JOIN {cent} c
    ),
    {name} AS (
        SELECT vec_id, cell_id, v FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell_id ASC
            ) AS rn FROM {name}_scored
        ) WHERE rn = 1
    )"""

    def means_cte(name: str, assigned: str) -> str:
        comps = ", ".join(
            f"(CAST(sum(CAST(round(v[{i + 1}] * {KMEANS_SCALE}) AS BIGINT)) "
            f"AS DOUBLE) / {KMEANS_SCALE}.0) / count(*)"
            for i in range(DIM)
        )
        return f"""
    {name} AS (
        SELECT cell_id, [{comps}] AS mv FROM {assigned} GROUP BY cell_id
    )"""

    iter_ctes = []
    cent = "cent0"
    for it in range(_KMEANS_ITERS):
        iter_ctes.append(assign_cte(f"a{it}", cent))
        cent = f"cent{it + 1}"
        iter_ctes.append(means_cte(cent, f"a{it}"))

    return f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent0 AS (
        SELECT CAST(vec_id AS BIGINT) AS cell_id, v AS mv
        FROM corpus WHERE vec_id < {_IVF_CELLS}
    ),{",".join(iter_ctes)},{assign_cte("assigned", cent)},
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10
    ),
    pscore AS (
        SELECT q.query_id, q.qv, c.cell_id,
               round({COS_SQL.format(a="q.qv", b="c.mv")}, 5) AS cos
        FROM q CROSS JOIN {cent} c
    ),
    probes AS (
        SELECT query_id, qv, cell_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, cell_id ASC
            ) AS rn FROM pscore
        ) WHERE rn <= {_IVF_PROBE}
    ),
    final_scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round({COS_SQL.format(a="p.qv", b="a.v")}, 5) AS cosine
        FROM probes p JOIN assigned a ON p.cell_id = a.cell_id
        WHERE p.query_id <> a.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank FROM final_scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbb_data_pipeline_spark.functions.hashing import default_hash_mode

    e = _adv_embeddings(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    # FAISS-style split: coarse quantizer trained on a driver-side
    # sample; assignment + probing stay distributed. Sample size is
    # mode-switched like the hash path (functions/hashing.
    # default_hash_mode): oracle mode (the driver's CORRECTNESS run)
    # keeps the sample covering the whole corpus so the DuckDB
    # full-corpus training replay is bit-identical; fast mode
    # (SPARK_GRAFT_FAST_HASH=1 — tools/bench_scale.py, production
    # posture) bounds it at 32 vectors/cell, the FAISS training-budget
    # guidance — the deliberately-unbounded interpreted trainer was
    # the single largest first-run cost in the bench (r6 diag: 20.4 s
    # wall vs 1.4 s executor CPU).
    fast = default_hash_mode() == "fast"
    sample_n = max(512, 32 * _IVF_CELLS) if fast else 1 << 18
    centroids = _ivf_centroids(e, sf_dir, sample_n)
    out = sim.ivf_topk(
        e,
        queries,
        k=5,
        n_cells=_IVF_CELLS,
        nprobe=_IVF_PROBE,
        dim=DIM,
        centroids=centroids,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "sim_ann_battery",
    oracle=tag_union_sql(
        [
            ("bruteforce", _with_adv_nonnull(_BF_ORACLE)),
            ("lsh", _with_adv_nonnull(_LSH_ORACLE)),
            ("ivf", _with_adv_nonnull(_kmeans_oracle())),
        ]
    ),
    survey="extension: ANN family battery (folded r5 so each variant "
    "keeps a driver CORRECTNESS row) — [bruteforce] exact top-k "
    "cosine baseline via the Arrow/BLAS pair-free matmul path (query "
    "side broadcast, corpus never replicated); [lsh] top-k via LSH "
    "bucket join + exact cosine re-rank (bucket equi-join replaces "
    "the cross join at scale); [ivf] TRAINED-centroid IVF — "
    "deterministic Lloyd k-means ({} rounds, lowest-id seeding, "
    "fixed-point means: operators/similarity.kmeans_centroids_local), "
    "broadcast-centroid cell assignment, nprobe cell pruning, exact "
    "re-rank inside probed cells; the inverted-list partitioning is "
    "the 100 TB layout (corpus bucketed by cell_id, probes touch "
    "nprobe/n_cells of it)".format(_KMEANS_ITERS),
    note="fixed-point integer means make every centroid component "
    "bit-identical across engines; the ivf leg's oracle replays the "
    "identical training loop as chained CTEs",
)
def sim_ann_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tag_union(
        [
            ("bruteforce", sim_bruteforce_topk(spark, sf_dir)),
            ("lsh", sim_lsh_topk(spark, sf_dir)),
            ("ivf", sim_ivf_topk(spark, sf_dir)),
        ]
    )


_NEARDUP_ORACLE = f"""
    WITH b AS (
        SELECT vec_id,
               {" || ".join(
                   "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
                   + _planes_sql_list(p)
                   + ") >= 0 THEN '1' ELSE '0' END)"
                   for p in range(N_PLANES)
               )} AS bucket,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    )
    SELECT a.vec_id AS id, c.vec_id AS k1,
           round({COS_SQL.format(a="a.v", b="c.v")}, 5) AS cosine,
           CAST(NULL AS BIGINT) AS rnk, CAST(NULL AS BIGINT) AS dropped
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {COS_SQL.format(a="a.v", b="c.v")} > 0.35
    """


_SD_THRESHOLD = 0.35


def _semdedup_oracle() -> str:
    """DuckDB twin of operators/similarity.semantic_dedup over the
    same kmeans_centroids_local model as the ivf leg: identical Lloyd
    training CTEs (fixed-point means, rounded-cosine argmax), then the
    keep-priority window (centroid-cosine ASC, id ASC) and the
    upper-triangular within-cell max of rounded pair cosines."""
    from vbb_data_pipeline_spark.operators.similarity import KMEANS_SCALE

    def assign_cte(name: str, cent: str, keep_cos: bool = False) -> str:
        extra = ", cos AS ccos" if keep_cos else ""
        return f"""
    {name}_scored AS (
        SELECT e.vec_id, c.cell_id, e.v,
               round({COS_SQL.format(a="e.v", b="c.mv")}, 5) AS cos
        FROM corpus e CROSS JOIN {cent} c
    ),
    {name} AS (
        SELECT vec_id, cell_id, v{extra} FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell_id ASC
            ) AS rn FROM {name}_scored
        ) WHERE rn = 1
    )"""

    def means_cte(name: str, assigned: str) -> str:
        comps = ", ".join(
            f"(CAST(sum(CAST(round(v[{i + 1}] * {KMEANS_SCALE}) AS BIGINT)) "
            f"AS DOUBLE) / {KMEANS_SCALE}.0) / count(*)"
            for i in range(DIM)
        )
        return f"""
    {name} AS (
        SELECT cell_id, [{comps}] AS mv FROM {assigned} GROUP BY cell_id
    )"""

    iter_ctes = []
    cent = "cent0"
    for it in range(_KMEANS_ITERS):
        iter_ctes.append(assign_cte(f"a{it}", cent))
        cent = f"cent{it + 1}"
        iter_ctes.append(means_cte(cent, f"a{it}"))

    return f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE embedding IS NOT NULL
    ),
    cent0 AS (
        SELECT CAST(vec_id AS BIGINT) AS cell_id, v AS mv
        FROM corpus WHERE vec_id < {_IVF_CELLS}
    ),{",".join(iter_ctes)},{assign_cte("assigned", cent, keep_cos=True)},
    ranked AS (
        SELECT vec_id, cell_id, v,
               row_number() OVER (
                   PARTITION BY cell_id ORDER BY ccos ASC, vec_id ASC
               ) AS rnk
        FROM assigned
    ),
    best AS (
        SELECT a.vec_id,
               max(round({COS_SQL.format(a="a.v", b="b.v")}, 5))
                   AS max_cos_better
        FROM ranked a JOIN ranked b
          ON a.cell_id = b.cell_id AND b.rnk < a.rnk
        GROUP BY a.vec_id
    )
    SELECT r.vec_id AS id, r.cell_id AS k1,
           b.max_cos_better AS cosine, CAST(r.rnk AS BIGINT) AS rnk,
           CAST(coalesce(b.max_cos_better, -2.0) >= {_SD_THRESHOLD}
                AS BIGINT) AS dropped
    FROM ranked r LEFT JOIN best b USING (vec_id)
    UNION ALL
    -- semantic_dedup's NULL-vector pass-through contract: one row per
    -- input doc even when it cannot be assigned or paired (NULL cell/
    -- rank/cosine, dropped=false) — pinned by the adversarial NULL row
    SELECT vec_id AS id, CAST(NULL AS BIGINT) AS k1,
           CAST(NULL AS DOUBLE) AS cosine, CAST(NULL AS BIGINT) AS rnk,
           CAST(0 AS BIGINT) AS dropped
    FROM embeddings WHERE embedding IS NULL
    """


def sim_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _adv_embeddings(spark, sf_dir)
    return sim.embedding_neardup_pairs(
        e, dim=DIM, num_planes=N_PLANES, threshold=0.35
    )


def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _adv_embeddings(spark, sf_dir)
    centroids = _ivf_centroids(e, sf_dir)
    # pinned constants (n_cells=16 quantizer, expression assignment)
    # for bit-for-bit DuckDB replay — the ORACLE configuration only.
    # The operator's production default (centroids=None) trains cells
    # ∝ corpus on the BLAS path, the measured 2-3x/decade recipe.
    return sim.semantic_dedup(
        e, centroids, threshold=_SD_THRESHOLD, assign="expr"
    )


@register(
    "sim_embedding_neardup",
    oracle=tag_union_sql(
        [
            ("lsh_pairs", _with_adv_nonnull(_NEARDUP_ORACLE)),
            ("semdedup", _with_adv(_semdedup_oracle())),
        ],
        tag="method",
    ),
    survey="extension: semantic dedup family (folded r5 so both legs "
    "keep a driver CORRECTNESS row) — [lsh_pairs] embedding-cosine "
    "near-duplicate pairs, LSH blocked (bucket equi-join, never a "
    "cross join; threshold 0.35); [semdedup] SemDeDup (Abbas et al. "
    "2023): k-means cells as the candidate blocks (same deterministic "
    "trainer+cache as the ivf leg — train once, reuse; in fast hash "
    "mode the ivf leg samples fewer vectors and trains its own), "
    "keep-priority = LOW centroid cosine (the paper's "
    "keep-the-atypical policy), "
    "drop when the upper-triangular within-cell max cosine to a "
    "better-ranked doc >= threshold; cells, not buckets, bound the "
    "quadratic stage — n_cells is the 100 TB lever (110k cells in "
    "the paper's LAION run)",
    note="semdedup emits one auditable row per doc (id, cell, rank, "
    "max cosine to better-ranked, dropped); lsh leg reuses the "
    "proven pair construction",
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_l = F.lit(None).cast("long")
    pairs = sim_embedding_neardup_pairs(spark, sf_dir).select(
        F.lit("lsh_pairs").alias("method"),
        F.col("id_a").alias("id"),
        F.col("id_b").alias("k1"),
        F.col("cosine"),
        null_l.alias("rnk"),
        null_l.alias("dropped"),
    )
    sd = sim_semantic_dedup(spark, sf_dir).select(
        F.lit("semdedup").alias("method"),
        F.col("vec_id").alias("id"),
        F.col("cell_id").alias("k1"),
        F.col("max_cos_better").alias("cosine"),
        F.col("rnk").cast("long").alias("rnk"),
        F.col("dropped").cast("long").alias("dropped"),
    )
    return pairs.unionByName(sd)


_PQ_M = 8          # subspaces (dim 64 -> 8-wide blocks)
_PQ_CODES = 16     # codewords per subspace
_PQ_ITERS = 2
_PQ_CAND = 20      # ADC candidates per query before exact re-rank
_PQ_SAMPLE = 4096  # driver-side training sample bound


def _pq_codebooks(e: DataFrame, sf_dir: str) -> DataFrame:
    """PQ codebooks over ``_adv_embeddings(sf_dir)``, shared by the pq
    and ivfpq legs through the trainer cache."""
    return sim.pq_train_local(
        e,
        n_subspaces=_PQ_M,
        n_codes=_PQ_CODES,
        iters=_PQ_ITERS,
        dim=DIM,
        sample_n=_PQ_SAMPLE,
        cache_key=f"adv1|{sf_dir}",
    )


def _residual_codebooks(e: DataFrame, sf_dir: str) -> DataFrame:
    """PQ codebooks on residuals against :func:`_ivf_centroids` (the
    cache key names the corpus; the centroids derive from it)."""
    return sim.pq_train_residual_local(
        e,
        _ivf_centroids(e, sf_dir),
        n_subspaces=_PQ_M,
        n_codes=_PQ_CODES,
        iters=_PQ_ITERS,
        dim=DIM,
        sample_n=_PQ_SAMPLE,
        cache_key=f"adv1|{sf_dir}",
    )


def _pq_oracle() -> str:
    """DuckDB twin of pq_train_local + pq_encode + pq_topk: the same
    per-subspace Lloyd rounds (squared-L2 as ``(x·x − 2·x·c) + c·c``,
    rounded HALF_UP, tie → smallest code; fixed-point means), the same
    fixed-point ADC lookup-table scoring, the same candidate cut and
    exact re-rank. Valid while the corpus fits the Spark side's
    training sample bound (it does at every gate scale), making the
    full-corpus SQL replay bit-identical to the sampled trainer."""
    from vbb_data_pipeline_spark.operators.similarity import KMEANS_SCALE

    sub = DIM // _PQ_M
    d2 = (
        "round((list_dot_product({x}, {x}) - 2*list_dot_product({x}, {c}))"
        " + list_dot_product({c}, {c}), 5)"
    )

    def assign_cte(name: str, cent: str) -> str:
        return f"""
    {name}_scored AS (
        SELECT s.vec_id, s.m, s.sv, c.code,
               {d2.format(x="s.sv", c="c.cv")} AS d2
        FROM cs s JOIN {cent} c ON s.m = c.m
    ),
    {name} AS (
        SELECT vec_id, m, sv, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC
            ) AS rn FROM {name}_scored
        ) WHERE rn = 1
    )"""

    def means_cte(name: str, assigned: str) -> str:
        comps = ", ".join(
            f"(CAST(sum(CAST(round(sv[{i + 1}] * {KMEANS_SCALE}) AS BIGINT)) "
            f"AS DOUBLE) / {KMEANS_SCALE}.0) / count(*)"
            for i in range(sub)
        )
        return f"""
    {name} AS (
        SELECT m, code, [{comps}] AS cv FROM {assigned} GROUP BY m, code
    )"""

    iter_ctes = []
    cent = "pcent0"
    for it in range(_PQ_ITERS):
        iter_ctes.append(assign_cte(f"pa{it}", cent))
        cent = f"pcent{it + 1}"
        iter_ctes.append(means_cte(cent, f"pa{it}"))

    return f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
    cs AS (
        SELECT vec_id, m,
               list_slice(v, m*{sub} + 1, (m+1)*{sub}) AS sv
        FROM corpus CROSS JOIN sub
    ),
    pcent0 AS (
        SELECT m, CAST(vec_id AS BIGINT) AS code, sv AS cv
        FROM cs WHERE vec_id < {_PQ_CODES}
    ),{",".join(iter_ctes)},{assign_cte("encode", cent)},
    q AS (
        SELECT vec_id AS query_id, v AS qv,
               sqrt(list_dot_product(v, v)) AS qn
        FROM corpus WHERE vec_id < 10
    ),
    qs AS (
        SELECT query_id, qn, m,
               list_slice(qv, m*{sub} + 1, (m+1)*{sub}) AS qsv
        FROM q CROSS JOIN sub
    ),
    lut AS (
        SELECT query_id, qn, c.m, c.code,
               CAST(round(list_dot_product(qsv, c.cv) * {KMEANS_SCALE})
                    AS BIGINT) AS pd,
               CAST(round(list_dot_product(c.cv, c.cv) * {KMEANS_SCALE})
                    AS BIGINT) AS cn2
        FROM qs JOIN {cent} c ON qs.m = c.m
    ),
    adc AS (
        SELECT l.query_id, e.vec_id,
               CAST(sum(l.pd) AS BIGINT) AS sd,
               CAST(sum(l.cn2) AS BIGINT) AS sn2,
               max(l.qn) AS qn
        FROM encode e JOIN lut l ON e.m = l.m AND e.code = l.code
        GROUP BY l.query_id, e.vec_id
    ),
    cand AS (
        SELECT query_id, vec_id AS neighbor_id,
               round((CAST(sd AS DOUBLE) / {KMEANS_SCALE}.0)
                     / greatest(qn * sqrt(CAST(sn2 AS DOUBLE)
                                          / {KMEANS_SCALE}.0), 1e-12),
                     5) AS approx_cosine
        FROM adc WHERE query_id <> vec_id
    ),
    candk AS (
        SELECT query_id, neighbor_id, approx_cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY approx_cosine DESC, neighbor_id ASC
            ) AS rn FROM cand
        ) WHERE rn <= {_PQ_CAND}
    ),
    rer AS (
        SELECT ck.query_id, ck.neighbor_id, ck.approx_cosine,
               round({COS_SQL.format(a="q.qv", b="c.v")}, 5) AS cosine
        FROM candk ck
        JOIN q ON q.query_id = ck.query_id
        JOIN corpus c ON c.vec_id = ck.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank FROM rer
    )
    SELECT query_id, neighbor_id, cosine, approx_cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _adv_embeddings(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    cb = _pq_codebooks(e, sf_dir)
    out = sim.pq_topk(
        e,
        queries,
        k=5,
        n_subspaces=_PQ_M,
        n_codes=_PQ_CODES,
        iters=_PQ_ITERS,
        dim=DIM,
        candidates=_PQ_CAND,
        codebooks=cb,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _ivfpq_oracle() -> str:
    """DuckDB twin of ivf_pq_topk: replays BOTH trainings (the IVF
    coarse k-means and the per-subspace PQ codebooks), the cell
    assignment, the nprobe probe cut, the fixed-point ADC over probed
    cells only, and the exact re-rank — all as one chained-CTE query,
    bit-identical to the Spark pipeline."""
    from vbb_data_pipeline_spark.operators.similarity import KMEANS_SCALE

    # --- IVF coarse k-means (same construction as _kmeans_oracle) ---
    def km_assign(name: str, cent: str, keep_v: bool) -> str:
        cols = "vec_id, cell_id" + (", v" if keep_v else "")
        return f"""
    {name}_scored AS (
        SELECT e.vec_id, c.cell_id, e.v,
               round({COS_SQL.format(a="e.v", b="c.mv")}, 5) AS cos
        FROM corpus e CROSS JOIN {cent} c
    ),
    {name} AS (
        SELECT {cols} FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell_id ASC
            ) AS rn FROM {name}_scored
        ) WHERE rn = 1
    )"""

    def km_means(name: str, assigned: str) -> str:
        comps = ", ".join(
            f"(CAST(sum(CAST(round(v[{i + 1}] * {KMEANS_SCALE}) AS BIGINT)) "
            f"AS DOUBLE) / {KMEANS_SCALE}.0) / count(*)"
            for i in range(DIM)
        )
        return f"""
    {name} AS (
        SELECT cell_id, [{comps}] AS mv FROM {assigned} GROUP BY cell_id
    )"""

    km_ctes = []
    cent = "cent0"
    for it in range(_KMEANS_ITERS):
        km_ctes.append(km_assign(f"a{it}", cent, keep_v=True))
        cent = f"cent{it + 1}"
        km_ctes.append(km_means(cent, f"a{it}"))
    km_ctes.append(km_assign("assigned", cent, keep_v=False))

    # --- PQ codebooks (same construction as _pq_oracle) ---
    subd = DIM // _PQ_M
    d2 = (
        "round((list_dot_product({x}, {x}) - 2*list_dot_product({x}, {c}))"
        " + list_dot_product({c}, {c}), 5)"
    )

    def pq_assign(name: str, pcent: str) -> str:
        return f"""
    {name}_scored AS (
        SELECT s.vec_id, s.m, s.sv, c.code,
               {d2.format(x="s.sv", c="c.cv")} AS d2
        FROM cs s JOIN {pcent} c ON s.m = c.m
    ),
    {name} AS (
        SELECT vec_id, m, sv, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC
            ) AS rn FROM {name}_scored
        ) WHERE rn = 1
    )"""

    def pq_means(name: str, assigned: str) -> str:
        comps = ", ".join(
            f"(CAST(sum(CAST(round(sv[{i + 1}] * {KMEANS_SCALE}) AS BIGINT)) "
            f"AS DOUBLE) / {KMEANS_SCALE}.0) / count(*)"
            for i in range(subd)
        )
        return f"""
    {name} AS (
        SELECT m, code, [{comps}] AS cv FROM {assigned} GROUP BY m, code
    )"""

    pq_ctes = []
    pcent = "pcent0"
    for it in range(_PQ_ITERS):
        pq_ctes.append(pq_assign(f"pa{it}", pcent))
        pcent = f"pcent{it + 1}"
        pq_ctes.append(pq_means(pcent, f"pa{it}"))
    pq_ctes.append(pq_assign("encode", pcent))

    return f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent0 AS (
        SELECT CAST(vec_id AS BIGINT) AS cell_id, v AS mv
        FROM corpus WHERE vec_id < {_IVF_CELLS}
    ),{",".join(km_ctes)},
    sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
    cs AS (
        SELECT vec_id, m,
               list_slice(v, m*{subd} + 1, (m+1)*{subd}) AS sv
        FROM corpus CROSS JOIN sub
    ),
    pcent0 AS (
        SELECT m, CAST(vec_id AS BIGINT) AS code, sv AS cv
        FROM cs WHERE vec_id < {_PQ_CODES}
    ),{",".join(pq_ctes)},
    q AS (
        SELECT vec_id AS query_id, v AS qv,
               sqrt(list_dot_product(v, v)) AS qn
        FROM corpus WHERE vec_id < 10
    ),
    pscore AS (
        SELECT q.query_id, c.cell_id,
               round({COS_SQL.format(a="q.qv", b="c.mv")}, 5) AS cos
        FROM q CROSS JOIN {cent} c
    ),
    probes AS (
        SELECT query_id, cell_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, cell_id ASC
            ) AS rn FROM pscore
        ) WHERE rn <= {_IVF_PROBE}
    ),
    probed AS (
        SELECT p.query_id, a.vec_id
        FROM probes p JOIN assigned a ON p.cell_id = a.cell_id
        WHERE p.query_id <> a.vec_id
    ),
    qs AS (
        SELECT query_id, qn, m,
               list_slice(qv, m*{subd} + 1, (m+1)*{subd}) AS qsv
        FROM q CROSS JOIN sub
    ),
    lut AS (
        SELECT query_id, qn, c.m, c.code,
               CAST(round(list_dot_product(qsv, c.cv) * {KMEANS_SCALE})
                    AS BIGINT) AS pd,
               CAST(round(list_dot_product(c.cv, c.cv) * {KMEANS_SCALE})
                    AS BIGINT) AS cn2
        FROM qs JOIN {pcent} c ON qs.m = c.m
    ),
    adc AS (
        SELECT pr.query_id, pr.vec_id,
               CAST(sum(l.pd) AS BIGINT) AS sd,
               CAST(sum(l.cn2) AS BIGINT) AS sn2,
               max(l.qn) AS qn
        FROM probed pr
        JOIN encode e ON e.vec_id = pr.vec_id
        JOIN lut l ON l.query_id = pr.query_id
                   AND l.m = e.m AND l.code = e.code
        GROUP BY pr.query_id, pr.vec_id
    ),
    cand AS (
        SELECT query_id, vec_id AS neighbor_id,
               round((CAST(sd AS DOUBLE) / {KMEANS_SCALE}.0)
                     / greatest(qn * sqrt(CAST(sn2 AS DOUBLE)
                                          / {KMEANS_SCALE}.0), 1e-12),
                     5) AS approx_cosine
        FROM adc
    ),
    candk AS (
        SELECT query_id, neighbor_id, approx_cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY approx_cosine DESC, neighbor_id ASC
            ) AS rn FROM cand
        ) WHERE rn <= {_PQ_CAND}
    ),
    rer AS (
        SELECT ck.query_id, ck.neighbor_id, ck.approx_cosine,
               round({COS_SQL.format(a="q.qv", b="c.v")}, 5) AS cosine
        FROM candk ck
        JOIN q ON q.query_id = ck.query_id
        JOIN corpus c ON c.vec_id = ck.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank FROM rer
    )
    SELECT query_id, neighbor_id, cosine, approx_cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _adv_embeddings(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    centroids = _ivf_centroids(e, sf_dir)
    cb = _pq_codebooks(e, sf_dir)
    out = sim.ivf_pq_topk(
        e,
        queries,
        k=5,
        n_cells=_IVF_CELLS,
        nprobe=_IVF_PROBE,
        n_subspaces=_PQ_M,
        n_codes=_PQ_CODES,
        iters=_PQ_ITERS,
        dim=DIM,
        candidates=_PQ_CAND,
        centroids=centroids,
        codebooks=cb,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _ivfpq_res_oracle() -> str:
    """DuckDB twin of ivf_pq_residual_topk: IVF training, assignment,
    residual computation (elementwise subtraction), residual-PQ
    training, probes, the four-LUT fixed-point ADC (q·c, q·r̃, the
    c·r̃ cross term, |r̃|²) and exact re-rank — one chained-CTE query,
    bit-identical including the negative-norm clamp."""
    from vbb_data_pipeline_spark.operators.similarity import KMEANS_SCALE

    def km_assign(name: str, cent: str, keep_v: bool) -> str:
        cols = "vec_id, cell_id" + (", v" if keep_v else "")
        return f"""
    {name}_scored AS (
        SELECT e.vec_id, c.cell_id, e.v,
               round({COS_SQL.format(a="e.v", b="c.mv")}, 5) AS cos
        FROM corpus e CROSS JOIN {cent} c
    ),
    {name} AS (
        SELECT {cols} FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell_id ASC
            ) AS rn FROM {name}_scored
        ) WHERE rn = 1
    )"""

    def km_means(name: str, assigned: str) -> str:
        comps = ", ".join(
            f"(CAST(sum(CAST(round(v[{i + 1}] * {KMEANS_SCALE}) AS BIGINT)) "
            f"AS DOUBLE) / {KMEANS_SCALE}.0) / count(*)"
            for i in range(DIM)
        )
        return f"""
    {name} AS (
        SELECT cell_id, [{comps}] AS mv FROM {assigned} GROUP BY cell_id
    )"""

    km_ctes = []
    cent = "cent0"
    for it in range(_KMEANS_ITERS):
        km_ctes.append(km_assign(f"a{it}", cent, keep_v=True))
        cent = f"cent{it + 1}"
        km_ctes.append(km_means(cent, f"a{it}"))
    km_ctes.append(km_assign("assigned", cent, keep_v=True))

    subd = DIM // _PQ_M
    d2 = (
        "round((list_dot_product({x}, {x}) - 2*list_dot_product({x}, {c}))"
        " + list_dot_product({c}, {c}), 5)"
    )

    def pq_assign(name: str, pcent: str) -> str:
        return f"""
    {name}_scored AS (
        SELECT s.vec_id, s.m, s.sv, c.code,
               {d2.format(x="s.sv", c="c.cv")} AS d2
        FROM cs s JOIN {pcent} c ON s.m = c.m
    ),
    {name} AS (
        SELECT vec_id, m, sv, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC
            ) AS rn FROM {name}_scored
        ) WHERE rn = 1
    )"""

    def pq_means(name: str, assigned: str) -> str:
        comps = ", ".join(
            f"(CAST(sum(CAST(round(sv[{i + 1}] * {KMEANS_SCALE}) AS BIGINT)) "
            f"AS DOUBLE) / {KMEANS_SCALE}.0) / count(*)"
            for i in range(subd)
        )
        return f"""
    {name} AS (
        SELECT m, code, [{comps}] AS cv FROM {assigned} GROUP BY m, code
    )"""

    pq_ctes = []
    pcent = "pcent0"
    for it in range(_PQ_ITERS):
        pq_ctes.append(pq_assign(f"pa{it}", pcent))
        pcent = f"pcent{it + 1}"
        pq_ctes.append(pq_means(pcent, f"pa{it}"))
    pq_ctes.append(pq_assign("encode", pcent))

    sc = f"{KMEANS_SCALE}"
    return f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent0 AS (
        SELECT CAST(vec_id AS BIGINT) AS cell_id, v AS mv
        FROM corpus WHERE vec_id < {_IVF_CELLS}
    ),{",".join(km_ctes)},
    res AS (
        SELECT a.vec_id, a.cell_id,
               list_transform(range(1, {DIM} + 1),
                              i -> a.v[i] - c.mv[i]) AS rv
        FROM assigned a JOIN {cent} c ON a.cell_id = c.cell_id
    ),
    sub AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
    cs AS (
        SELECT vec_id, m,
               list_slice(rv, m*{subd} + 1, (m+1)*{subd}) AS sv
        FROM res CROSS JOIN sub
    ),
    pcent0 AS (
        SELECT m, CAST(vec_id AS BIGINT) AS code, sv AS cv
        FROM cs WHERE vec_id < {_PQ_CODES}
    ),{",".join(pq_ctes)},
    q AS (
        SELECT vec_id AS query_id, v AS qv,
               sqrt(list_dot_product(v, v)) AS qn
        FROM corpus WHERE vec_id < 10
    ),
    pscore AS (
        SELECT q.query_id, c.cell_id,
               round({COS_SQL.format(a="q.qv", b="c.mv")}, 5) AS cos
        FROM q CROSS JOIN {cent} c
    ),
    probes AS (
        SELECT query_id, cell_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, cell_id ASC
            ) AS rn FROM pscore
        ) WHERE rn <= {_IVF_PROBE}
    ),
    qc AS (
        SELECT q.query_id, q.qn, c.cell_id,
               CAST(round(list_dot_product(q.qv, c.mv) * {sc}) AS BIGINT)
                   AS qcf
        FROM q CROSS JOIN {cent} c
    ),
    cc AS (
        SELECT cell_id,
               CAST(round(list_dot_product(mv, mv) * {sc}) AS BIGINT) AS ccf
        FROM {cent}
    ),
    qs AS (
        SELECT query_id, m,
               list_slice(qv, m*{subd} + 1, (m+1)*{subd}) AS qsv
        FROM q CROSS JOIN sub
    ),
    qr AS (
        SELECT query_id, c.m, c.code,
               CAST(round(list_dot_product(qsv, c.cv) * {sc}) AS BIGINT)
                   AS qrf
        FROM qs JOIN {pcent} c ON qs.m = c.m
    ),
    cslice AS (
        SELECT cell_id, m,
               list_slice(mv, m*{subd} + 1, (m+1)*{subd}) AS cmv
        FROM {cent} CROSS JOIN sub
    ),
    cr AS (
        SELECT cs2.cell_id, p.m, p.code,
               CAST(round(list_dot_product(cs2.cmv, p.cv) * {sc}) AS BIGINT)
                   AS crf
        FROM cslice cs2 JOIN {pcent} p ON cs2.m = p.m
    ),
    rr AS (
        SELECT m, code,
               CAST(round(list_dot_product(cv, cv) * {sc}) AS BIGINT) AS rrf
        FROM {pcent}
    ),
    probed AS (
        SELECT p.query_id, a.vec_id, a.cell_id
        FROM probes p JOIN assigned a ON p.cell_id = a.cell_id
        WHERE p.query_id <> a.vec_id
    ),
    sums AS (
        SELECT pr.query_id, pr.vec_id, pr.cell_id,
               CAST(sum(qr.qrf) AS BIGINT) AS sqr,
               CAST(sum(cr.crf) AS BIGINT) AS scr,
               CAST(sum(rr.rrf) AS BIGINT) AS srr
        FROM probed pr
        JOIN encode e ON e.vec_id = pr.vec_id
        JOIN qr ON qr.query_id = pr.query_id
               AND qr.m = e.m AND qr.code = e.code
        JOIN cr ON cr.cell_id = pr.cell_id
               AND cr.m = e.m AND cr.code = e.code
        JOIN rr ON rr.m = e.m AND rr.code = e.code
        GROUP BY pr.query_id, pr.vec_id, pr.cell_id
    ),
    cand AS (
        SELECT s.query_id, s.vec_id AS neighbor_id,
               round((CAST(qc.qcf + s.sqr AS DOUBLE) / {sc}.0)
                     / greatest(qc.qn * sqrt(
                           CAST(greatest(cc.ccf + 2*s.scr + s.srr, 0)
                                AS DOUBLE) / {sc}.0), 1e-12),
                     5) AS approx_cosine
        FROM sums s
        JOIN qc ON qc.query_id = s.query_id AND qc.cell_id = s.cell_id
        JOIN cc ON cc.cell_id = s.cell_id
    ),
    candk AS (
        SELECT query_id, neighbor_id, approx_cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY approx_cosine DESC, neighbor_id ASC
            ) AS rn FROM cand
        ) WHERE rn <= {_PQ_CAND}
    ),
    rer AS (
        SELECT ck.query_id, ck.neighbor_id, ck.approx_cosine,
               round({COS_SQL.format(a="q.qv", b="c.v")}, 5) AS cosine
        FROM candk ck
        JOIN q ON q.query_id = ck.query_id
        JOIN corpus c ON c.vec_id = ck.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank FROM rer
    )
    SELECT query_id, neighbor_id, cosine, approx_cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


def sim_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _adv_embeddings(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    centroids = _ivf_centroids(e, sf_dir)
    cb = _residual_codebooks(e, sf_dir)
    out = sim.ivf_pq_residual_topk(
        e,
        queries,
        k=5,
        n_cells=_IVF_CELLS,
        nprobe=_IVF_PROBE,
        n_subspaces=_PQ_M,
        n_codes=_PQ_CODES,
        iters=_PQ_ITERS,
        dim=DIM,
        candidates=_PQ_CAND,
        centroids=centroids,
        codebooks=cb,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "sim_pq_battery",
    oracle=tag_union_sql(
        [
            ("pq", _with_adv_nonnull(_pq_oracle())),
            ("ivfpq", _with_adv_nonnull(_ivfpq_oracle())),
            ("ivfpq_residual", _with_adv_nonnull(_ivfpq_res_oracle())),
        ]
    ),
    survey="extension: product-quantization ANN family (folded r5 so "
    "each variant keeps a driver CORRECTNESS row) — [pq] flat PQ "
    "(Jégou et al. 2011): per-subspace deterministic k-means "
    "codebooks, M-byte codes per vector, fixed-point ADC "
    "lookup-table scoring over codes only, exact re-rank; [ivfpq] "
    "the FAISS IVFx,PQy layout — IVF cell pruning bounds WHICH "
    "vectors are scored (nprobe/n_cells), PQ codes bound WHAT is "
    "read per vector (M bytes); [ivfpq_residual] PQ codebooks "
    "trained on x − c_cell residuals, ADC decomposed into four "
    "broadcast fixed-point LUTs including the c·r̃ cross term; the "
    "compression layers that make billion-vector search storage- "
    "and scan-tractable at 100 TB",
    note="training, encoding, ADC and re-rank all follow the "
    "fixed-point / HALF_UP / smallest-id-tie recipe, so each leg's "
    "oracle replays its ENTIRE pipeline (including codebook "
    "training) as chained CTEs, bit-identically",
)
def sim_pq_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rung sharing (guide §2.4, r10 verdict item 2): the three rungs
    # re-derived full-corpus frames the battery plan can materialize
    # ONCE and serve to every consumer through Spark's runtime
    # exchange reuse —
    #   * codes: pq + ivfpq quantize the corpus against the SAME
    #     codebooks (shared trainer cache), so one Arrow/BLAS encode
    #     pass + an explicit repartition("vec_id") replaces two encode
    #     passes; the exchange moves the skinny (id, subspace, code)
    #     rows (M bytes/vector), never the vectors.
    #   * assigned: ivfpq + ivfpq_residual assign the corpus to the
    #     SAME trained cells; ivf_assign's own argmax exchange is the
    #     shared materialization point (the residual rung reads it
    #     twice more: residual encode + probe scan).
    # Reuse preconditions (probed empirically, r11): every consumer
    # must reference the same DataFrame object AND see an identical
    # pre-exchange subtree — the explicit isnotnull pre-filters below
    # are semantic no-ops (encode drops NULL vectors itself; every
    # output path inner-joins on vec_id) that stop downstream joins
    # from pushing INFERRED isnotnull filters below the exchange in
    # some branches only, which would defeat the reuse.
    # Per-rung parity: each rung's inputs (corpus, queries, trainers,
    # constants) are exactly what its standalone leg passes, so each
    # leg's full-pipeline DuckDB oracle replay stays bit-identical
    # (re-verified green at sf0.01/sf0.001 after this change).
    e = _adv_embeddings(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10)
    centroids = _ivf_centroids(e, sf_dir)
    cb = _pq_codebooks(e, sf_dir)
    cb_res = _residual_codebooks(e, sf_dir)
    codes_shared = (
        sim.pq_encode_arrow(e, cb, _PQ_M, DIM)
        .filter(
            F.col("vec_id").isNotNull()
            & F.col("subspace").isNotNull()
            & F.col("code").isNotNull()
        )
        .repartition("vec_id")
    )
    assigned_shared = sim.ivf_assign(
        e.filter(F.col("vec_id").isNotNull()), centroids
    )
    pq = sim.pq_topk(
        e, queries, k=5, n_subspaces=_PQ_M, n_codes=_PQ_CODES,
        iters=_PQ_ITERS, dim=DIM, candidates=_PQ_CAND,
        codebooks=cb, codes=codes_shared,
    ).withColumn("rank", F.col("rank").cast("int"))
    ivfpq = sim.ivf_pq_topk(
        e, queries, k=5, n_cells=_IVF_CELLS, nprobe=_IVF_PROBE,
        n_subspaces=_PQ_M, n_codes=_PQ_CODES, iters=_PQ_ITERS, dim=DIM,
        candidates=_PQ_CAND, centroids=centroids, codebooks=cb,
        codes=codes_shared, assigned=assigned_shared,
    ).withColumn("rank", F.col("rank").cast("int"))
    ivfpq_res = sim.ivf_pq_residual_topk(
        e, queries, k=5, n_cells=_IVF_CELLS, nprobe=_IVF_PROBE,
        n_subspaces=_PQ_M, n_codes=_PQ_CODES, iters=_PQ_ITERS, dim=DIM,
        candidates=_PQ_CAND, centroids=centroids, codebooks=cb_res,
        assigned=assigned_shared,
    ).withColumn("rank", F.col("rank").cast("int"))
    return tag_union(
        [
            ("pq", pq),
            ("ivfpq", ivfpq),
            ("ivfpq_residual", ivfpq_res),
        ]
    )


# ---------------------------------------------------------------------------
# Incremental SemDeDup (operators/similarity.semdedup_incremental) —
# driver-gated end to end with PINNED centroids so the whole probe is
# SQL-replayable (the embedding twin of dedup_incremental_probe)
# ---------------------------------------------------------------------------

_SDI_CELLS = 16
_SDI_THRESHOLD = 0.8
_SDI_COPY_OFF = 1_000_000


def _sdi_assign_cte(name: str, src: str) -> str:
    """argmax-cosine cell assignment against the pinned centroids —
    round(cos, 5) first, smallest cell id on ties (the ivf_assign
    contract)."""
    return f"""
    {name} AS (
        SELECT vec_id, v, cell_id FROM (
            SELECT s.vec_id, s.v, c.cell_id,
                   row_number() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY round({COS_SQL.format(a="s.v", b="c.mv")}, 5)
                                DESC, c.cell_id ASC
                   ) AS rn
            FROM {src} s CROSS JOIN sdi_cents c
        ) WHERE rn = 1
    )"""


def _sdi_oracle() -> str:
    return f"""
    WITH sdi_cents AS (
        SELECT CAST(vec_id AS BIGINT) AS cell_id,
               CAST(embedding AS DOUBLE[]) AS mv
        FROM embeddings WHERE vec_id < {_SDI_CELLS}
    ),
    corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 4 <> 0
    ),
    batch AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 4 = 0
        UNION ALL
        SELECT vec_id + {_SDI_COPY_OFF}, CAST(embedding AS DOUBLE[])
        FROM embeddings WHERE vec_id % 4 = 1
    ),
    {_sdi_assign_cte("cassign", "corpus")},
    {_sdi_assign_cte("bassign", "batch")},
    best AS (
        SELECT vec_id, c, old FROM (
            SELECT b.vec_id,
                   round({COS_SQL.format(a="b.v", b="i.v")}, 5) AS c,
                   i.vec_id AS old,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({COS_SQL.format(a="b.v", b="i.v")}, 5)
                                DESC, i.vec_id ASC
                   ) AS rn
            FROM bassign b JOIN cassign i USING (cell_id)
        ) WHERE rn = 1
    )
    SELECT b.vec_id,
           CASE WHEN best.c >= {_SDI_THRESHOLD} THEN 'near_dup'
                ELSE 'new' END AS status,
           CASE WHEN best.c >= {_SDI_THRESHOLD} THEN best.old
                ELSE CAST(NULL AS BIGINT) END AS dup_of,
           CASE WHEN best.c >= {_SDI_THRESHOLD} THEN best.c
                ELSE CAST(NULL AS DOUBLE) END AS similarity
    FROM batch b LEFT JOIN best ON best.vec_id = b.vec_id
    """


# Folded r7 into dedup_q's ``dedup_incremental_probe`` battery (the
# driver gate checks the first 50 registry entries; this rode past the
# window as entry 38-of-60). The oracle/semantics are unchanged —
# dedup_q wraps this fn + _sdi_oracle() as the 'semdedup' leg.
# centroids PINNED to the first _SDI_CELLS corpus vectors so the
# oracle replays assignment + in-cell argmax-cosine bit-for-bit;
# batch = held-out vectors (mostly 'new') + exact copies of corpus
# vectors at +1M ids (near_dup at cosine 1.0); index at a
# deterministic tmp path, overwrite — idempotent. The pinned 16-cell
# configuration exists ONLY for oracle replay (like
# sim_embedding_neardup's pinned leg); at scale callers pass trained
# cells ∝ corpus — the shape SCALE_ann.json measures.
def semdedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < _SDI_CELLS).select(
        F.col("vec_id").cast("long").alias("cell_id"),
        F.col("embedding"),
    )
    corpus = e.filter(F.col("vec_id") % 4 != 0).select(
        "vec_id", "embedding"
    )
    batch = (
        e.filter(F.col("vec_id") % 4 == 0)
        .select("vec_id", "embedding")
        .unionByName(
            e.filter(F.col("vec_id") % 4 == 1).select(
                (F.col("vec_id") + _SDI_COPY_OFF).alias("vec_id"),
                "embedding",
            )
        )
    )
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    idx = os.path.join(tempfile.gettempdir(), f"vbb_sdi_idx_{key}")
    sim.ivf_write_index(
        corpus, cents, idx,
        # oracle harness: the probe below is cell-exact (no nprobe),
        # so the builder's certify-on-build default would only add an
        # estimator pass per gate/bench run — skipped explicitly
        target_recall=None,
    )
    return sim.semdedup_incremental(
        batch, idx, cents, threshold=_SDI_THRESHOLD
    )
