"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH bucketing (Charikar SimHash for vectors) as the
100 TB path: candidate generation becomes a bucket equi-join instead
of a cross join. IVF, PQ and IVF-PQ operators add cell probes and
compressed codes on top.

Vector math has two forms. Query-time operators use native column
expressions (``zip_with`` + ``aggregate``) over ``array<float>`` cast
to double, so they run JVM-side. The ``*_arrow`` operators (scale
paths: index builds, encode, pair-free brute force) run a numpy matmul
per Arrow batch inside ``mapInPandas`` instead, and round to the same
values by the parity contracts in their docstrings. Hyperplane
components derive deterministically from md5 so the DuckDB oracle can
reproduce them bit-for-bit.

Every ANN query operator runs the same stages, and each stage is one
private helper below: probe cells (:func:`_probe_cells`), build the
ADC lookup table (:func:`_adc_lut`), score candidates approximately
(:func:`_approx_cos`), cut to the best and re-rank them exactly
(:func:`_rerank_top_k`), rank the final top-k (:func:`_rank_top_k`).
"""

from __future__ import annotations

import functools
import hashlib
import inspect
from math import sqrt as math_sqrt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vbb_data_pipeline_spark.functions.literals import literal_rows_df

#: Decimal digits (HALF_UP) every similarity score here is rounded to
#: before it ranks, ties or compares; the DuckDB oracles round the same.
ROUND_DIGITS = 5


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over float or double arrays (double math either way).

    One ``zip_with`` + ``aggregate`` expression: O(1) expression nodes
    regardless of dimensionality. An earlier revision unrolled the sum
    into ``dim`` ``element_at`` terms to stay inside whole-stage
    codegen; that made per-row evaluation faster once compiled but
    cost ~35 s of Catalyst analysis/codegen per fresh invocation at
    dim=64 (every cosine instantiates the tree several times) and
    would grow 10-100× at real embedding dims (768-4096) — the
    plan-construction cost, not the data, dominated a single-shot run.
    The higher-order-function form keeps the plan O(1); its
    interpreted lambda is the right trade until the pairwise stage is
    hot enough to justify an Arrow pandas_udf (the documented scale
    path for corpus×corpus scoring). Summation order (left-to-right)
    and double arithmetic match DuckDB's ``list_dot_product`` on
    ``CAST(x AS DOUBLE[])``, keeping results bit-identical.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _norm_ratio(num: Column, den: Column) -> Column:
    """``num / max(den, 1e-12)``: the zero-norm floor of every cosine
    here (and of the DuckDB oracles)."""
    return num / F.greatest(den, F.lit(1e-12))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays; NULL-safe via greatest(ε).

    For pairwise scoring prefer precomputing per-vector norms BEFORE
    the join (see brute_force_topk) — computing norms inside the pair
    expression redoes O(dim) work per pair instead of per vector."""
    return _norm_ratio(dot(a, b), l2_norm(a) * l2_norm(b))


def _rcos(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of array columns ``a`` and ``b`` from their precomputed
    norms ``na`` and ``nb``, rounded at :data:`ROUND_DIGITS` so ranking
    is stable across engines and summation orders."""
    return F.round(
        _norm_ratio(dot(F.col(a), F.col(b)), F.col(na) * F.col(nb)),
        ROUND_DIGITS,
    )


def _query_vecs(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *lead: str,
    v: str = "_qv",
    n: str = "_qn",
) -> DataFrame:
    """``(*lead, query_id, v, n)``: each query's vector and its norm."""
    return queries.select(
        *lead,
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias(v),
    ).withColumn(n, l2_norm(F.col(v)))


def _neighbor_vecs(
    df: DataFrame, id_col: str, vec_col: str, *lead: str, v: str = "_cv"
) -> DataFrame:
    """``(*lead, neighbor_id, v, _cn)``: each candidate neighbor's
    vector and its norm."""
    return df.select(
        *lead,
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias(v),
    ).withColumn("_cn", l2_norm(F.col(v)))


def _centroid_vecs(centroids: DataFrame, vec_col: str) -> DataFrame:
    """``(cell_id, _mv, _mn)``: each centroid's vector and its norm."""
    return centroids.select(
        F.col("cell_id"),
        F.col(vec_col).alias("_mv"),
    ).withColumn("_mn", l2_norm(F.col("_mv")))


def _lowest_id_centroids(
    embeddings: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """The ``n_cells`` lowest-id vectors as a ``(cell_id, vec_col)``
    table: the deterministic stand-in when no centroids are passed."""
    return embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("long").alias("cell_id"), F.col(vec_col)
    )


def _rank_top_k(scored: DataFrame, k: int, *extra: str) -> DataFrame:
    """Each query's ``k`` best rows by ``(cosine desc, neighbor_id
    asc)`` → ``(query_id, neighbor_id, cosine, *extra, rank)``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            "query_id", "neighbor_id", "cosine", *extra,
            F.col("_rn").alias("rank"),
        )
    )


def _exact_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k over candidate ``pairs`` carrying
    ``(query_id, _qv, _qn, neighbor_id, _cv, _cn)``; no vector is its
    own neighbor."""
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        _rcos("_qv", "_cv", "_qn", "_cn").alias("cosine"),
    )
    return _rank_top_k(scored, k)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Cross join (queries × corpus) — correct at any scale where
    |queries| is small (the corpus side is never replicated; Spark
    broadcasts the query side). For corpus×corpus ANN use
    :func:`hyperplane_lsh_buckets`.

    Cosine is rounded before ranking so ordering is stable across
    engines/summation orders; ties break on neighbor id.
    """
    q = _query_vecs(queries, "vec_id", "embedding")
    c = _neighbor_vecs(embeddings, "vec_id", "embedding")
    # norms are computed once per vector (before the join); the pairwise
    # expression is a single codegen'd dot product + divide
    return _exact_top_k(F.broadcast(q).crossJoin(c), k)


def brute_force_topk_arrow(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors on the Arrow/numpy path — the
    scale formulation of :func:`brute_force_topk`.

    The expression form materializes one row per (query, corpus) pair
    before ranking; correct, but the pair rows exist. This operator
    never materializes pairs: the query set (small by contract — it is
    broadcast either way) is collected to a ``|Q|×dim`` numpy matrix,
    broadcast to executors, and a single ``mapInPandas`` pass over the
    corpus computes each Arrow batch's ``B×|Q|`` score matrix with one
    BLAS matmul, emitting only the per-batch top-k rows per query
    (``partitions × k × |Q|`` rows total). A final window rank over
    that sliver picks the global top-k — the only shuffle, carrying
    k·|Q| rows per partition.

    At 100 TB: one corpus scan, no pair materialization, Python cost
    is a vectorized matmul per Arrow batch. Cosines are rounded before
    ranking (ties on neighbor id) like every similarity operator here;
    numpy's pairwise summation can differ from sequential summation
    below the rounding threshold, which the rounding absorbs.
    """
    q_rows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).cast("long"), vec_col)
        .collect()
    )
    if not q_rows:
        spark = embeddings.sparkSession
        return literal_rows_df(
            spark, [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    import numpy as np

    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    q_mat = np.array([list(r[1]) for r in q_rows], dtype="float64")
    q_norm = np.maximum(np.sqrt((q_mat * q_mat).sum(axis=1)), 1e-12)
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_mat / q_norm[:, None]))

    out_schema = "query_id long, neighbor_id long, cosine double"

    def score(batches):
        import numpy as np
        import pandas as pd

        ids, qn = bc.value
        nq = len(ids)
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype="int64")
            c_mat = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            c_norm = np.maximum(np.sqrt((c_mat * c_mat).sum(axis=1)), 1e-12)
            scores = (c_mat / c_norm[:, None]) @ qn.T  # B × |Q|
            # HALF_UP like F.round / the expression path / the DuckDB
            # oracle — np.round is half-to-even, which diverges on
            # exact half-ticks (dyadic cosines such as 1/64 at 5
            # digits). Sign-aware floor(|x|·10^d + 0.5): exact
            # half-ticks are dyadic, so |x|·10^d is computed exactly
            # and lands on .5 precisely, rounding up as HALF_UP does.
            p = 10.0 ** ROUND_DIGITS
            scores = np.sign(scores) * np.floor(np.abs(scores) * p + 0.5) / p
            # self-match suppression + per-batch top-k per query
            for qi in range(nq):
                col = scores[:, qi]
                keep = c_ids != ids[qi]
                cand_scores, cand_ids = col[keep], c_ids[keep]
                if not len(cand_ids):
                    continue
                # top-k by (score desc, id asc): lexsort on (-score, id)
                order = np.lexsort((cand_ids, -cand_scores))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), ids[qi]),
                        "neighbor_id": cand_ids[order],
                        "cosine": cand_scores[order],
                    }
                )

    local_topk = embeddings.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).mapInPandas(score, schema=out_schema)
    return _rank_top_k(local_topk, k)


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) =
    (md5int("p_d") mod 2001 - 1000) / 1000 ∈ [-1, 1].

    Pure function of (p, d) so Spark, the DuckDB oracle, and any
    future engine reproduce identical planes without sharing state.
    """
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def hyperplane_lsh_buckets(
    embeddings: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector an LSH bucket = sign-bit string over
    ``num_planes`` hyperplanes. Vectors with high cosine similarity
    collide with high probability; ANN then joins within buckets
    (shuffle on bucket key — linear, the 100 TB path).
    """
    planes = hyperplanes(num_planes, dim)
    v = F.col(vec_col)
    bits = [
        F.when(
            dot(v, F.array(*[F.lit(x) for x in plane])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return embeddings.select(
        F.col(id_col), F.concat(*bits).alias("bucket"), F.col(vec_col)
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF cell).

    Centroids broadcast, so scoring is a map-side pass over the
    corpus — O(N·C) dot products, no shuffle of the corpus data for
    the join. The argmax is a ``max(struct)`` aggregation, NOT a
    window rank: partial aggregation combines the C candidate rows
    per vector down to 1 on the map side, so the exchange carries N
    rows instead of sorting N×C (and no sort at all). Ties break on
    smallest cell id after rounding (negated id in the struct) so any
    engine reproduces the same partition. ``centroids`` is a
    ``(cell_id, vec_col)`` table.
    """
    cent = _centroid_vecs(centroids, vec_col)
    v = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(vec_col).alias("_v"),
    ).withColumn("_n", l2_norm(F.col("_v")))
    scored = v.join(F.broadcast(cent)).select(
        id_col,
        vec_col,
        "cell_id",
        _rcos("_v", "_mv", "_n", "_mn").alias("_cos"),
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("_cos").alias("c"),
                (-F.col("cell_id")).cast("long").alias("negid"),
                F.col(vec_col).alias("v"),
            )
        ).alias("_m")
    )
    return best.select(
        id_col,
        (-F.col("_m.negid")).alias("cell_id"),
        F.col("_m.v").alias(vec_col),
    )


def ivf_assign_arrow(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cos: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment on the Arrow/numpy path — the
    index-BUILD formulation of :func:`ivf_assign` (same recipe as
    :func:`pq_encode_arrow`). ``keep_cos=True`` adds the winning
    (rounded) centroid cosine as ``_ccos`` — the keep-priority input
    :func:`semantic_dedup` ranks on.

    The expression form scores O(N·C) candidate rows through the
    codegen dot expression — fine per query at small C, but the
    one-time index build assigns the WHOLE corpus and C is the cell
    count (thousands): at 2M vectors × 4k cells the candidate pass is
    ~0.5T flops of interpreted-expression arithmetic and dominates
    :func:`ivf_pq_write_index`. Here the centroid matrix (C × dim,
    tiny) broadcasts once; one ``mapInPandas`` pass computes each
    Arrow batch's ``B × C`` cosine matrix with a single BLAS matmul
    and emits the argmax cell directly — no candidate
    materialization, no exchange (the expression path's exchange
    carried the argmax partials).

    Parity contract: identical cells to :func:`ivf_assign` — the same
    rounded-cosine argmax (HALF_UP sign-aware at ``ROUND_DIGITS``;
    the ``max(nx·nc, 1e-12)`` denominator floor), ties → smallest
    cell id (centroid rows are cell-ordered and ``argmax`` returns
    the first maximum). BLAS summation order differs from the
    sequential expression dot below the rounding threshold; the
    rounding absorbs it (pinned by ``tests/test_pq.py``'s
    assignment-parity test on the driver fixtures).
    """
    import numpy as np

    cent_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select("cell_id", vec_col).collect()
    )
    cells = np.array([c for c, _ in cent_rows], dtype="int64")
    cmat = np.array([v for _, v in cent_rows], dtype="float64")
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast((cells, cmat, cnorm))

    elem = "float"
    for f in embeddings.schema.fields:
        if f.name == vec_col:
            elem = f.dataType.elementType.simpleString()
    out_schema = (
        f"{id_col} long, cell_id long, {vec_col} array<{elem}>"
    )
    if keep_cos:
        out_schema += ", _ccos double"

    def assign(batches):
        import numpy as np
        import pandas as pd

        cells_, cmat_, cnorm_ = bc.value
        p = 10.0 ** ROUND_DIGITS
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            xn = np.sqrt((x * x).sum(axis=1))
            denom = np.maximum(xn[:, None] * cnorm_[None, :], 1e-12)
            cos = (x @ cmat_.T) / denom
            cos = np.sign(cos) * np.floor(np.abs(cos) * p + 0.5) / p
            arg = np.argmax(cos, axis=1)
            best = cells_[arg]
            out = {
                id_col: pdf[id_col].to_numpy(dtype="int64"),
                "cell_id": best,
                vec_col: pdf[vec_col],
            }
            if keep_cos:
                out["_ccos"] = cos[np.arange(len(arg)), arg]
            yield pd.DataFrame(out)

    return embeddings.select(id_col, vec_col).mapInPandas(
        assign, schema=out_schema
    )


#: Fixed-point scale for k-means centroid means (exact int sums →
#: order-independent, cross-engine-identical components).
KMEANS_SCALE = 1_000_000

#: Trained models (centroid tables, codebooks) keyed by (session UUID,
#: trainer name, caller's ``cache_key``, the trainer's other non-DataFrame
#: arguments after defaults) — see :func:`_cached_trainer`. Checked
#: BEFORE any lineage is built, so a cache hit costs nothing. The
#: session UUID in the key makes a stop/recreate cycle (test reruns,
#: long-lived processes) a clean miss instead of returning a DataFrame
#: bound to a dead session; FIFO-bounded so a parameter sweep can't grow
#: it without limit.
_CENTROID_CACHE: dict[tuple, DataFrame] = {}
_CENTROID_CACHE_MAX = 16


def _cached_trainer(train):
    """Train once, query many: memoize ``train`` in ``_CENTROID_CACHE``.

    ``cache_key`` names only the trainer's INPUT DATA (its DataFrame
    arguments, which cannot be hashed); the trainer's name and every
    other argument, defaults applied, complete the key. So two trainers,
    or one trainer under different ``iters``/``sample_n``/…, never share
    an entry. No ``cache_key``, no cache. At scale you'd write the model
    to storage instead.
    """
    sig = inspect.signature(train)

    @functools.wraps(train)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        args_ = bound.arguments
        if args_["cache_key"] is None:
            return train(*args, **kwargs)
        key = (
            args_["embeddings"].sparkSession._jsparkSession.sessionUUID(),
            train.__name__,
            *(
                (k, v)
                for k, v in args_.items()
                if not isinstance(v, DataFrame)
            ),
        )
        if key not in _CENTROID_CACHE:
            while len(_CENTROID_CACHE) >= _CENTROID_CACHE_MAX:
                _CENTROID_CACHE.pop(next(iter(_CENTROID_CACHE)))
            _CENTROID_CACHE[key] = train(*args, **kwargs)
        return _CENTROID_CACHE[key]

    return wrapper


def _round_half_up(x: float, digits: int) -> float:
    """Replicate Spark's ``F.round`` (BigDecimal HALF_UP over the
    double's shortest decimal repr) in Python. ``decimal`` on
    ``repr(x)`` sees the same shortest round-trip decimal string Java's
    ``Double.toString`` produces, so boundary cases resolve
    identically."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


@_cached_trainer
def kmeans_centroids_local(
    embeddings: DataFrame,
    n_cells: int,
    iters: int,
    sample_n: int = 1 << 18,
    cache_key: str | None = None,
) -> DataFrame:
    """Sample-to-driver Lloyd k-means → tiny ``(cell_id, vec)`` table.

    ``sample_n`` bounds driver memory: 262k × 1024-dim float64 ≈ 2 GB
    worst case; FAISS guidance is ~(100-1000)×n_cells training points,
    so shrink it for small cell counts and large dims rather than
    raising it — quantizer quality saturates long before the corpus.

    The 100 TB IVF pattern (what FAISS and Spark ML both do): the
    coarse quantizer is trained on a bounded SAMPLE collected to one
    node — centroid quality needs ~(100-1000)×n_cells training points,
    not the corpus — and only the cell ASSIGNMENT runs distributed
    (``ivf_assign``: broadcast centroids, map-side argmax). Training
    driver-side removes ``iters`` corpus scans and all per-round
    shuffles from the cluster's critical path; the model (n_cells
    rows) ships back as a broadcastable DataFrame.

    Deterministic and engine-replayable: the sample is the
    ``sample_n`` lowest-``vec_id`` vectors, seeds are ids
    ``< n_cells``, cosines round HALF_UP at ``ROUND_DIGITS`` before
    the argmax (tie → smallest cell), means are fixed-point integer
    sums at ``KMEANS_SCALE`` — the identical arithmetic, in the
    identical order, as the DuckDB oracle that replays training in SQL
    (dot products are sequential left-to-right sums in both). When
    ``sample_n`` covers the whole corpus (test scale), the result is
    bit-identical to full-corpus training.

    ``cache_key``: identity of the input corpus; see
    :func:`_cached_trainer` (train once, query many).
    """
    spark = embeddings.sparkSession
    vecs = _collect_sample(embeddings, "vec_id", "embedding", sample_n)
    cents: list[tuple[int, list[float]]] = [
        (int(i), v) for i, v in vecs if i < n_cells
    ]
    # Seed convention (id < n_cells) is replayed verbatim by the
    # DuckDB oracles; ids with gaps below n_cells would silently
    # train fewer cells, so fail loudly instead.
    if len(cents) < n_cells:
        raise ValueError(
            f"kmeans seeding found {len(cents)} vectors with id < "
            f"{n_cells}; the id<n_cells seed convention requires "
            "contiguous ids from 0 — re-key the corpus or pass "
            "pre-trained centroids"
        )
    for _ in range(iters):
        norms = _with_norms(cents)
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for _vid, v in vecs:
            best_cell = _nearest_cell(v, norms)[0]
            acc = sums.get(best_cell)
            if acc is None:
                acc = [0] * len(v)
                sums[best_cell] = acc
            for i, x in enumerate(v):
                acc[i] += int(_round_half_up(x * KMEANS_SCALE, 0))
            counts[best_cell] = counts.get(best_cell, 0) + 1
        cents = [
            (
                cid,
                [(s / KMEANS_SCALE) / counts[cid] for s in sums[cid]],
            )
            for cid in sorted(sums)
        ]
    return literal_rows_df(
        spark,
        [(cid, cv) for cid, cv in cents],
        "cell_id long, embedding array<double>",
    )


def _sample_matrix(
    embeddings: DataFrame, id_col: str, vec_col: str, sample_n: int
):
    """Bounded lowest-id sample as a float64 numpy matrix (BLAS
    trainer input; one TakeOrderedAndProject job like
    :func:`_collect_sample`)."""
    import numpy as np

    vecs = _collect_sample(embeddings, id_col, vec_col, sample_n)
    return np.asarray([v for _, v in vecs], dtype="float64")


def kmeans_centroids_numpy(
    embeddings: DataFrame,
    n_cells: int,
    iters: int,
    sample_n: int = 1 << 18,
) -> DataFrame:
    """BLAS coarse-quantizer trainer → ``(cell_id, vec)`` table.

    The INDEX-BUILD path for real scale: each Lloyd round is one
    ``(sample × n_cells)`` matrix product (cosine assignment) plus a
    bincount mean update — minutes for n_cells in the tens of
    thousands where the interpreted deterministic trainer
    (:func:`kmeans_centroids_local`) would take days. Seeds are the
    first ``n_cells`` sample rows BY ORDINAL, so gapped or offset id
    spaces train fine (the ``id < n_cells`` seed convention of the
    deterministic trainers exists only for SQL-replayability).

    Trade-off, stated plainly: BLAS summation order is
    platform-defined, so this trainer is deterministic run-to-run on
    one platform but NOT bit-replayable in DuckDB — use it for index
    builds and perf paths; oracle-checked queries keep the
    deterministic trainers. Empty cells drop out (same convention as
    the deterministic trainers). Model quality is equivalent: both
    are Lloyd on the same objective.
    """
    import numpy as np

    spark = embeddings.sparkSession
    X = _sample_matrix(embeddings, "vec_id", "embedding", sample_n)
    if X.shape[0] < n_cells:
        raise ValueError(
            f"kmeans_centroids_numpy: sample has {X.shape[0]} vectors "
            f"for {n_cells} cells — lower n_cells or raise sample_n"
        )
    Xn = X / np.maximum(
        np.linalg.norm(X, axis=1, keepdims=True), 1e-12
    )
    C = X[:n_cells].copy()
    assign = None
    for _ in range(max(iters, 1)):
        Cn = C / np.maximum(
            np.linalg.norm(C, axis=1, keepdims=True), 1e-12
        )
        assign = np.argmax(Xn @ Cn.T, axis=1)
        counts = np.bincount(assign, minlength=C.shape[0])
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        live = counts > 0
        C = C.copy()
        C[live] = sums[live] / counts[live, None]
    live_cells = sorted(set(int(a) for a in assign))
    return literal_rows_df(
        spark,
        [(cid, C[cid].tolist()) for cid in live_cells],
        "cell_id long, embedding array<double>",
    )


def pq_train_numpy(
    embeddings: DataFrame,
    n_subspaces: int,
    n_codes: int,
    iters: int,
    dim: int,
    sample_n: int = 1 << 18,
) -> DataFrame:
    """BLAS PQ-codebook trainer → ``(subspace, code, subvec)`` table.

    Per-subspace squared-L2 Lloyd with the assignment as one
    ``(sample × n_codes)`` distance matrix per round (the vectorized
    twin of :func:`pq_train_local`'s interpreted loop, same seeding
    caveats as :func:`kmeans_centroids_numpy`: ordinal seeds, BLAS
    float order, index-build/perf path only). Codes produced by
    :func:`pq_encode_arrow` against these codebooks are exact for
    whatever codebook is passed, so the ANN pipeline downstream is
    unchanged.
    """
    import numpy as np

    spark = embeddings.sparkSession
    sub = dim // n_subspaces
    X = _sample_matrix(embeddings, "vec_id", "embedding", sample_n)
    if X.shape[0] < n_codes:
        raise ValueError(
            f"pq_train_numpy: sample has {X.shape[0]} vectors for "
            f"{n_codes} codes — lower n_codes or raise sample_n"
        )
    out: list[tuple[int, int, list[float]]] = []
    for j in range(n_subspaces):
        Xs = X[:, j * sub : (j + 1) * sub]
        C = Xs[:n_codes].copy()
        xx = (Xs * Xs).sum(axis=1, keepdims=True)
        for _ in range(max(iters, 1)):
            d = xx - 2.0 * (Xs @ C.T) + (C * C).sum(axis=1)[None, :]
            assign = np.argmin(d, axis=1)
            counts = np.bincount(assign, minlength=n_codes)
            sums = np.zeros_like(C)
            np.add.at(sums, assign, Xs)
            live = counts > 0
            C = C.copy()
            C[live] = sums[live] / counts[live, None]
        out.extend(
            (j, c, C[c].tolist()) for c in range(n_codes)
        )
    return literal_rows_df(
        spark, out, "subspace int, code long, subvec array<double>"
    )


#: ivf_topk literal-assignment gate: max n_cells·dim before the
#: unrolled centroid-literal expression tree would dominate plan
#: analysis/codegen cost (the r6 35 s defect class). Above it the
#: join+agg formulation runs instead.
IVF_LITERAL_MAX_EXPRS = 8192


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int,
    nprobe: int,
    dim: int,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate nearest neighbors.

    The corpus is partitioned into ``n_cells`` inverted lists by
    nearest-centroid assignment; each query probes only its ``nprobe``
    closest cells and exact-ranks the candidates inside them. At scale
    the inverted lists are the storage partitioning (write the corpus
    bucketed by cell_id) so a probe touches nprobe/n_cells of the data.

    ``centroids``: a ``(cell_id, embedding)`` table — typically
    :func:`kmeans_centroids_local`. Default: the ``n_cells`` lowest-id
    vectors (deterministic stand-in); the operator is agnostic to how
    centroids were produced.

    NULL embeddings are dropped at the boundary on BOTH sides (r10
    totality fix, same rationale as :func:`lsh_topk`): a NULL vector
    has no cell assignment and no cosine — it cannot probe or be
    probed.
    """
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    queries = queries.filter(F.col("embedding").isNotNull())
    if centroids is None:
        centroids = _lowest_id_centroids(embeddings, n_cells, "vec_id", "embedding")

    # r10 optimization (guide §2.4 — remove shuffles outright): with a
    # bounded trained centroid set, both centroid-facing steps fold
    # into literal expressions over the collected centroids —
    #  * cell assignment becomes greatest(struct(cos_i, −cell_i, ...))
    #    per corpus row: a pure map. The join+groupBy formulation
    #    shuffled the WHOLE corpus (argmax partials carry the full
    #    vector) — at 100 TB that exchange is the dominant cost of an
    #    ad-hoc probe, and locally it was 2 of this plan's 6 stages.
    #  * probe selection becomes explode(slice(array_sort(...))) per
    #    query row, removing the q×cent join plus the row_number
    #    window and ITS exchange.
    # Bit-parity: the cosines are the same `dot`/`greatest(·,1e-12)`/
    # `round` expression tree (centroid side as array literals);
    # centroid norms are computed in driver Python with the identical
    # left-to-right summation over the identical doubles and a
    # correctly-rounded sqrt, so every rounded cosine — and therefore
    # every argmax/ordering decision — is unchanged. Ordering ties:
    # struct comparison on (cos, −cell_id) ≡ the old max(struct)/
    # row_number(_cos desc, cell_id asc) rules. The expression form is
    # gated on n_cells·dim (literal-plan size — the unrolled tree at
    # thousands of cells would revive the r6 35 s analysis-cost
    # defect); larger centroid sets keep the join+agg path, and
    # at-rest corpora use ivf_topk_from_index which never re-assigns.
    cent_rows = None
    if n_cells * dim <= IVF_LITERAL_MAX_EXPRS:
        cent_rows = sorted(
            (int(r[0]), [float(x) for x in r[1]])
            for r in centroids.select("cell_id", "embedding").collect()
        )  # bounded model-scale collect (n_cells rows), repo convention
    if cent_rows:
        from math import sqrt as _sqrt

        # The literal trees are generated as SQL TEXT and parsed with
        # ONE F.expr call per consumer (r10 follow-up): composing them
        # through the py4j column API issued one driver round trip per
        # F.lit/F.struct/F.array node — n_cells·(dim+6)·2 ≈ 2-3k
        # blocking socket calls, measured as tens of seconds of query
        # CONSTRUCTION on a loaded host (cProfile: the time sat in
        # py4j recv_into, not in Spark). The parsed trees are
        # node-for-node the trees the column API built — doubles are
        # embedded as CAST('<repr>' AS DOUBLE), whose Double.parseDouble
        # round-trips Python repr's shortest form bit-exactly — so
        # every rounded cosine and tie-break is unchanged.
        def _d(x: float) -> str:
            return f"CAST('{x!r}' AS DOUBLE)"

        def _cos_lit_sql(vec: str, vnorm: str, cv: list[float]) -> str:
            carr = "array(" + ", ".join(_d(x) for x in cv) + ")"
            cn = _sqrt(sum(x * x for x in cv))  # bit-equal to l2_norm
            return (
                f"round(aggregate(zip_with({vec}, {carr}, (x, y) -> "
                "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
                f"(acc, x) -> acc + x) / greatest({vnorm} * {_d(cn)}, "
                f"{_d(1e-12)}), {ROUND_DIGITS})"
            )

        def _cell_structs_sql(vec: str, vnorm: str) -> list[str]:
            return [
                f"named_struct('c', {_cos_lit_sql(vec, vnorm, cv)}, "
                f"'negid', CAST({-cid} AS BIGINT))"
                for cid, cv in cent_rows
            ]

        q = _query_vecs(queries, "vec_id", "embedding")
        # ascending sort on (−cos, cell_id) ≡ (cos desc, cell_id asc);
        # negate as 0.0 − c, not −c: the window SortOrder this replaces
        # normalizes −0.0 = +0.0 before comparing, while array_sort's
        # struct comparator sees raw doubles — 0.0 − c maps both zero
        # signs to +0.0 and is an exact sign flip for every other value
        probe_structs = ", ".join(
            f"named_struct('nc', 0.0D - {_cos_lit_sql('_qv', '_qn', cv)}, "
            f"'cell_id', CAST({cid} AS BIGINT))"
            for cid, cv in cent_rows
        )
        probe_sorted = (
            f"array_sort(array({probe_structs}))"
        )
        probes = q.select(
            "query_id",
            "_qv",
            "_qn",
            F.explode(
                F.expr(
                    f"slice({probe_sorted}, 1, "
                    f"{min(nprobe, len(cent_rows))})"
                )
            ).alias("_p"),
        ).select(
            "query_id", "_qv", "_qn", F.col("_p.cell_id").alias("cell_id")
        )

        cand = embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("_cv"),
            l2_norm(F.col("embedding")).alias("_cn"),
        ).withColumn(
            "cell_id",
            F.expr(
                "-(greatest("
                + ", ".join(_cell_structs_sql("_cv", "_cn"))
                + ").negid)"
            ),
        )
    else:
        assigned = ivf_assign(embeddings, centroids, "vec_id", "embedding")
        cent = _centroid_vecs(centroids, "embedding")
        q = _query_vecs(queries, "vec_id", "embedding")
        probes = _probe_cells(q, cent, nprobe, "_qv", "_qn")
        cand = _neighbor_vecs(assigned, "vec_id", "embedding", "cell_id")
    return _exact_top_k(F.broadcast(probes).join(cand, "cell_id"), k)


def _probe_cells(
    q: DataFrame, cent: DataFrame, nprobe: int, *carry: str
) -> DataFrame:
    """Each query's ``nprobe`` nearest cells → ``(query_id, *carry,
    cell_id)``. ``q`` is a :func:`_query_vecs` frame and ``cent`` a
    :func:`_centroid_vecs` frame (broadcast); cells rank by rounded
    cosine, ties to the smaller cell id."""
    scored = q.join(F.broadcast(cent)).select(
        "query_id",
        *carry,
        "cell_id",
        _rcos("_qv", "_mv", "_qn", "_mn").alias("_cos"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("cell_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", *carry, "cell_id")
    )


def _read_cells(spark, index_path: str, frame: DataFrame) -> DataFrame:
    """The persisted index's partitions for the cells ``frame`` holds:
    the distinct cell ids (collected metadata, not data) become a
    static ``cell_id IN (...)`` predicate, so the scan
    partition-prunes before file listing."""
    cells = sorted(
        r.cell_id for r in frame.select("cell_id").distinct().collect()
    )
    return spark.read.parquet(index_path).filter(F.col("cell_id").isin(cells))


def ivf_write_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    target_recall: float | None = 0.9,
    recall_kwargs: dict | None = None,
) -> None:
    """Materialize the IVF inverted lists as storage layout: the
    corpus, assigned to cells, written hive-partitioned by
    ``cell_id``.

    ``target_recall`` (DEFAULT 0.9 since r10 — certification is the
    default build posture, not an opt-in) runs
    :func:`ann_recall_estimate` after the write: sampled exact ground
    truth, an nprobe-ladder walk, and an ``_ann_recall.json`` marker
    recording the nprobe this index NEEDS for that recall — or
    ``fallback: true`` when no rung reaches it (uniform /
    unclusterable embeddings, where IVF recall degrades by
    construction of the data). ``nprobe="auto"`` probes consume the
    marker; ``recall_kwargs`` forwards estimator knobs
    (k, n_queries, nprobe_ladder, ...). Pass ``target_recall=None``
    to skip certification — the explicit escape hatch for builds
    where the estimate's extra corpus pass is unaffordable (e.g. the
    per-micro-batch append in ``streaming/ingest``, whose guard cost
    must stay ∝ batch); an uncertified index rejects ``nprobe="auto"``
    probes rather than guessing.

    This is the at-rest form of the "inverted lists = storage
    partitioning" claim: ``n_cells`` is bounded (a partition-count,
    not a key-cardinality), so directory partitioning is the right
    mechanism, and a probe query's ``cell_id IN (...)`` filter prunes
    to nprobe/n_cells of the corpus BEFORE file listing. Write once,
    probe many — the assignment scan never re-runs per query.

    The write is repartitioned ON the partition column first:
    ``partitionBy`` alone makes every input task open a writer per
    cell it happens to hold (up to tasks × n_cells tiny files, and a
    probe path throttled by per-file open overhead); aligning the
    exchange with the layout yields one file per cell (SCALE_ann.json
    records the measured difference).

    Assignment runs on the Arrow/BLAS path (:func:`ivf_assign_arrow`,
    cell-identical by the parity contract): the build assigns the
    whole corpus against ALL cells, the one place the expression
    form's O(N·C·dim) candidate pass dominates.
    """
    assigned = ivf_assign_arrow(embeddings, centroids, id_col, vec_col)
    assigned.repartition(F.col("cell_id")).write.partitionBy(
        "cell_id"
    ).mode(mode).parquet(path)
    if target_recall is not None:
        spark = embeddings.sparkSession
        # the ladder probes walk the FULL on-disk index, so the query
        # sample and the exact ground truth must too: on mode='append'
        # estimating over just the appended batch would compare
        # batch-only truth against whole-index probe results —
        # got∩want collapses and a bogus low-recall curve (or
        # fallback:true) overwrites a valid whole-index marker. Both
        # layouts store the raw vectors, so the full corpus is the
        # index read back.
        src = (
            spark.read.parquet(path).select(id_col, vec_col)
            if mode == "append"
            else embeddings
        )
        ann_recall_estimate(
            spark, path, src, centroids,
            kind="ivf", target_recall=target_recall, id_col=id_col,
            vec_col=vec_col, **(recall_kwargs or {}),
        )


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int | str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a persisted IVF index
    (:func:`ivf_write_index`).

    ``nprobe`` DEFAULTS to ``"auto"`` (r10): the certified probe
    depth from the build-time recall marker, or the enforced exact
    scan when certification found the corpus unclusterable. An
    integer nprobe is the explicit uncertified override (required
    for indexes built with ``target_recall=None``, and what the
    oracle-replayed registry queries pin for determinism).

    Probe-cell selection runs on the broadcast centroid table exactly
    as in :func:`ivf_topk`; the union of probed cells (≤ nprobe·|Q|
    ids — driver-side metadata, not data) becomes a static
    ``cell_id IN (...)`` predicate so the scan partition-prunes to the
    probed inverted lists. Candidates then broadcast-join the probes
    and exact-rank — identical semantics to :func:`ivf_topk`, minus
    the per-query assignment scan.

    ``nprobe="auto"`` reads the build-time recall marker
    (:func:`ann_recall_estimate`): the recommended nprobe when the
    measured curve reaches the build's recall target, or the
    exact-scan fallback (:func:`exact_topk_from_index`) when it
    recorded that NO nprobe rung does — a user pointing the probe at
    unclusterable embeddings gets recall 1.0 at full-scan cost
    instead of silent coin-flip recall.
    """
    if nprobe == "auto":
        nprobe, _ = _resolve_auto_probe(spark, index_path, "ivf", k)
        if nprobe is None:
            return exact_topk_from_index(
                spark, index_path, queries, k, id_col=id_col, vec_col=vec_col
            )
    cent = _centroid_vecs(centroids, vec_col)
    q = _query_vecs(queries, id_col, vec_col)
    probes = _probe_cells(q, cent, nprobe, "_qv", "_qn").localCheckpoint(
        eager=True
    )
    # ^ two consumers (the collect of cell ids + the candidate
    # join's broadcast side): materialize the |Q|*nprobe rows once or
    # the centroid-scoring pass executes twice
    cand = _neighbor_vecs(
        _read_cells(spark, index_path, probes), id_col, vec_col, "cell_id"
    )
    return _exact_top_k(F.broadcast(probes).join(cand, "cell_id"), k)


def semdedup_incremental(
    new_df: DataFrame,
    index_path: str,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup: classify a NEW batch of embeddings
    against the corpus's at-rest IVF index (:func:`ivf_write_index`)
    — the embedding twin of ``operators/dedup.dedup_incremental``.

    Every batch row comes back with a verdict: ``status`` is
    ``'near_dup'`` (cosine ≥ ``threshold`` to some already-ingested
    vector in its cell) or ``'new'``; ``dup_of`` is the matched
    corpus id (highest cosine, then smallest id — deterministic),
    ``similarity`` the rounded cosine (NULL for ``'new'``).

    This is the streaming/growing-corpus form of
    :func:`semantic_dedup`: the batch assigns to cells against the
    SAME broadcast centroids the corpus was indexed with (the cell is
    the candidate block, per the paper), the index read prunes to the
    batch's cells via the hive partitioning, and the per-row argmax
    is a map-side-combinable ``max(struct)`` — the corpus is never
    re-scanned, and per-batch cost is batch × matched-cell rows.
    Callers append survivors with ``ivf_write_index(..., mode=
    'append')`` (partition-aligned file adds) so the next batch
    dedupes against them too. NULL vectors are passed through as
    ``'new'`` with NULL similarity (no evidence — same posture as
    the text-side probe's unmatched tier).
    """
    spark = new_df.sparkSession
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    vecs = new_df.filter(F.col(vec_col).isNotNull()).select(
        id_col, vec_col
    )
    assigned = ivf_assign(vecs, centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    # ^ two consumers (driver collect of probed cells + the probe
    # join): materialize the batch-sized assignment once or the
    # broadcast-centroid scoring pass executes twice per micro-batch
    index = _read_cells(spark, index_path, assigned)
    b = assigned.select(
        "cell_id", F.col(id_col), F.col(vec_col).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    idx = index.select(
        "cell_id",
        F.col(id_col).alias("_old"),
        F.col(vec_col).alias("_ov"),
    ).withColumn("_on", l2_norm(F.col("_ov")))
    best = (
        b.join(idx, "cell_id")
        .select(
            id_col,
            _rcos("_v", "_ov", "_n", "_on").alias("_cos"),
            F.col("_old"),
        )
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("_cos").alias("c"),
                    (-F.col("_old")).alias("negid"),
                )
            ).alias("_m")
        )
        .select(
            id_col,
            F.col("_m.c").alias("_cos"),
            (-F.col("_m.negid")).alias("_old"),
        )
    )
    verdicts = (
        new_df.select(id_col)
        .join(best, id_col, "left")
        .select(
            F.col(id_col),
            F.when(
                F.coalesce(F.col("_cos"), F.lit(-2.0))
                >= F.lit(float(threshold)),
                F.lit("near_dup"),
            )
            .otherwise(F.lit("new"))
            .alias("status"),
            F.when(
                F.coalesce(F.col("_cos"), F.lit(-2.0))
                >= F.lit(float(threshold)),
                F.col("_old").cast("long"),
            )
            .otherwise(null_l)
            .alias("dup_of"),
            F.when(
                F.coalesce(F.col("_cos"), F.lit(-2.0))
                >= F.lit(float(threshold)),
                F.col("_cos"),
            )
            .otherwise(null_d)
            .alias("similarity"),
        )
    )
    return verdicts


def lsh_topk(
    embeddings: DataFrame,
    k: int,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate corpus×corpus top-k: candidates = same LSH bucket,
    re-ranked by exact cosine. Bucket join replaces the cross join.

    NULL embeddings are dropped at the boundary (r10 totality fix): a
    NULL vector hashes to the all-zero bucket in both engines but its
    cosine is NULL, and NULL ordering under ``desc`` differs between
    Spark (last) and SQL engines (first) — undefined rank semantics.
    A crawl corpus WILL carry NULL embeddings; they cannot be
    neighbors or queries here by definition.
    """
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    b = hyperplane_lsh_buckets(embeddings, num_planes, dim, "vec_id", "embedding")
    a = _query_vecs(b, "vec_id", "embedding", "bucket")
    c = _neighbor_vecs(b, "vec_id", "embedding", "bucket")
    return _exact_top_k(a.join(c, "bucket"), k)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 8,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Semantic near-duplicate candidate pairs: LSH-blocked cosine.

    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b`` for every
    same-bucket pair above ``threshold``. The reusable operator behind
    the ``sim_embedding_neardup`` registry query, exposed so pipelines
    (``pipelines.e4_corpus_prep``) can union semantic pairs with text
    MinHash pairs before cluster assembly — paraphrases and
    translations duplicate meaning without sharing shingles, and only
    the embedding signal catches them. Bucket equi-join, never a cross
    join; norms precomputed per vector before the pair stage.

    The within-bucket join is quadratic PER BUCKET, so ``num_planes``
    is the scale lever: 2^planes buckets must keep the expected bucket
    occupancy small relative to the corpus (raise it as the corpus
    grows; at 100 TB you want enough planes that a bucket holds
    thousands, not millions). ``max_bucket_size`` is the backstop for
    degenerate buckets the planes cannot split (e.g. a spike of
    identical embeddings): over-occupied buckets are dropped after a
    map-side occupancy count, exactly like
    ``dedup.lsh_candidate_pairs`` — identical-vector spikes are
    exact-dedup territory, not a quadratic join's. NULL vectors are
    excluded up front — they would all collide into one bucket and
    contribute nothing but NULL cosines.
    """
    b = hyperplane_lsh_buckets(
        embeddings.filter(F.col(vec_col).isNotNull()),
        num_planes=num_planes,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    )
    if max_bucket_size is not None:
        ok = (
            b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("bucket")
        )
        b = b.join(ok, "bucket", "left_semi")
    bd = b.select(
        "bucket", F.col(id_col), F.col(vec_col).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    a = bd.alias("a")
    c = bd.alias("c")
    cos = _norm_ratio(
        dot(F.col("a._v"), F.col("c._v")), F.col("a._n") * F.col("c._n")
    )
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .filter(cos > F.lit(threshold))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
            F.round(cos, ROUND_DIGITS).alias("cosine"),
        )
    )


@_cached_trainer
def _semdedup_centroids(
    embeddings: DataFrame, cache_key: str | None = None
) -> DataFrame | None:
    """:func:`semantic_dedup`'s default quantizer: ~128 vectors per
    cell via the BLAS trainer (3 Lloyd rounds on a 2^18 sample), or
    ``None`` when no vector is non-NULL. The corpus count that sizes
    the cells sits inside the cached trainer, so a warm ``cache_key``
    runs no Spark job at all."""
    vecs_per_cell, sample_n = 128, 1 << 18
    # size cells from NON-NULL vectors only (NULL-vector docs skip
    # assignment entirely and would otherwise inflate n_cells), and
    # cap n_cells so each cell trains on >= 4 sample vectors — the
    # uncapped N/vecs_per_cell would exceed the trainer sample past
    # ~sample_n*vecs_per_cell/4 corpus vectors and raise. For
    # genuinely huge corpora raise ``sample_n`` with the corpus (FAISS
    # guidance: ~100-1000 training points per cell).
    n = embeddings.filter(F.col("embedding").isNotNull()).count()
    if n == 0:
        return None
    # never ask for more cells than there are vectors — the floor of 16
    # previously made any corpus with < 16 non-null vectors raise
    # inside the trainer instead of deduping it
    n_cells = max(16, n // vecs_per_cell)
    n_cells = min(n_cells, max(16, sample_n // 4))
    n_cells = min(n_cells, n)
    return kmeans_centroids_numpy(
        embeddings, n_cells=n_cells, iters=3, sample_n=sample_n
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame | None,
    threshold: float,
    max_cell_size: int | None = None,
    checkpoint: bool = True,
    assign: str = "arrow",
    train_cache_key: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication") — cluster-scoped
    semantic dedup for training corpora.

    The construction from the paper: k-means-cluster the embedding
    space, then compare each document ONLY against its own cluster
    (the cluster is the candidate block, so there is never a corpus-
    wide pair stage); within a cluster a document is a semantic
    duplicate if its cosine to some better-keep-priority document
    exceeds ``threshold``. Keep priority follows the paper's published
    choice — LOW similarity to the cluster centroid first (they keep
    the *atypical* representative of each duplicate group) — with the
    document id as the deterministic tiebreak, and "duplicate of a
    better-ranked doc" is the paper's upper-triangular max over the
    within-cluster similarity matrix (a dropped doc still suppresses
    worse-ranked near-copies, so no sequential sweep is needed).

    Scale design (100 TB posture):

    * ``centroids`` come from the bounded sample-to-driver trainer
      (:func:`kmeans_centroids_local` / the BLAS tier) and broadcast;
      cell assignment is one map-side argmax aggregate — the corpus
      shuffles once, keyed by ``cell_id``.
    * The pair stage is an equi-join on ``cell_id``: quadratic per
      CELL, linear in cells. ``n_cells`` is the scale lever (the
      paper runs 110k clusters for LAION-440M); ``max_cell_size`` is
      the degenerate-cell backstop, mirroring
      :func:`embedding_neardup_pairs`'s bucket cap.
    * Only ``(cell_id, rank, id, vec)`` rows enter the pair join; the
      aggregate folds each doc's candidate rows to ONE row map-side
      (max of rounded cosine), so the post-join exchange carries N
      rows.

    Deterministic and engine-replayable: centroid cosines round
    HALF_UP at ``ROUND_DIGITS`` before ranking, pair cosines before
    the max; the DuckDB oracle replays training, ranking and the
    upper-triangular max bit-for-bit.

    Returns ``(id, cell_id, rnk, max_cos_better, dropped)`` — an
    auditable report (one row per input doc — INCLUDING docs the pair
    stage skips: NULL-vector docs and docs in cells over
    ``max_cell_size`` come back as kept pass-through rows with NULL
    rank/cosine, never silently absent) rather than the filtered
    corpus, so the keep/drop decision itself is the checked artifact;
    callers filter ``~dropped`` and join back by id (wide doc columns
    never enter the pair stage).

    ``assign``: ``"arrow"`` (default) runs :func:`ivf_assign_arrow`'s
    per-batch BLAS matmul — the index-build formulation, mandatory
    once cells number in the hundreds+ (the O(N·C·dim) expression pass
    dominates otherwise); ``"expr"`` scores cells through the codegen
    dot expression — kept for the oracle-replayable small-cell-count
    gate (the two are cell- and cosine-identical by the rounding
    parity contract, pinned by ``tests/test_semdedup.py``).

    ``centroids=None`` (the PRODUCTION default) trains them here with
    cells ∝ corpus — ``max(16, N/128)`` cells via the BLAS
    trainer (:func:`kmeans_centroids_numpy`) — the paper's recipe
    (110k cells for LAION-440M ≈ 4k vec/cell; 128 is this engine's
    measured 2–3×/decade knob, SCALE_sf*.json). A FIXED cell count
    makes the per-cell pair stage quadratic in the corpus (the r5
    registry leg measured 26×/decade at its pinned n_cells=16) — pass
    explicit ``centroids`` only when replaying an oracle or reusing a
    trained quantizer. ``train_cache_key`` names ``embeddings`` for the
    trainer cache (:func:`_cached_trainer`): a warm key runs no
    sizing count and no training.
    """
    if centroids is None:
        centroids = _semdedup_centroids(embeddings, cache_key=train_cache_key)
    if centroids is None:
        # nothing to train on: every doc is a NULL-vector pass-through
        # row. Empty centroid table + expression assignment (the BLAS
        # path can't argmax over zero centroids) keeps the
        # one-row-per-input-doc contract instead of the trainer raising.
        from pyspark.sql import types as T

        centroids = literal_rows_df(
            embeddings.sparkSession,
            [],
            T.StructType(
                [
                    T.StructField("cell_id", T.LongType()),
                    T.StructField(
                        "embedding", embeddings.schema["embedding"].dataType
                    ),
                ]
            ),
        )
        assign = "expr"
    if assign == "arrow":
        assigned = ivf_assign_arrow(
            embeddings, centroids, "vec_id", "embedding", keep_cos=True
        ).select(
            "vec_id", "cell_id", "_ccos", F.col("embedding").alias("_v")
        )
    else:
        cent = centroids.select(
            F.col("cell_id").cast("long").alias("cell_id"),
            F.col("embedding").alias("_mv"),
        ).withColumn("_mn", l2_norm(F.col("_mv")))
        v = embeddings.filter(F.col("embedding").isNotNull()).select(
            F.col("vec_id"), F.col("embedding").alias("_v")
        ).withColumn("_n", l2_norm(F.col("_v")))
        scored = v.join(F.broadcast(cent)).select(
            "vec_id",
            "_v",
            "cell_id",
            _rcos("_v", "_mv", "_n", "_mn").alias("_ccos"),
        )
        assigned = scored.groupBy("vec_id").agg(
            F.max(
                F.struct(
                    F.col("_ccos").alias("c"),
                    (-F.col("cell_id")).cast("long").alias("negid"),
                    F.col("_v").alias("v"),
                )
            ).alias("_m")
        ).select(
            "vec_id",
            (-F.col("_m.negid")).alias("cell_id"),
            F.col("_m.c").alias("_ccos"),
            F.col("_m.v").alias("_v"),
        )
    # pass-through rows keep the "one row per input doc" contract:
    # NULL-vector docs and docs in oversized (capped) cells are KEPT
    # (dropped=false) with NULL rank/cosine — a caller who filters
    # ~dropped never silently loses documents the pair stage skipped.
    skipped = embeddings.filter(F.col("embedding").isNull()).select(
        F.col("vec_id"),
        F.lit(None).cast("long").alias("cell_id"),
        F.lit(None).cast("int").alias("rnk"),
        F.lit(None).cast("double").alias("max_cos_better"),
        F.lit(False).alias("dropped"),
    )
    if max_cell_size is not None:
        # the cap fans the assignment out to THREE consumers (the
        # occupancy agg, the pass-through anti-join, the semi-join) —
        # materialize it once or the Arrow/BLAS assignment stage
        # re-executes per consumer (measured 9x at 200k vectors)
        if checkpoint:
            assigned = assigned.localCheckpoint(eager=True)
        ok = (
            assigned.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("_cn"))
            .filter(F.col("_cn") <= max_cell_size)
            .select("cell_id")
        )
        over = assigned.join(F.broadcast(ok), "cell_id", "left_anti").select(
            F.col("vec_id"),
            F.col("cell_id"),
            F.lit(None).cast("int").alias("rnk"),
            F.lit(None).cast("double").alias("max_cos_better"),
            F.lit(False).alias("dropped"),
        )
        skipped = skipped.unionByName(over)
        assigned = assigned.join(F.broadcast(ok), "cell_id", "left_semi")
    w = Window.partitionBy("cell_id").orderBy(
        F.col("_ccos").asc(), F.col("vec_id").asc()
    )
    ranked = assigned.withColumn("rnk", F.row_number().over(w)).withColumn(
        "_vn", l2_norm(F.col("_v"))
    )
    if checkpoint:
        # the ranked assignment feeds BOTH self-join sides and the
        # final report; materialize it once so the broadcast-centroid
        # scoring pass doesn't re-execute per consumer (at rest this
        # is the ivf_write_index pattern — assignment persisted, pair
        # stage reads it)
        ranked = ranked.localCheckpoint(eager=True)
    a = ranked.alias("a")  # candidate under test
    b = ranked.alias("b")  # better keep-priority docs in the same cell
    pair_cos = _rcos("a._v", "b._v", "a._vn", "b._vn")
    best = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("b.rnk") < F.col("a.rnk")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(F.max(pair_cos).alias("max_cos_better"))
    )
    return (
        ranked.join(best, "vec_id", "left")
        .select(
            F.col("vec_id"),
            F.col("cell_id"),
            F.col("rnk").cast("int").alias("rnk"),
            F.col("max_cos_better"),
            (
                F.coalesce(F.col("max_cos_better"), F.lit(-2.0))
                >= F.lit(threshold)
            ).alias("dropped"),
        )
        .unionByName(skipped)
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half) — Jégou, Douze,
# Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
# 2011. The reference repo has no ANN surface at all (its embeddings
# use cases stop at batch scoring); PQ is here because it is the
# standard way a 100 TB corpus makes billion-vector search tractable:
# each vector is stored as ``n_subspaces`` one-byte codes (M bytes vs
# dim×4), and query scoring reads ONLY the codes plus a per-query
# lookup table — the full vectors are touched just for the final
# re-rank of a few candidates.
# ---------------------------------------------------------------------------


@_cached_trainer
def pq_train_local(
    embeddings: DataFrame,
    n_subspaces: int,
    n_codes: int,
    iters: int,
    dim: int,
    sample_n: int = 1 << 18,
    cache_key: str | None = None,
) -> DataFrame:
    """Train PQ codebooks → ``(subspace, code, subvec)`` table.

    ``n_subspaces`` independent Lloyd k-means runs, one per
    ``dim/n_subspaces``-wide coordinate block, each under squared-L2
    distance (the PQ objective: minimize reconstruction error, not
    cosine). Training follows the same deterministic, cross-engine
    recipe as :func:`kmeans_centroids_local` — bounded lowest-id
    sample collected to the driver (FAISS-style: quantizer quality
    needs ~(100-1000)×n_codes points, never the corpus), seeds are the
    sample vectors with id < ``n_codes``, distances round HALF_UP at
    ``ROUND_DIGITS`` before the argmin (tie → smallest code), means
    are fixed-point integer sums at ``KMEANS_SCALE``. The squared
    distance is evaluated as ``(x·x − 2·x·c) + c·c`` — that exact IEEE
    operation order — in this trainer, in :func:`pq_encode`'s column
    expression, and in the DuckDB oracle, so all three engines pick
    identical codes. When ``sample_n`` covers the corpus (test scale)
    the result is bit-identical to full-corpus training.
    """
    spark = embeddings.sparkSession
    sub = dim // n_subspaces
    vecs = _collect_sample(embeddings, "vec_id", "embedding", sample_n)
    return _pq_lloyd_from_vecs(spark, vecs, n_subspaces, n_codes, iters, sub)


def _collect_sample(
    embeddings: DataFrame, id_col: str, vec_col: str, sample_n: int
) -> list[tuple[int, list[float]]]:
    """The ``sample_n`` lowest-id vectors as Python lists (one bounded
    TakeOrderedAndProject job — the shared trainer-sample primitive)."""
    rows = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).cast("long").alias("_id"), F.col(vec_col))
        .orderBy("_id")
        .limit(sample_n)
        .collect()
    )
    return [(r[0], [float(x) for x in r[1]]) for r in rows]


def _dot_seq(a: list[float], b: list[float]) -> float:
    """Left-to-right sequential dot — the arithmetic order DuckDB's
    ``list_dot_product`` and the engine's ``zip_with``+``aggregate``
    expression both use."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _with_norms(
    cents: list[tuple[int, list[float]]],
) -> list[tuple[int, list[float], float]]:
    """``(cell, vec, ‖vec‖)`` per centroid, norms by :func:`_dot_seq`."""
    return [(cid, cv, math_sqrt(_dot_seq(cv, cv))) for cid, cv in cents]


def _nearest_cell(
    v: list[float],
    norms: list[tuple[int, list[float], float]],
) -> tuple[int, list[float], float]:
    """The deterministic trainers' cell assignment — ``ivf_assign``'s
    recipe in driver Python: argmax of the cosine rounded HALF_UP at
    ``ROUND_DIGITS`` over a ``max(‖v‖·‖c‖, 1e-12)`` denominator, tie →
    first (smallest-id) cell of the cell-ordered ``norms``."""
    nv = math_sqrt(_dot_seq(v, v))
    best, best_cos = None, None
    for cell in norms:
        c = _round_half_up(
            _dot_seq(v, cell[1]) / max(nv * cell[2], 1e-12), ROUND_DIGITS
        )
        if best_cos is None or c > best_cos:
            best, best_cos = cell, c
    return best


def _pq_lloyd_from_vecs(
    spark,
    vecs: list[tuple[int, list[float]]],
    n_subspaces: int,
    n_codes: int,
    iters: int,
    sub: int,
) -> DataFrame:
    """The shared per-subspace Lloyd loop over already-collected
    vectors (raw embeddings or residuals): squared-L2 assignment as
    ``(x·x − 2·x·c) + c·c`` rounded HALF_UP (tie → smallest code),
    fixed-point integer means. Seeds are the vectors whose sample id
    is < ``n_codes``."""
    out: list[tuple[int, int, list[float]]] = []
    for j in range(n_subspaces):
        svecs = [(i, v[j * sub : (j + 1) * sub]) for i, v in vecs]
        cents: list[tuple[int, list[float]]] = [
            (int(i), sv) for i, sv in svecs if i < n_codes
        ]
        # Same seed convention as the oracles (id < n_codes); with
        # gapped ids the seed set shrinks and, at zero seeds,
        # best_code would stay None and emit NULL-code rows — raise
        # instead of silently training a degenerate codebook.
        if len(cents) < n_codes:
            raise ValueError(
                f"pq seeding found {len(cents)} sample vectors with "
                f"id < {n_codes}; the id<n_codes seed convention "
                "requires contiguous ids from 0 — re-key the corpus "
                "or pass pre-trained codebooks"
            )
        for _ in range(iters):
            withn = [(c, cv, _dot_seq(cv, cv)) for c, cv in cents]
            sums: dict[int, list[int]] = {}
            counts: dict[int, int] = {}
            for _vid, sv in svecs:
                xx = _dot_seq(sv, sv)
                best_code, best_d = None, None
                for code, cv, cc in withn:
                    d = _round_half_up(
                        (xx - 2 * _dot_seq(sv, cv)) + cc, ROUND_DIGITS
                    )
                    if best_d is None or d < best_d:
                        best_code, best_d = code, d
                acc = sums.get(best_code)
                if acc is None:
                    acc = [0] * sub
                    sums[best_code] = acc
                for i, x in enumerate(sv):
                    acc[i] += int(_round_half_up(x * KMEANS_SCALE, 0))
                counts[best_code] = counts.get(best_code, 0) + 1
            cents = [
                (c, [(s / KMEANS_SCALE) / counts[c] for s in sums[c]])
                for c in sorted(sums)
            ]
        out.extend((j, c, cv) for c, cv in cents)
    return literal_rows_df(
        spark, out, "subspace int, code long, subvec array<double>"
    )


@_cached_trainer
def pq_train_residual_local(
    embeddings: DataFrame,
    centroids: DataFrame,
    n_subspaces: int,
    n_codes: int,
    iters: int,
    dim: int,
    sample_n: int = 1 << 18,
    cache_key: str | None = None,
) -> DataFrame:
    """Train PQ codebooks on IVF RESIDUALS (x − its cell centroid) —
    the FAISS IVFx,PQy refinement: residuals concentrate around the
    origin, so the same code budget quantizes them with far less
    error than raw vectors. One shared codebook across cells (the
    standard construction; per-cell books multiply model size by
    n_cells for marginal gain).

    Deterministic and engine-replayable like every trainer here: the
    sample's cell assignment replicates ``ivf_assign`` exactly
    (rounded-HALF_UP cosine argmax, tie → smallest cell), residuals
    are elementwise IEEE subtraction, and the per-subspace Lloyd loop
    is :func:`_pq_lloyd_from_vecs` verbatim.
    """
    spark = embeddings.sparkSession
    sub = dim // n_subspaces
    vecs = _collect_sample(embeddings, "vec_id", "embedding", sample_n)
    norms = _with_norms(
        sorted(
            (int(r[0]), [float(x) for x in r[1]])
            for r in centroids.select("cell_id", "embedding").collect()
        )
    )
    residuals: list[tuple[int, list[float]]] = []
    for vid, v in vecs:
        cv = _nearest_cell(v, norms)[1]
        residuals.append((vid, [x - y for x, y in zip(v, cv)]))
    return _pq_lloyd_from_vecs(
        spark, residuals, n_subspaces, n_codes, iters, sub
    )


def _explode_subspaces(
    df: DataFrame,
    keys: list[str],
    vec: str,
    sv: str,
    n_subspaces: int,
    sub: int,
) -> DataFrame:
    """One row per (row, subspace) → ``(*keys, subspace, sv)``, where
    ``sv`` is the ``vec`` column's ``sub``-wide coordinate block as
    doubles (1-based slice, matching DuckDB's ``list_slice``)."""
    slices = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.slice(_as_double(F.col(vec)), j * sub + 1, sub).alias("_sv"),
            )
            for j in range(n_subspaces)
        ]
    )
    return df.select(*keys, F.explode(slices).alias("_e")).select(
        *keys,
        F.col("_e.subspace").alias("subspace"),
        F.col("_e._sv").alias(sv),
    )


def _fixed_dot(a: str, b: str) -> Column:
    """``a·b`` as a ``KMEANS_SCALE`` fixed-point long: lookup-table
    partials sum exactly and order-independently in any engine."""
    return F.round(dot(F.col(a), F.col(b)) * KMEANS_SCALE).cast("long")


def _adc_lut(
    q: DataFrame, codebooks: DataFrame, n_subspaces: int, sub: int
) -> DataFrame:
    """Per-query ADC lookup table over the codebooks →
    ``(query_id, _qn, subspace, code, _pd, _cn2)``: fixed-point
    ``q_m·c`` and ``c·c`` per codeword. ``q`` is a :func:`_query_vecs`
    frame."""
    cb = codebooks.select("subspace", "code", F.col("subvec").alias("_cv"))
    qex = _explode_subspaces(
        q, ["query_id", "_qn"], "_qv", "_qsv", n_subspaces, sub
    )
    return qex.join(cb, "subspace").select(
        "query_id",
        "_qn",
        "subspace",
        "code",
        _fixed_dot("_qsv", "_cv").alias("_pd"),
        _fixed_dot("_cv", "_cv").alias("_cn2"),
    )


def _adc_sums(rows: DataFrame, id_col: str) -> DataFrame:
    """Sum the looked-up partials per (query, vector) →
    ``(query_id, id_col, _sd, _sn2, _qn)``."""
    return rows.groupBy("query_id", id_col).agg(
        F.sum("_pd").alias("_sd"),
        F.sum("_cn2").alias("_sn2"),
        F.max("_qn").alias("_qn"),
    )


def _approx_cos(sd: Column, n2: Column) -> Column:
    """Rounded approximate cosine from fixed-point ``q·x̃`` (``sd``)
    and ``|x̃|²`` (``n2``) sums and the query norm ``_qn``."""
    return F.round(
        _norm_ratio(
            sd.cast("double") / KMEANS_SCALE,
            F.col("_qn") * F.sqrt(n2.cast("double") / KMEANS_SCALE),
        ),
        ROUND_DIGITS,
    )


def _rerank_top_k(
    adc: DataFrame,
    approx: Column,
    candidates: int,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The top-``candidates`` ``adc`` rows per query by ``approx``
    (``approx_cosine desc``, id asc), re-ranked by exact cosine against
    the full vectors in ``corpus`` → ``(query_id, neighbor_id, cosine,
    approx_cosine, rank)``."""
    wc = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col(id_col).asc()
    )
    cand = (
        adc.withColumn("approx_cosine", approx)
        .withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") <= candidates)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "approx_cosine"
        )
    )
    vecs = _neighbor_vecs(corpus, id_col, vec_col, v="_cvf")
    qvec = _query_vecs(queries, id_col, vec_col, v="_qvf", n="_qnf")
    rer = (
        cand.join(vecs, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "approx_cosine",
            _rcos("_qvf", "_cvf", "_qnf", "_cn").alias("cosine"),
        )
    )
    return _rank_top_k(rer, k, "approx_cosine")


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int,
    dim: int,
) -> DataFrame:
    """Quantize each vector → ``(vec_id, subspace, code)``.

    Codebooks broadcast (``n_subspaces × n_codes`` rows), so scoring
    is a map-side pass; the argmin is a ``min(struct(d², code))``
    aggregation — partial aggregation combines the ``n_codes``
    candidate rows per (vector, subspace) on the map side, so the one
    exchange carries N×M skinny rows (id, subspace, code), never the
    vectors themselves. At 100 TB this runs once at ingest and the
    codes (M bytes/vector) are what the ADC scan reads ever after.
    """
    sub = dim // n_subspaces
    # x·x is codeword-independent and c·c is vector-independent, so
    # both are projected BEFORE the broadcast join — the per-pair
    # expression evaluates one dot instead of three, while the final
    # arithmetic keeps the exact cross-engine IEEE order
    # ``(x·x − 2·x·c) + c·c``.
    ex = _explode_subspaces(
        embeddings.filter(F.col("embedding").isNotNull()),
        ["vec_id"],
        "embedding",
        "_sv",
        n_subspaces,
        sub,
    ).withColumn("_xx", dot(F.col("_sv"), F.col("_sv")))
    cb = codebooks.select(
        "subspace", "code", F.col("subvec").alias("_cv")
    ).withColumn("_cc", dot(F.col("_cv"), F.col("_cv")))
    d2 = F.round(
        (F.col("_xx") - 2 * dot(F.col("_sv"), F.col("_cv"))) + F.col("_cc"),
        ROUND_DIGITS,
    )
    scored = ex.join(F.broadcast(cb), "subspace").select(
        "vec_id", "subspace", F.col("code"), d2.alias("_d2")
    )
    best = scored.groupBy("vec_id", "subspace").agg(
        F.min(
            F.struct(F.col("_d2").alias("d"), F.col("code").alias("c"))
        ).alias("_m")
    )
    return best.select("vec_id", "subspace", F.col("_m.c").alias("code"))


def pq_encode_arrow(
    embeddings: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize each vector → ``(vec_id, subspace, code)`` on the
    Arrow/numpy path — the scale formulation of :func:`pq_encode`
    (same recipe as :func:`brute_force_topk_arrow`).

    The expression form materializes one scored row per (vector,
    subspace, codeword) before the argmin aggregation — correct, and
    2× cheaper since the r4 x·x / c·c hoist, but the N×M×K candidate
    rows still exist and the interpreted lambda chain dominated the
    sf10 encode stage (57 s, PERF.md). Here the codebooks (tiny:
    ``n_subspaces × n_codes`` subvectors) are collected once and
    broadcast as numpy matrices; one ``mapInPandas`` pass computes
    each Arrow batch's ``B × n_codes`` distance matrix per subspace
    with a single BLAS matmul and emits the argmin codes directly —
    no candidate materialization, no exchange at all (the expression
    path's one exchange carried the argmin partials; this path's
    output is already one row per (vector, subspace)).

    Parity contract: identical codes to :func:`pq_encode` — the same
    ``(x·x − 2·x·c) + c·c`` arithmetic, the same HALF_UP rounding at
    ``ROUND_DIGITS`` (sign-aware ``floor(|x|·10^d + 0.5)``; numpy's
    default is half-to-even), ties → smallest code (argmin returns
    the first minimum and rows are code-ordered). numpy's pairwise
    summation can differ from the sequential expression dot below the
    rounding threshold; the rounding absorbs it (pinned by
    ``tests/test_pq.py``'s parity test on the driver fixtures).
    """
    import numpy as np

    sub = dim // n_subspaces
    cb_rows = codebooks.select("subspace", "code", "subvec").collect()
    by_sub: dict[int, list] = {}
    for r in cb_rows:
        by_sub.setdefault(int(r[0]), []).append(
            (int(r[1]), [float(x) for x in r[2]])
        )
    cmats = []
    ccods = []
    for m in range(n_subspaces):
        entries = sorted(by_sub.get(m, []))  # code-ordered → argmin tie
        ccods.append(np.array([c for c, _ in entries], dtype="int64"))
        cmats.append(np.array([v for _, v in entries], dtype="float64"))
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast((cmats, ccods))

    out_schema = "vec_id long, subspace int, code long"

    def encode(batches):
        import numpy as np
        import pandas as pd

        mats, cods = bc.value
        p = 10.0 ** ROUND_DIGITS
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            x = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            out_ids = []
            out_sub = []
            out_code = []
            for m in range(n_subspaces):
                xm = x[:, m * sub : (m + 1) * sub]
                cm, codes_m = mats[m], cods[m]
                xx = (xm * xm).sum(axis=1)
                cc = (cm * cm).sum(axis=1)
                d2 = (xx[:, None] - 2.0 * (xm @ cm.T)) + cc[None, :]
                d2 = np.sign(d2) * np.floor(np.abs(d2) * p + 0.5) / p
                best = codes_m[np.argmin(d2, axis=1)]
                out_ids.append(ids)
                out_sub.append(np.full(len(ids), m, dtype="int32"))
                out_code.append(best)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_ids),
                    "subspace": np.concatenate(out_sub),
                    "code": np.concatenate(out_code),
                }
            )

    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"), vec_col
    ).mapInPandas(encode, schema=out_schema)


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    candidates: int = 20,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC (asymmetric-distance) top-k over PQ codes + exact re-rank.

    Approximate cosine from codes alone: the dot product decomposes
    exactly over the disjoint coordinate blocks, so
    ``q·x̃ = Σ_m q_m·c_{m,code_m}`` and ``|x̃|² = Σ_m |c_{m,code_m}|²``
    — both read from a per-query lookup table of
    ``n_subspaces × n_codes`` entries. The LUT partials are stored as
    ``KMEANS_SCALE`` fixed-point integers so the Σ over subspaces is
    an exact, order-independent integer sum (cross-engine-identical);
    the rounded approximate cosine ranks candidates, and only the top
    ``candidates`` per query touch full vectors for the exact re-rank.

    Plan shape: codes ⋈ broadcast LUT (map-side) → one combine-heavy
    groupBy whose exchange carries ≤ N×|Q| partial rows → top-C window
    over (query, approx score) → candidate-only exact cosine. The
    corpus' full vectors are read once (encode) and again only for
    C×|Q| candidate rows; at billion-vector scale the ADC scan touches
    M bytes per vector instead of dim×4.

    ``codes``: optional precomputed ``(vec_id, subspace, code)`` frame
    — the :func:`pq_encode_arrow` output for the SAME corpus and
    codebooks. sim_pq_battery encodes once and shares the frame with
    its ivfpq rung (guide §2.4: one materialized exchange replaces a
    second full-corpus encode pass); results are unchanged by
    construction (same codes feed the same ADC arithmetic).

    Returns ``(query_id, neighbor_id, cosine, approx_cosine, rank)``.
    """
    if codebooks is None:
        codebooks = pq_train_local(
            embeddings,
            n_subspaces=n_subspaces,
            n_codes=n_codes,
            iters=iters,
            dim=dim,
        )
    if codes is None:
        # Arrow/BLAS encode (18x the expression path at sf10: 50.6 s ->
        # 2.8 s, PERF.md) — code-identical by the parity contract pinned
        # in tests/test_pq.py; the expression encoder remains the
        # zero-Python baseline.
        codes = pq_encode_arrow(embeddings, codebooks, n_subspaces, dim)
    q = _query_vecs(
        queries.filter(F.col("embedding").isNotNull()), "vec_id", "embedding"
    )
    lut = _adc_lut(q, codebooks, n_subspaces, dim // n_subspaces)
    adc = _adc_sums(codes.join(F.broadcast(lut), ["subspace", "code"]), "vec_id")
    return _rerank_top_k(
        adc.filter(F.col("query_id") != F.col("vec_id")),
        _approx_cos(F.col("_sd"), F.col("_sn2")),
        candidates,
        embeddings,
        queries,
        k,
        "vec_id",
        "embedding",
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    candidates: int = 20,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the canonical billion-vector ANN layout (FAISS
    ``IVFx,PQy``; Jégou et al. 2011) — IVF cell pruning bounds WHICH
    vectors are scored, PQ codes bound WHAT is read per vector, and an
    exact re-rank of ``candidates`` rows restores true cosines at the
    top.

    Pipeline: nearest-centroid cell assignment (broadcast centroids,
    ``max(struct)`` argmax), PQ encoding of the raw vectors with
    global codebooks (:func:`ivf_pq_residual_topk` encodes the
    residuals to the cell centroid instead), per-query ``nprobe`` cell
    probes, then fixed-point ADC scoring of ONLY the probed cells'
    codes, top-``candidates`` cut, exact re-rank.

    Scale shape: at rest the corpus is stored bucketed by ``cell_id``
    with its M-byte codes; a query touches ``nprobe/n_cells`` of the
    rows and ``M`` bytes per touched row — the two multiplicative
    reductions compose. Every join here is broadcast (probes, LUT,
    query vectors); the only wide exchanges are the encode argmin and
    the per-(query, vector) ADC sum, both map-side combinable.

    ``codes`` / ``assigned``: optional precomputed frames (the
    :func:`pq_encode_arrow` / :func:`ivf_assign` outputs for the same
    corpus, codebooks and centroids). sim_pq_battery shares one codes
    frame with its flat-PQ rung and one assignment frame with its
    residual rung (guide §2.4); results are unchanged by construction.

    Returns ``(query_id, neighbor_id, cosine, approx_cosine, rank)``.
    """
    if centroids is None:
        centroids = _lowest_id_centroids(embeddings, n_cells, "vec_id", "embedding")
    if codebooks is None:
        codebooks = pq_train_local(
            embeddings,
            n_subspaces=n_subspaces,
            n_codes=n_codes,
            iters=iters,
            dim=dim,
        )
    if assigned is None:
        assigned = ivf_assign(embeddings, centroids, "vec_id", "embedding")
    if codes is None:
        codes = pq_encode_arrow(embeddings, codebooks, n_subspaces, dim)
    cent = _centroid_vecs(centroids, "embedding")
    q = _query_vecs(queries, "vec_id", "embedding")
    probes = _probe_cells(q, cent, nprobe)
    lut = _adc_lut(q, codebooks, n_subspaces, dim // n_subspaces)
    # ADC over probed cells only
    probed = (
        assigned.select("cell_id", F.col("vec_id"))
        .join(F.broadcast(probes), "cell_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
    )
    adc = _adc_sums(
        probed.join(codes, "vec_id").join(
            F.broadcast(lut), ["query_id", "subspace", "code"]
        ),
        "vec_id",
    )
    return _rerank_top_k(
        adc,
        _approx_cos(F.col("_sd"), F.col("_sn2")),
        candidates,
        embeddings,
        queries,
        k,
        "vec_id",
        "embedding",
    )


def ivf_pq_residual_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    candidates: int = 20,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the full FAISS ``IVFx,PQy``
    construction: each vector is quantized as ``x ≈ c_cell + r̃`` where
    ``r̃`` is the PQ reconstruction of ``x − c_cell``. Residuals
    concentrate around the origin, so the same code budget carries far
    less quantization error than coding raw vectors
    (:func:`ivf_pq_topk`, the non-residual baseline).

    ADC decomposition (all terms from broadcast lookup tables, summed
    as exact int64 fixed-point):
    ``q·x̃ = q·c_cell + Σ_m q_m·r̃_m`` and
    ``|x̃|² = |c|² + 2·Σ_m c_m·r̃_m + Σ_m |r̃_m|²`` — the cross term
    does NOT vanish (residuals are not orthogonal to centroids), so a
    per-(cell, subspace, code) table carries it: n_cells×M×K entries,
    trivially broadcast. The quantized |x̃|² can round a few fixed-
    point units below zero when a residual is ~0; both engines clamp
    with ``greatest(·, 0)`` before the sqrt.

    Scale shape identical to :func:`ivf_pq_topk`: probes bound WHICH
    rows, codes bound WHAT is read, every lookup broadcasts, the two
    wide exchanges (encode argmin, per-(query, vector) ADC sum)
    combine map-side.

    ``assigned``: optional precomputed :func:`ivf_assign` output for
    the same corpus and centroids (sim_pq_battery shares one
    assignment frame with its ivfpq rung, guide §2.4 — the battery's
    Spark plan then materializes the assignment exchange once and
    ReusedExchange serves the other consumers); results are unchanged
    by construction. When built here, the corpus is pre-filtered to
    non-NULL ids — a semantic no-op (every output path inner-joins on
    the id) that keeps this function's own two ``assigned`` consumers
    (residual encode, probe scan) byte-identical below the exchange so
    the reuse also fires standalone.

    Returns ``(query_id, neighbor_id, cosine, approx_cosine, rank)``.
    """
    if centroids is None:
        centroids = _lowest_id_centroids(embeddings, n_cells, "vec_id", "embedding")
    if codebooks is None:
        codebooks = pq_train_residual_local(
            embeddings,
            centroids,
            n_subspaces=n_subspaces,
            n_codes=n_codes,
            iters=iters,
            dim=dim,
        )
    if assigned is None:
        assigned = ivf_assign(
            embeddings.filter(F.col("vec_id").isNotNull()),
            centroids,
            "vec_id",
            "embedding",
        )
    cent = _centroid_vecs(centroids, "embedding")

    # residual vectors (elementwise IEEE subtraction) -> PQ codes
    res = assigned.join(
        F.broadcast(cent.select("cell_id", "_mv")), "cell_id"
    ).select(
        "vec_id",
        "cell_id",
        F.zip_with(
            F.col("embedding"),
            F.col("_mv"),
            lambda x, y: x.cast("double") - y.cast("double"),
        ).alias("_res"),
    )
    codes = pq_encode_arrow(res, codebooks, n_subspaces, dim, "_res")

    q = _query_vecs(queries, "vec_id", "embedding")
    probes = _probe_cells(q, cent, nprobe)

    # broadcast lookup tables (all fixed-point int64)
    sub = dim // n_subspaces
    cb = codebooks.select("subspace", "code", F.col("subvec").alias("_cv"))
    qc = q.join(F.broadcast(cent)).select(
        "query_id", "_qn", "cell_id", _fixed_dot("_qv", "_mv").alias("_qc")
    )
    cc = cent.select("cell_id", _fixed_dot("_mv", "_mv").alias("_cc"))
    qex = _explode_subspaces(q, ["query_id"], "_qv", "_qsv", n_subspaces, sub)
    qr = qex.join(cb, "subspace").select(
        "query_id", "subspace", "code", _fixed_dot("_qsv", "_cv").alias("_qr")
    )
    cslice = _explode_subspaces(
        cent, ["cell_id"], "_mv", "_cmv", n_subspaces, sub
    )
    cr = cslice.join(cb, "subspace").select(
        "cell_id", "subspace", "code", _fixed_dot("_cmv", "_cv").alias("_cr")
    )
    rr = cb.select("subspace", "code", _fixed_dot("_cv", "_cv").alias("_rr"))

    # ADC over probed cells only
    probed = (
        assigned.select("cell_id", F.col("vec_id"))
        .join(F.broadcast(probes), "cell_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "cell_id")
    )
    sums = (
        probed.join(codes.select("vec_id", "subspace", "code"), "vec_id")
        .join(F.broadcast(qr), ["query_id", "subspace", "code"])
        .join(F.broadcast(cr), ["cell_id", "subspace", "code"])
        .join(F.broadcast(rr), ["subspace", "code"])
        .groupBy("query_id", "vec_id", "cell_id")
        .agg(
            F.sum("_qr").alias("_sqr"),
            F.sum("_cr").alias("_scr"),
            F.sum("_rr").alias("_srr"),
        )
    )
    adc = sums.join(F.broadcast(qc), ["query_id", "cell_id"]).join(
        F.broadcast(cc), "cell_id"
    )
    sd = (F.col("_qc") + F.col("_sqr")).cast("long")
    n2 = (
        F.col("_cc") + F.lit(2) * F.col("_scr") + F.col("_srr")
    ).cast("long")
    return _rerank_top_k(
        adc,
        _approx_cos(sd, F.greatest(n2, F.lit(0))),
        candidates,
        embeddings,
        queries,
        k,
        "vec_id",
        "embedding",
    )


def ivf_pq_write_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    path: str,
    dim: int,
    n_subspaces: int,
    recall_kwargs: dict | None = None,
) -> None:
    """Materialize the IVF-PQ index as storage layout: the corpus
    written hive-partitioned by ``cell_id``, each row carrying its
    ``pq_codes`` array (subspace-ordered) next to the raw vector.

    Every build certifies itself: :func:`ann_recall_estimate` runs
    at ``target_recall=0.9`` after the write — see
    :func:`ivf_write_index`; the IVF-PQ ladder also
    scales the exact-re-rank pool with nprobe (a fixed pool drowns in
    ADC noise as probed cells grow), and ``nprobe="auto"`` probes
    consume the recorded (nprobe, candidates) pair or the exact-scan
    fallback.

    At rest this is the full billion-vector layout: a probe
    partition-prunes to nprobe/n_cells of the files, the ADC scan
    projects ONLY ``(id, pq_codes)`` — parquet column pruning skips
    the vector bytes entirely — and the exact re-rank re-reads the
    vector column for candidate rows alone. Encode runs once at write
    time, never per query.
    """
    # Arrow/BLAS assignment (cell-identical by the ivf_assign_arrow
    # parity contract): the build scores the corpus against ALL
    # cells, where the expression form's O(N·C·dim) pass dominates.
    assigned = ivf_assign_arrow(embeddings, centroids, "vec_id", "embedding")
    # Arrow/BLAS encode, as in pq_topk
    codes = pq_encode_arrow(embeddings, codebooks, n_subspaces, dim)
    packed = codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("subspace"), F.col("code")))
            ),
            lambda s: s["code"],
        ).alias("pq_codes")
    )
    # Align the exchange with the directory layout (see
    # ivf_write_index): one file per cell instead of tasks × cells
    # stragglers — at a billion vectors the difference between a
    # probe that opens nprobe files and one that opens thousands.
    assigned.join(packed, "vec_id").repartition(F.col("cell_id")).write.partitionBy(
        "cell_id"
    ).mode("overwrite").parquet(path)
    ann_recall_estimate(
        embeddings.sparkSession, path, embeddings, centroids,
        kind="ivf_pq", codebooks=codebooks, n_subspaces=n_subspaces,
        dim=dim, target_recall=0.9, **(recall_kwargs or {}),
    )


def ivf_pq_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int,
    nprobe: int | str = "auto",
    n_subspaces: int = 8,
    dim: int = 64,
    candidates: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a persisted IVF-PQ index
    (:func:`ivf_pq_write_index`) — identical semantics to
    :func:`ivf_pq_topk`, minus the per-query assignment and encode
    scans.

    The probed cells become a static ``cell_id IN (...)`` predicate
    (partition-pruned file listing); the ADC pass reads only
    ``(id, pq_codes)`` columns of those partitions; candidate rows
    alone come back for the exact re-rank.

    ``nprobe="auto"`` (the DEFAULT since r10) consumes the build-time
    recall marker (see
    :func:`ivf_topk_from_index`): the recorded (nprobe, candidates)
    pair — ``candidates`` is then taken from the marker, not the
    argument — or the exact-scan fallback when the estimate showed no
    rung reaching the target (``approx_cosine`` equals the exact
    cosine on that path). An integer nprobe is the explicit
    uncertified override.
    """
    if nprobe == "auto":
        nprobe, auto_cand = _resolve_auto_probe(
            spark, index_path, "ivf_pq", k
        )
        if nprobe is None:
            exact = exact_topk_from_index(
                spark, index_path, queries, k, id_col=id_col, vec_col=vec_col
            )
            return exact.select(
                "query_id",
                "neighbor_id",
                "cosine",
                F.col("cosine").alias("approx_cosine"),
                "rank",
            )
        if auto_cand is not None:
            candidates = auto_cand
    cent = _centroid_vecs(centroids, vec_col)
    q = _query_vecs(queries, id_col, vec_col)
    probes = _probe_cells(q, cent, nprobe).localCheckpoint(eager=True)
    # ^ same two-consumer materialization as ivf_topk_from_index
    index = _read_cells(spark, index_path, probes)
    lut = _adc_lut(q, codebooks, n_subspaces, dim // n_subspaces)
    code_rows = index.select(
        "cell_id",
        F.col(id_col),
        F.posexplode(F.col("pq_codes")).alias("subspace", "code"),
    )
    adc = _adc_sums(
        code_rows.join(F.broadcast(probes), "cell_id")
        .filter(F.col("query_id") != F.col(id_col))
        .join(F.broadcast(lut), ["query_id", "subspace", "code"]),
        id_col,
    )
    return _rerank_top_k(
        adc,
        _approx_cos(F.col("_sd"), F.col("_sn2")),
        candidates,
        index,
        queries,
        k,
        id_col,
        vec_col,
    )


# ---------------------------------------------------------------------------
# Build-time recall estimation + probe auto-escalation (round 9)
# ---------------------------------------------------------------------------

#: Marker written next to an IVF / IVF-PQ index by
#: :func:`ann_recall_estimate`; consumed by ``nprobe="auto"`` probes.
ANN_RECALL_MARKER = "_ann_recall.json"

#: Default nprobe escalation ladder (clipped to n_cells). Geometric:
#: each rung doubles the scanned fraction, so the walk to ANY
#: achievable target costs at most 2x the final rung's scan.
ANN_NPROBE_LADDER = (4, 8, 16, 32, 64, 128)


def ann_recall_estimate(
    spark,
    index_path: str,
    embeddings: DataFrame,
    centroids: DataFrame,
    *,
    kind: str = "ivf",
    codebooks: DataFrame | None = None,
    n_subspaces: int | None = None,
    dim: int | None = None,
    k: int = 10,
    n_queries: int = 32,
    target_recall: float = 0.9,
    nprobe_ladder: tuple[int, ...] = ANN_NPROBE_LADDER,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    write_marker: bool = True,
) -> dict:
    """Measure the just-built index's recall@k on a sampled exact
    ground truth and record the nprobe the index actually NEEDS for
    ``target_recall`` — or the fact that no ladder rung reaches it.

    Why this exists: IVF recall is a property of the DATA, not the
    index. On clustered corpora (real encoder embeddings — the
    workload ANN exists for here) a handful of probes recover >0.95
    recall; on high-dimensional UNIFORM vectors no partitioning
    scheme can concentrate a query's neighbors in few cells, and the
    measured recall@10 silently degrades to a coin flip
    (ANN_recall.json: 0.96 clustered vs 0.44 uniform at the same
    nprobe). A user cannot see which regime their corpus is in from
    the probe results — this estimator makes the index MEASURE it at
    build time and makes ``nprobe="auto"`` act on it.

    Method: ``n_queries`` corpus vectors are hash-sampled
    (order by ``xxhash64(id)`` — deterministic, id-locality-free),
    exact ground truth is one :func:`brute_force_topk_arrow` corpus
    pass (BLAS; at build time this is a small fraction of the
    assignment+encode scans the build already ran), then the ladder
    is walked with cheap partition-pruned probes until a rung's
    measured recall reaches the target. For IVF-PQ the re-rank pool
    scales with the rung (``candidates = max(10 * k, k * nprobe)``):
    a fixed pool drowns in ADC quantization noise as more cells are
    probed — the measured cause of ANN_recall.json's recall DROPPING
    with nprobe on uniform data.

    Returns (and, with ``write_marker``, records next to the index as
    ``_ann_recall.json``) ``{kind, k, n_queries, target_recall,
    curve: [{nprobe, candidates, recall, scanned_fraction}],
    recommended_nprobe, recommended_candidates, fallback}`` —
    ``fallback: true`` means NO rung reached the target and
    ``nprobe="auto"`` probes must take the exact-scan path
    (:func:`exact_topk_from_index`). The marker is advisory for
    integer-nprobe callers and binding for ``"auto"``.

    ``kind="ivf_pq"`` also needs the index's ``codebooks``,
    ``n_subspaces`` and ``dim`` (the PQ subspace width is
    ``dim // n_subspaces``).
    """
    import json as _json

    if kind not in ("ivf", "ivf_pq"):
        raise ValueError(f"kind must be ivf|ivf_pq: {kind}")
    if kind == "ivf_pq" and (
        codebooks is None or n_subspaces is None or dim is None
    ):
        raise ValueError("kind='ivf_pq' requires codebooks + n_subspaces + dim")
    n_cells = centroids.count()
    base = 10 * k

    q = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col).cast("long")).asc())
        .limit(n_queries)
        .select(id_col, vec_col)
        .localCheckpoint(eager=True)
    )
    truth = brute_force_topk_arrow(
        embeddings, q, k=k, id_col=id_col, vec_col=vec_col
    ).collect()
    want = {(r.query_id, r.neighbor_id) for r in truth}

    curve = []
    recommended = None
    rec_cand = None
    for rung in nprobe_ladder:
        nprobe = min(int(rung), int(n_cells))
        cand = max(base, k * nprobe)
        if kind == "ivf":
            got_rows = ivf_topk_from_index(
                spark, index_path, q, centroids, k=k, nprobe=nprobe,
                id_col=id_col, vec_col=vec_col,
            ).collect()
        else:
            got_rows = ivf_pq_topk_from_index(
                spark, index_path, q, centroids, codebooks, k=k,
                nprobe=nprobe, n_subspaces=n_subspaces, dim=dim,
                candidates=cand, id_col=id_col, vec_col=vec_col,
            ).collect()
        got = {(r.query_id, r.neighbor_id) for r in got_rows}
        recall = len(got & want) / max(len(want), 1)
        curve.append(
            {
                "nprobe": nprobe,
                "candidates": cand if kind == "ivf_pq" else None,
                "recall": round(recall, 4),
                "scanned_fraction": round(nprobe / max(n_cells, 1), 5),
            }
        )
        if recall >= target_recall:
            recommended, rec_cand = nprobe, cand
            break
        if nprobe >= n_cells:
            break

    result = {
        "kind": kind,
        "k": k,
        "n_queries": n_queries,
        "target_recall": target_recall,
        "n_cells": int(n_cells),
        "curve": curve,
        "recommended_nprobe": recommended,
        "recommended_candidates": rec_cand if kind == "ivf_pq" else None,
        "fallback": recommended is None,
    }
    if write_marker:
        from vbb_data_pipeline_spark.sources.layout import hadoop_write_text

        hadoop_write_text(
            spark,
            index_path.rstrip("/") + "/" + ANN_RECALL_MARKER,
            _json.dumps(result, sort_keys=True),
        )
    return result


def _read_recall_marker(spark, index_path: str) -> dict:
    import json as _json

    from vbb_data_pipeline_spark.sources.layout import (
        hadoop_exists,
        hadoop_read_text,
    )

    marker = index_path.rstrip("/") + "/" + ANN_RECALL_MARKER
    if not hadoop_exists(spark, marker):
        raise ValueError(
            f"nprobe='auto' needs a recall marker at {marker} — build "
            "the index with target_recall=... (ivf_write_index / "
            "ivf_pq_write_index) or run ann_recall_estimate after the "
            "build, or pass an integer nprobe"
        )
    return _json.loads(hadoop_read_text(spark, marker))


def exact_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over a persisted IVF / IVF-PQ index — the enforced
    fallback when the build-time recall estimate shows NO nprobe rung
    reaches the target (uniform / unclusterable embeddings). Both
    index layouts store the raw vector column, so the exact path is
    one :func:`brute_force_topk_arrow` scan of the index files:
    recall 1.0 by construction, cost one corpus pass per query batch —
    the honest price of data no partitioning scheme can prune."""
    index = spark.read.parquet(index_path).select(id_col, vec_col)
    return brute_force_topk_arrow(
        index, queries, k=k, id_col=id_col, vec_col=vec_col
    )


def _resolve_auto_probe(
    spark, index_path: str, kind: str, k: int
) -> tuple[int | None, int | None]:
    """(nprobe, candidates) from the recall marker, or (None, None)
    meaning: take the exact-scan fallback."""
    rec = _read_recall_marker(spark, index_path)
    if rec.get("kind") != kind:
        raise ValueError(
            f"recall marker at {index_path} was estimated for kind="
            f"{rec.get('kind')!r}, probe is {kind!r} — re-run "
            "ann_recall_estimate for this probe path"
        )
    # fallback first: an exact scan is exact for ANY k — it never
    # consumes the certified k or recommended_candidates, so the k
    # guard below must not block it (r9 advice: the guard ran first
    # and turned k>marker_k probes against fallback-marked indexes
    # into errors where exact results were correct).
    if rec.get("fallback"):
        return None, None
    # the certification is recall@MARKER_K: a probe with a SMALLER k
    # rides it conservatively (the certified candidate pool already
    # covers k' < k, and fewer wanted neighbors can only sit deeper
    # inside the same probed cells), but a LARGER k is a different
    # measurement — and for IVF-PQ the marker's recommended_candidates
    # (max(base, marker_k·nprobe)) would silently cap the result at
    # fewer than k rows per query.
    if int(k) > int(rec.get("k", 0)):
        raise ValueError(
            f"nprobe='auto' probe asks k={k} but the recall marker at "
            f"{index_path} certified k={rec.get('k')} — re-run "
            "ann_recall_estimate with recall_kwargs={'k': "
            f"{k}}} (or pass an integer nprobe) so the certification "
            "matches the probe"
        )
    return int(rec["recommended_nprobe"]), (
        int(rec["recommended_candidates"])
        if rec.get("recommended_candidates") is not None
        else None
    )
