"""Seeded random-corpus differential for the semdedup oracle leg:
random embeddings INCLUDING exact-duplicate vectors (forced cosine
ties — where HALF_UP rounding and tie-break order could diverge
between engines) through the registry query's Spark side vs the
DuckDB oracle replay. The fixed-table gate (sf0.001/sf0.01) covers
the real corpus; this covers distributions the fixtures don't."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from vbb_data_pipeline_spark.operators.similarity import (
    kmeans_centroids_local,
    semantic_dedup,
)
from vbb_data_pipeline_spark.queries.similarity_q import (
    _IVF_CELLS,
    _KMEANS_ITERS,
    _SD_THRESHOLD,
    _semdedup_oracle,
)

DIM = 64


@pytest.mark.parametrize("seed", [1, 17])
def test_random_embeddings_match_oracle(spark, seed):
    rng = np.random.default_rng(seed)
    n = 120
    vecs = rng.normal(size=(n, DIM)).round(3)
    # force ties: several exact duplicate clusters + one triple
    vecs[40] = vecs[7]
    vecs[41] = vecs[7]
    vecs[90] = vecs[55]
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids_local(
        df, n_cells=_IVF_CELLS, iters=_KMEANS_ITERS
    )
    got = {
        r["vec_id"]: (
            r["cell_id"],
            r["rnk"],
            r["max_cos_better"],
            r["dropped"],
        )
        for r in semantic_dedup(
            df, cents, threshold=_SD_THRESHOLD
        ).collect()
    }

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": range(n), "embedding": [list(v) for v in vecs]}
        ),
    )
    want = {
        int(r.id): (
            int(r.k1),
            int(r.rnk),
            None if pd.isna(r.cosine) else float(r.cosine),
            bool(r.dropped),
        )
        for r in con.execute(_semdedup_oracle()).df().itertuples()
    }
    assert got == want
