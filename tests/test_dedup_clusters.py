"""Connected-components operator semantics: chains, cycles, disjoint
components, and convergence in O(log diameter) rounds (pointer
jumping) — the near-dup cluster-assembly stage
(operators/dedup.connected_components)."""

from __future__ import annotations

import re

import pytest

from vbb_data_pipeline_spark.operators.dedup import connected_components


def _cc(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = connected_components(df, **kw)
    return {r["node"]: r["cluster_id"] for r in out.collect()}


def test_two_disjoint_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cycle_collapses(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 1)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_chain_converges_with_few_rounds(spark):
    """A 64-hop chain has diameter 64; pointer jumping must resolve it
    well inside 12 rounds (plain propagation would need ~64)."""
    chain = [(i, i + 1) for i in range(64)]
    got = _cc(spark, chain, max_iter=12)
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_bridge_merges_components(spark):
    got = _cc(spark, [(1, 2), (10, 11), (2, 10)])
    assert set(got.values()) == {1}


def test_lsh_bucket_size_cap(spark):
    """max_bucket_size drops pathological buckets (the quadratic-skew
    guard) without touching small buckets."""
    from vbb_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, "identical boilerplate text block") for i in range(10)]
    rows += [(100, "a different shared document body"),
             (101, "a different shared document body")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs, "text", "doc_id", hash_mode="oracle")

    unc = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", hash_mode="oracle").collect()
    }
    cap = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            sigs, "doc_id", hash_mode="oracle", max_bucket_size=5
        ).collect()
    }
    # uncapped: the 10-clone group is fully paired (45 pairs) + (100,101)
    assert (100, 101) in unc and len(unc) == 46
    # capped at 5: the size-10 buckets vanish; the size-2 bucket stays
    assert cap == {(100, 101)}


def test_cc_leaves_no_cache_entry(spark):
    """connected_components must not persist() anything: a CacheManager
    entry taxes every later query's planning session-wide (round-2
    postmortem). Runs the operator and asserts the session cache is
    empty — and would stay empty even if the loop raised mid-round."""
    mgr = spark._jsparkSession.sharedState().cacheManager()
    assert mgr.isEmpty(), "cache dirty before test"
    _cc(spark, [(1, 2), (2, 3), (4, 5), (5, 6), (6, 4)])
    assert mgr.isEmpty(), "connected_components left a CacheManager entry"


def test_cc_converges_with_60bit_ids(spark):
    """Convergence check must not int64-overflow when node ids are
    60-bit md5 keys (ANSI mode makes the old raw-label sum throw with
    as few as ~8 such nodes)."""
    from vbb_data_pipeline_spark.operators.dedup import connected_components

    base = (1 << 59)
    pairs = spark.createDataFrame(
        [(base + 2 * i, base + 2 * i + 1) for i in range(20)],
        "id_a long, id_b long",
    )
    got = connected_components(pairs).collect()
    assert len(got) == 40
    for r in got:
        assert r.cluster_id == (r.node // 2) * 2  # pair root = even id


def _mega_family(spark):
    """60 near-identical variants plus one unrelated document."""
    base = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while birds sing in the tall green trees all day long"
    )
    rows = [(i, f"v{i} " + base) for i in range(60)]
    rows.append((1000, "a completely different document about trains"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_star_pair_mode_collapses_mega_family(spark):
    """pair_mode='star': a family of near-identical variants (the
    mega-family shape of crawl corpora — measured 2.5e9 candidate
    rows in 'all' mode at 1 GB) produces n-1 edges per bucket, CC
    still unions the family, and the keep-min dedup leaves exactly
    one survivor."""
    from vbb_data_pipeline_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = _mega_family(spark)
    sigs = minhash_signatures(df, "text", "doc_id", hash_mode="oracle")
    star = lsh_candidate_pairs(
        sigs, "doc_id", hash_mode="oracle", pair_mode="star"
    )
    n_star = star.count()
    all_pairs = lsh_candidate_pairs(
        sigs, "doc_id", hash_mode="oracle", pair_mode="all"
    ).count()
    assert n_star < all_pairs  # 59-ish edges vs ~1770 pairs
    assert n_star <= 4 * 60  # <= (n-1) per band bucket

    near = jaccard_pairs(df, star, "text", "doc_id").filter(
        "jaccard >= 0.7"
    ).select("id_a", "id_b")
    cc = connected_components(near)
    fam = {r["node"]: r["cluster_id"] for r in cc.collect()}
    # the family forms ONE cluster rooted at the min id
    fam_ids = {i for i in range(60) if i in fam}
    assert len(fam_ids) >= 55  # nearly all variants entered the graph
    assert len({fam[i] for i in fam_ids}) == 1
    assert 1000 not in fam or fam[1000] != fam[0]


def test_exact_dedup_null_keys_survive(spark):
    """NULL keys form ONE group whose min-id row survives (SQL GROUP
    BY semantics) — the plain-= semi join used to drop every NULL-key
    row from the output entirely."""
    from vbb_data_pipeline_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("k", 3), ("k", 4)],
        "key string, doc_id long",
    )
    out = sorted(
        (
            (r["key"], r["doc_id"])
            for r in exact_dedup(df, ["key"], "doc_id").collect()
        ),
        key=lambda t: t[1],
    )
    assert out == [(None, 1), ("k", 3)]


def test_fingerprint_dedup_zero_token_docs_pass_through(spark):
    """Zero-token docs (fully non-Latin / punctuation-only) used to
    fingerprint as md5('') and collapse into one survivor; they now
    pass through untouched — no token evidence, no dedup."""
    from vbb_data_pipeline_spark.operators.dedup import fingerprint_dedup

    df = spark.createDataFrame(
        [
            (1, "!!! ??? ..."),
            (2, "你好世界"),
            (3, "the same words here"),
            (4, "here words same the"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in fingerprint_dedup(df, "text", "doc_id").collect()
    )
    assert kept == [1, 2, 3]  # 4 is a reordered dup of 3; 1,2 both kept


def test_lsh_banding_validation(spark):
    """bands > num_hashes degenerates every band to a constant bucket
    (full O(n^2) cross join); non-divisible splits silently drop
    signature rows — both must raise."""
    import pytest as _pytest

    from vbb_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, f"doc number {i} entirely unrelated {i*7}") for i in range(4)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, "text", "doc_id", num_hashes=4)
    with _pytest.raises(ValueError, match="bands"):
        lsh_candidate_pairs(sigs, "doc_id", num_hashes=4, bands=8)
    with _pytest.raises(ValueError, match="bands"):
        lsh_candidate_pairs(sigs, "doc_id", num_hashes=16, bands=5)


def test_line_dedup_default_preserves_blank_lines(spark):
    """Default min_chars=1: paragraph breaks are structure — the old
    0 default deduped the empty line corpus-wide, rewriting every
    doc's paragraph structure but the first's."""
    from vbb_data_pipeline_spark.operators.dedup import line_dedup_corpus

    df = spark.createDataFrame(
        [(1, "para1\n\npara2"), (2, "other1\n\nother2")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in line_dedup_corpus(df, "text", "doc_id").collect()
    }
    assert out[1] == "para1\n\npara2"
    assert out[2] == "other1\n\nother2"


def test_incremental_index_param_marker(spark, tmp_path):
    """Probing an at-rest index with different signature parameters
    than it was built with used to silently classify every near-dup
    'new'; the _dedup_params.json marker turns it into a ValueError."""
    import pytest as _pytest

    from vbb_data_pipeline_spark.operators.dedup import (
        dedup_incremental,
        dedup_index_write,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    p = str(tmp_path / "idx")
    dedup_index_write(df, p, num_hashes=32, bands=8)
    with _pytest.raises(ValueError, match="num_hashes"):
        dedup_incremental(
            df.withColumn("doc_id", F.col("doc_id") + 10), p
        ).collect()
    # matching params probe fine, and append under WRONG params raises
    dedup_incremental(
        df.withColumn("doc_id", F.col("doc_id") + 10), p,
        num_hashes=32, bands=8,
    ).collect()
    with _pytest.raises(ValueError, match="mismatched"):
        dedup_index_write(df, p, num_hashes=16, bands=4, mode="append")


# ---------------------------------------------------------------------------
# Rewrites pinned against the constructions they replaced. The old form
# of each operator is kept here, in the test, as the reference.


def _mixed_corpus(spark, seed: int, n_docs: int = 240):
    """Seeded corpus with every shape the dedup tier distinguishes:
    near-dup families (one word appended or swapped), token-reordered
    and token-repeated exact-ish duplicates (shared fingerprints),
    zero-token documents (null fingerprint) and unrelated singletons.
    Ids are unique and non-null, and their order is shuffled against
    the content so the min-id survivor is not always the first copy."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    rows: list[str] = []
    while len(rows) < n_docs:
        words = rng.choices(vocab, k=rng.randint(8, 30))
        kind = rng.random()
        if kind < 0.3:  # near-dup family
            rows.append(" ".join(words))
            for _ in range(rng.randint(1, 6)):
                v = list(words)
                if rng.random() < 0.5:
                    v.append(rng.choice(vocab))
                else:
                    v[rng.randrange(len(v))] = rng.choice(vocab)
                rows.append(" ".join(v))
        elif kind < 0.5:  # same token set: reordered / repeated copies
            rows.append(" ".join(words))
            for _ in range(rng.randint(1, 4)):
                v = words + rng.choices(words, k=rng.randint(0, 3))
                rng.shuffle(v)
                rows.append(" ".join(v))
        elif kind < 0.6:  # zero tokens: null fingerprint, never merged
            rows.append(rng.choice(["", "!!! ???", "你好世界", "... -- ..."]))
        else:
            rows.append(" ".join(words))
    ids = rng.sample(range(1, 10 * len(rows)), len(rows))
    return spark.createDataFrame(
        list(zip(ids, rows)), "doc_id long, text string"
    )


def _fingerprint_dedup_three_branch(df, text_col, id_col):
    """The pre-rewrite fingerprint_dedup: fingerprint evaluated in the
    not-null filter, the keep-min group and the null pass-through."""
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.functions.text import fingerprint
    from vbb_data_pipeline_spark.operators.dedup import exact_dedup

    fp = df.withColumn("_fp", fingerprint(text_col))
    deduped = exact_dedup(
        fp.filter(F.col("_fp").isNotNull()), ["_fp"], id_col
    ).drop("_fp")
    return deduped.unionByName(fp.filter(F.col("_fp").isNull()).drop("_fp"))


def _star_by_hub_join(sigs, id_col, num_hashes=16, bands=4, hash_mode="oracle"):
    """The pre-rewrite star edges: a groupBy-min hub table joined back
    onto the melted band buckets."""
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.operators.dedup import _band_buckets

    banded = sigs.select(
        F.col(id_col), *_band_buckets(id_col, num_hashes, bands, hash_mode)
    )
    melted = banded.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias("_bucket"),
    )
    hubs = melted.groupBy("_bucket").agg(F.min(id_col).alias("_hub"))
    return (
        melted.join(hubs, "_bucket")
        .filter(F.col(id_col) != F.col("_hub"))
        .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("seed", [11, 12])
def test_fingerprint_dedup_equals_three_branch_form(spark, seed):
    from vbb_data_pipeline_spark.operators.dedup import fingerprint_dedup

    df = _mixed_corpus(spark, seed)
    got = _rows(fingerprint_dedup(df, "text", "doc_id"))
    want = _rows(_fingerprint_dedup_three_branch(df, "text", "doc_id"))
    assert got == want
    # the corpus exercises every branch: duplicates removed, zero-token
    # (null-fingerprint) docs kept
    assert len(got) < df.count()
    assert any(not re.search("[a-z0-9]", t.lower()) for _, t in got)


@pytest.mark.parametrize("corpus", ["mega_family", "mixed"])
def test_star_edges_equal_hub_join_construction(spark, corpus):
    from vbb_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = _mega_family(spark) if corpus == "mega_family" else _mixed_corpus(spark, 13)
    sigs = minhash_signatures(df, "text", "doc_id", hash_mode="oracle")
    got = _rows(lsh_candidate_pairs(sigs, "doc_id", hash_mode="oracle", pair_mode="star"))
    want = _rows(_star_by_hub_join(sigs, "doc_id"))
    assert got and got == want


def test_star_candidates_plan_runs_minhash_once(spark):
    """The executed star-candidate plan holds exactly one MinHash
    aggregate — one final ``min`` over the shingle hashes, the
    aggregate producing ``mh_0`` (the optimizer folds the mh_* columns
    straight into the band buckets, so it is matched by its inputs).
    The hub is a window over the banded signatures, so no second
    branch re-runs the shingle/hash/groupBy(doc_id) lineage."""
    from vbb_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = _mixed_corpus(spark, 14)
    sigs = minhash_signatures(df, "text", "doc_id", hash_mode="oracle")
    star = lsh_candidate_pairs(sigs, "doc_id", hash_mode="oracle", pair_mode="star")
    star.collect()
    plan = star._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.partition("== Initial Plan ==")[0]
    minhash_aggs = [
        ln
        for ln in final.splitlines()
        if "Aggregate(" in ln and "functions=[min(((_h1#" in ln
    ]
    assert len(minhash_aggs) == 1, plan
