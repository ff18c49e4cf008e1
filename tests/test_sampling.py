"""Training-corpus sampling/sharding operators vs DuckDB oracles.

Every membership decision in ``operators/sampling.py`` is a salted
md5 bucket (oracle mode), so DuckDB can recompute the exact same
assignment independently — these tests hash-compare full assignments,
not just aggregate rates.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.operators.sampling import (
    N_BUCKETS,
    deterministic_split,
    pack_token_shards,
    stratified_sample,
    weighted_domain_mix,
)
from vbb_data_pipeline_spark.queries import load_table

SF = "/root/testdata/sf0.001"
DOCS = f"read_parquet('{SF}/documents.parquet')"


def bucket_sql(seed: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{seed}|' || CAST(doc_id AS VARCHAR)), 1, 15)"
        f" AS BIGINT) % {N_BUCKETS}"
    )


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_split_matches_duckdb(docs):
    out = deterministic_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05},
        seed=42, hash_mode="oracle",
    )
    got = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    exp = set(
        duckdb.sql(
            f"""
            SELECT doc_id,
                   CASE WHEN {bucket_sql('42')} < 9000 THEN 'train'
                        WHEN {bucket_sql('42')} < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM {DOCS}
            """
        ).fetchall()
    )
    assert got == exp
    # disjoint + exhaustive: one split per input row
    assert len(got) == docs.count()
    # all three splits materialize at n=500
    assert {s for _, s in got} == {"train", "val", "test"}


def test_split_stable_under_corpus_growth(docs):
    """Adding rows never reassigns existing ones (hash, not rank)."""
    full = deterministic_split(
        docs, "doc_id", {"train": 0.8, "val": 0.2}, seed=7, hash_mode="oracle"
    )
    half = deterministic_split(
        docs.filter("doc_id % 2 = 0"), "doc_id", {"train": 0.8, "val": 0.2},
        seed=7, hash_mode="oracle",
    )
    full_map = dict(
        full.filter("doc_id % 2 = 0").select("doc_id", "split").collect()
    )
    half_map = dict(half.select("doc_id", "split").collect())
    assert full_map == half_map


def test_stratified_sample_matches_duckdb(docs):
    fractions = {"en": 0.5, "de": 0.25}
    out = stratified_sample(
        docs, "lang", fractions, "doc_id", seed=3, hash_mode="oracle"
    )
    got = {r.doc_id for r in out.select("doc_id").collect()}
    exp = {
        r[0]
        for r in duckdb.sql(
            f"""
            SELECT doc_id FROM {DOCS}
            WHERE {bucket_sql('3')} <
                  CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 0 END
            """
        ).fetchall()
    }
    assert got == exp
    assert got  # en/de rows exist at sf0.001, so the sample is non-empty
    # default fraction 0 drops every other stratum
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}


def test_pack_token_shards_matches_greedy_oracle(docs):
    budget = 5_000
    out = pack_token_shards(
        docs, ["lang"], "doc_id", "n_chars", budget=budget
    )
    got = {
        (r.lang, r.doc_id): r.shard_id
        for r in out.select("lang", "doc_id", "shard_id").collect()
    }
    # independent greedy re-pack in plain python over DuckDB-ordered
    # rows, with the same dense re-label (raw floor ids can skip when
    # one doc spans >= 2 budgets)
    rows = duckdb.sql(
        f"SELECT lang, doc_id, n_chars FROM {DOCS} ORDER BY lang, doc_id"
    ).fetchall()
    cum: dict[str, int] = {}
    raw = {}
    for lang, doc_id, n in rows:
        before = cum.get(lang, 0)
        raw[(lang, doc_id)] = before // budget
        cum[lang] = before + n
    dense: dict[str, dict[int, int]] = {}
    for lang in cum:
        ids = sorted({r for (lg, _), r in raw.items() if lg == lang})
        dense[lang] = {r: i for i, r in enumerate(ids)}
    exp = {(lang, d): dense[lang][r] for (lang, d), r in raw.items()}
    assert got == exp
    # shard ids are dense from 0 per group
    per_group: dict[str, set] = {}
    for (lang, _), sid in got.items():
        per_group.setdefault(lang, set()).add(sid)
    for sids in per_group.values():
        assert sids == set(range(len(sids)))


def test_pack_rejects_global_pack(docs):
    with pytest.raises(ValueError, match="group_cols"):
        pack_token_shards(docs, [], "doc_id", "n_chars", budget=100)


def test_pack_dense_ids_with_oversized_doc(spark):
    """A document spanning >= 2 budgets must not leave holes in the
    shard id sequence."""
    df = spark.createDataFrame(
        [("g", 1, 250), ("g", 2, 10), ("g", 3, 10)],
        "grp string, doc_id long, n long",
    )
    got = {
        r.doc_id: r.shard_id
        for r in pack_token_shards(
            df, ["grp"], "doc_id", "n", budget=100
        ).collect()
    }
    # raw floor ids would be {1: 0, 2: 2, 3: 2} — shard 1 never exists;
    # dense re-label closes the gap
    assert got == {1: 0, 2: 1, 3: 1}


def test_null_keys_are_deterministic_not_dropped(spark):
    """NULL keys hash a sentinel: split stays exhaustive and the mix
    passes NULL-key/NULL-domain rows through instead of dropping them."""
    df = spark.createDataFrame(
        [(None, None), ("k1", "wiki"), ("k2", None)],
        "k string, domain string",
    )
    split = deterministic_split(
        df, "k", {"a": 0.5, "b": 0.5}, seed=1, hash_mode="oracle"
    )
    assert split.filter("split IS NULL").count() == 0
    assert split.count() == 3
    two = deterministic_split(
        df, "k", {"a": 0.5, "b": 0.5}, seed=1, hash_mode="oracle"
    )
    from collections import Counter

    assert Counter(map(tuple, split.collect())) == Counter(
        map(tuple, two.collect())
    )

    mixed = weighted_domain_mix(
        df, "domain", {"wiki": 2.0}, "k", hash_mode="oracle"
    )
    rows = mixed.collect()
    # both non-wiki rows (incl. the all-NULL row) pass through once
    assert len([r for r in rows if r.domain is None]) == 2
    assert len([r for r in rows if r.domain == "wiki"]) == 2


def test_weighted_domain_mix_matches_duckdb(docs):
    factors = {"wiki": 2.5, "forum": 0.4}
    out = weighted_domain_mix(
        docs, "source", factors, "doc_id", epoch=1, seed=0, hash_mode="oracle"
    )
    got: dict[int, int] = {}
    for r in out.select("doc_id", "copy_idx").collect():
        got[r.doc_id] = max(got.get(r.doc_id, 0), r.copy_idx)
    bucket = bucket_sql("0|epoch1")
    exp = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"""
            SELECT doc_id,
                   CAST(floor(f) AS BIGINT)
                   + CASE WHEN {bucket} < round((f - floor(f)) * {N_BUCKETS})
                          THEN 1 ELSE 0 END AS n_copies
            FROM (
                SELECT doc_id,
                       CASE source WHEN 'wiki' THEN 2.5
                                   WHEN 'forum' THEN 0.4
                                   ELSE 1.0 END AS f
                FROM {DOCS}
            )
            WHERE CAST(floor(f) AS BIGINT)
                  + CASE WHEN {bucket} < round((f - floor(f)) * {N_BUCKETS})
                         THEN 1 ELSE 0 END > 0
            """
        ).fetchall()
    }
    assert got == exp
    # copy_idx is dense 1..n for every surviving row
    counts: dict[int, int] = {}
    for r in out.select("doc_id", "copy_idx").collect():
        counts[r.doc_id] = counts.get(r.doc_id, 0) + 1
    assert counts == {d: n for d, n in got.items()}


def test_mix_epoch_changes_residual_selection(docs):
    """Same seed, different epoch → same expected rate, reproducible
    per-epoch assignment (the per-epoch hash salt is part of the
    contract, asserted via the DuckDB twin above; here: determinism)."""
    a = weighted_domain_mix(
        docs, "source", {"wiki": 1.5}, "doc_id", epoch=2, hash_mode="oracle"
    )
    b = weighted_domain_mix(
        docs, "source", {"wiki": 1.5}, "doc_id", epoch=2, hash_mode="oracle"
    )
    assert sorted(map(tuple, a.select("doc_id", "copy_idx").collect())) == sorted(
        map(tuple, b.select("doc_id", "copy_idx").collect())
    )


def test_sampling_plans_are_codegen_native(docs, spark):
    """No Python eval, no shuffle for split/sample/mix; exactly one
    exchange for the packer (the window partitionBy)."""
    split_plan = deterministic_split(
        docs, "doc_id", {"a": 0.5, "b": 0.5}, hash_mode="fast"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in split_plan
    assert "Exchange" not in split_plan

    mix_plan = weighted_domain_mix(
        docs, "source", {"wiki": 2.0}, "doc_id", hash_mode="fast"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in mix_plan
    assert "Exchange" not in mix_plan

    pack_plan = pack_token_shards(
        docs, ["lang"], "doc_id", "n_chars", budget=1000
    )._jdf.queryExecution().executedPlan().toString()
    assert pack_plan.count("Exchange hashpartitioning") == 1

    from vbb_data_pipeline_spark.operators.sampling import (
        pack_token_shards_incremental,
        shard_manifest,
        stratified_sample_n,
    )

    n_plan = stratified_sample_n(
        docs, "lang", {"en": 5}, "doc_id", hash_mode="fast"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in n_plan
    assert n_plan.count("Exchange hashpartitioning") == 1

    packed = pack_token_shards(docs, ["lang"], "doc_id", "n_chars", 1000)
    manifest = shard_manifest(packed, ["lang"], "n_chars")
    inc_plan = pack_token_shards_incremental(
        docs, manifest, ["lang"], "doc_id", "n_chars", 1000
    )._jdf.queryExecution().executedPlan().toString()
    # manifest side broadcasts; the new batch itself shuffles once for
    # its own pack window (manifest aggregation shuffles happen on the
    # tiny manifest, keyed the same way)
    assert "BroadcastExchange" in inc_plan or "BroadcastHashJoin" in inc_plan
    assert "BatchEvalPython" not in inc_plan


def test_incremental_pack_equals_single_pass(spark, docs):
    """pack(A) then incremental(B, manifest(A)) ≡ pack(A then B)."""
    from vbb_data_pipeline_spark.operators.sampling import (
        pack_token_shards_incremental,
        shard_manifest,
    )

    budget = 4_000
    a = docs.filter("doc_id % 3 != 0").withColumn("batch", F.lit(0))
    b = docs.filter("doc_id % 3 = 0").withColumn("batch", F.lit(1))

    packed_a = pack_token_shards(a, ["lang"], "doc_id", "n_chars", budget)
    manifest = shard_manifest(packed_a, ["lang"], "n_chars")
    packed_b = pack_token_shards_incremental(
        b, manifest, ["lang"], "doc_id", "n_chars", budget
    )
    got = {
        r.doc_id: r.shard_id
        for r in packed_a.unionByName(packed_b).collect()
    }

    single = pack_token_shards(
        a.unionByName(b), ["lang"], ["batch", "doc_id"], "n_chars", budget
    )
    exp = {r.doc_id: r.shard_id for r in single.collect()}
    assert got == exp


def test_incremental_pack_oversized_tail_and_new_group(spark):
    """A full/oversized tail shard is closed (new docs open the next
    id); groups absent from the manifest start at shard 0."""
    from vbb_data_pipeline_spark.operators.sampling import (
        pack_token_shards_incremental,
        shard_manifest,
    )

    old = spark.createDataFrame(
        [("g", 1, 250)], "grp string, doc_id long, n long"
    )
    packed_old = pack_token_shards(old, ["grp"], "doc_id", "n", budget=100)
    manifest = shard_manifest(packed_old, ["grp"], "n")
    new = spark.createDataFrame(
        [("g", 2, 30), ("h", 3, 30)], "grp string, doc_id long, n long"
    )
    got = {
        (r.grp, r.doc_id): r.shard_id
        for r in pack_token_shards_incremental(
            new, manifest, ["grp"], "doc_id", "n", budget=100
        ).collect()
    }
    # g's shard 0 holds 250 >= budget -> closed -> doc 2 opens shard 1;
    # h is new -> shard 0
    assert got == {("g", 2): 1, ("h", 3): 0}


def test_stratified_sample_n_exact_counts_and_nesting(docs):
    from vbb_data_pipeline_spark.operators.sampling import stratified_sample_n

    targets = {"en": 30, "de": 10}
    out = stratified_sample_n(
        docs, "lang", targets, "doc_id", seed=5, hash_mode="oracle"
    )
    counts = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == targets  # exact, and absent strata dropped

    # DuckDB twin: rank by (bucket, doc_id) within stratum
    exp = {
        r[0]
        for r in duckdb.sql(
            f"""
            SELECT doc_id FROM (
                SELECT doc_id, lang, row_number() OVER (
                    PARTITION BY lang
                    ORDER BY {bucket_sql('5')} ASC, doc_id ASC
                ) AS rk
                FROM {DOCS}
            )
            WHERE rk <= CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 10 ELSE 0 END
            """
        ).fetchall()
    }
    got = {r.doc_id for r in out.select("doc_id").collect()}
    assert got == exp

    # nested: shrinking the target keeps a subset
    smaller = stratified_sample_n(
        docs, "lang", {"en": 10, "de": 4}, "doc_id", seed=5, hash_mode="oracle"
    )
    sub = {r.doc_id for r in smaller.select("doc_id").collect()}
    assert sub < got


def _py_greedy_pack(rows, budget):
    """Reference greedy packer: rows = [(grp, key, tokens)] sorted by
    (grp, key); returns {(grp, key): dense shard id}."""
    cum: dict[str, int] = {}
    raw = {}
    for grp, key, n in sorted(rows):
        before = cum.get(grp, 0)
        raw[(grp, key)] = before // budget
        cum[grp] = before + n
    out = {}
    for grp in cum:
        ids = sorted({r for (g, _), r in raw.items() if g == grp})
        dense = {r: i for i, r in enumerate(ids)}
        for (g, k), r in raw.items():
            if g == grp:
                out[(g, k)] = dense[r]
    return out


def test_incremental_pack_property(spark):
    """Randomized: pack(A) + incremental(B) == python greedy over A∪B
    (A ordered before B), across token shapes incl. oversized docs."""
    import random

    from vbb_data_pipeline_spark.operators.sampling import (
        pack_token_shards_incremental,
        shard_manifest,
    )

    rng = random.Random(1234)
    for trial in range(5):
        budget = rng.choice([50, 100, 350])
        rows = [
            (
                rng.choice(["g", "h"]),
                i,
                rng.choice([1, 10, 40, 99, 100, 101, 250, 900]),
            )
            for i in range(rng.randint(1, 40))
        ]
        cut = rng.randint(0, len(rows))
        a_rows, b_rows = rows[:cut], rows[cut:]
        schema = "grp string, key long, n long"
        # B keys offset past every A key so "A ordered before B" is
        # exactly the (grp, key) sort the reference packer uses
        expected_rows = a_rows + [(g, k + 10_000, n) for (g, k, n) in b_rows]
        exp = _py_greedy_pack(expected_rows, budget)

        got = {}
        manifest = None
        if a_rows:
            a_df = spark.createDataFrame(
                [(g, k, n) for g, k, n in a_rows], schema
            )
            packed_a = pack_token_shards(a_df, ["grp"], "key", "n", budget)
            for r in packed_a.collect():
                got[(r.grp, r.key)] = r.shard_id
            manifest = shard_manifest(packed_a, ["grp"], "n")
        if b_rows:
            b_df = spark.createDataFrame(
                [(g, k + 10_000, n) for g, k, n in b_rows], schema
            )
            if manifest is None:
                packed_b = pack_token_shards(b_df, ["grp"], "key", "n", budget)
            else:
                packed_b = pack_token_shards_incremental(
                    b_df, manifest, ["grp"], "key", "n", budget
                )
            for r in packed_b.collect():
                got[(r.grp, r.key)] = r.shard_id

        assert got == exp, f"trial={trial} budget={budget}"


def test_incremental_pack_null_group_and_manifest_merge(spark):
    """NULL group keys resume from their manifest row (eqNullSafe), and
    chained increments via merge_manifests equal a single-pass pack."""
    from vbb_data_pipeline_spark.operators.sampling import (
        merge_manifests,
        pack_token_shards_incremental,
        shard_manifest,
    )

    schema = "grp string, key long, n long"
    a = spark.createDataFrame([(None, 1, 60), ("g", 2, 60)], schema)
    b = spark.createDataFrame([(None, 3, 60), ("g", 4, 60)], schema)
    c = spark.createDataFrame([(None, 5, 60), ("g", 6, 60)], schema)
    budget = 100

    packed_a = pack_token_shards(a, ["grp"], "key", "n", budget)
    m_a = shard_manifest(packed_a, ["grp"], "n")
    packed_b = pack_token_shards_incremental(b, m_a, ["grp"], "key", "n", budget)
    m_ab = merge_manifests(
        [m_a, shard_manifest(packed_b, ["grp"], "n")], ["grp"]
    )
    packed_c = pack_token_shards_incremental(c, m_ab, ["grp"], "key", "n", budget)

    got = {
        r.key: r.shard_id
        for r in packed_a.unionByName(packed_b).unionByName(packed_c).collect()
    }
    single = pack_token_shards(
        spark.createDataFrame(
            [(None, 1, 60), ("g", 2, 60), (None, 3, 60), ("g", 4, 60),
             (None, 5, 60), ("g", 6, 60)],
            schema,
        ),
        ["grp"],
        "key",
        "n",
        budget,
    )
    exp = {r.key: r.shard_id for r in single.collect()}
    assert got == exp
    # NULL-group docs did NOT restart at shard 0: doc 3 tops up the
    # tail shard (60+60=120 crosses no second boundary), doc 5
    # continues into shard 1 — a shard-0 restart would give 0 here
    assert got[3] == 0 and got[5] == 1


# ------------------------------------------- weighted sample (A-ES)
def test_weighted_sample_n_matches_duckdb_replay(spark):
    """The A-ES race is a pure function of (seed, key, weight): DuckDB
    replaying the identical formula picks the identical id set."""
    import duckdb

    from vbb_data_pipeline_spark.operators.sampling import (
        _U_MOD,
        weighted_sample_n,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", F.length("text").alias("w")
    )
    got = {
        r.doc_id
        for r in weighted_sample_n(
            docs, 50, "w", "doc_id", seed=7, hash_mode="oracle"
        ).collect()
    }
    exp = {
        r[0]
        for r in duckdb.sql(
            f"""
            WITH d AS (
                SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
                       CAST(('0x' || substr(md5('ws|7|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                FROM read_parquet('{sf}/documents.parquet')
            )
            SELECT doc_id FROM d
            WHERE w > 0
            ORDER BY -ln(((h % {_U_MOD}) + 0.5) / {float(_U_MOD)}) / w ASC,
                     doc_id ASC
            LIMIT 50
            """
        ).fetchall()
    }
    assert got == exp and len(got) == 50


def test_weighted_sample_respects_weights(spark):
    """Across seeds, heavy keys are drawn far more often than light
    ones (sanity of proportionality, not an exact distribution test)."""
    from vbb_data_pipeline_spark.operators.sampling import weighted_sample_n

    rows = [(i, 100.0 if i < 10 else 1.0) for i in range(110)]
    df = spark.createDataFrame(rows, "k long, w double")
    heavy_hits = light_hits = 0
    for seed in range(8):
        picked = {
            r.k
            for r in weighted_sample_n(
                df, 10, "w", "k", seed=seed, hash_mode="oracle"
            ).collect()
        }
        assert len(picked) == 10
        heavy_hits += sum(1 for k in picked if k < 10)
        light_hits += sum(1 for k in picked if k >= 10)
    assert heavy_hits > light_hits * 2


def test_weighted_sample_excludes_bad_weights(spark):
    from vbb_data_pipeline_spark.operators.sampling import weighted_sample_n

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "k long, w double",
    )
    picked = {r.k for r in weighted_sample_n(df, 10, "w", "k").collect()}
    assert picked == {1, 5}


def test_export_shuffle_deterministic_and_partition_invariant(docs):
    from vbb_data_pipeline_spark.operators.sampling import export_shuffle

    out = export_shuffle(docs, "doc_id", n_shards=4, seed=1)
    rows = sorted(map(tuple, out.select("doc_id", "shard", "pos").collect()))
    # same input under a different physical partitioning -> identical
    again = export_shuffle(docs.repartition(7), "doc_id", n_shards=4, seed=1)
    assert rows == sorted(
        map(tuple, again.select("doc_id", "shard", "pos").collect())
    )
    # every shard in range; positions are 1..count(shard) dense
    by_shard: dict[int, list[int]] = {}
    for _d, s, p in rows:
        assert 0 <= s < 4
        by_shard.setdefault(s, []).append(p)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # different seed -> different order (overwhelmingly)
    other = export_shuffle(docs, "doc_id", n_shards=4, seed=2)
    assert rows != sorted(
        map(tuple, other.select("doc_id", "shard", "pos").collect())
    )


def test_export_shuffle_null_keys_kept(spark):
    from vbb_data_pipeline_spark.operators.sampling import export_shuffle

    d = spark.createDataFrame(
        [(1,), (None,), (3,)], "doc_id int"
    )
    out = export_shuffle(d, "doc_id", n_shards=2)
    assert out.count() == 3  # NULL key hashed via sentinel, not dropped


def test_export_shuffle_single_exchange(docs):
    from vbb_data_pipeline_spark.operators.sampling import export_shuffle

    out = export_shuffle(docs, "doc_id", n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # the shard-keyed window only
    assert "rangepartitioning" not in plan.lower()  # never a global sort


def test_pack_sequences_span_invariants(docs):
    from vbb_data_pipeline_spark.operators.sampling import pack_sequences

    d = docs.select("doc_id", F.col("n_chars").alias("n_tok"))
    out = pack_sequences(
        d, "doc_id", "n_tok", seq_len=512, n_shards=4, seed=0
    ).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4))
    total = 0
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.pos)
        # spans tile the shard stream: start at 0, contiguous,
        # non-overlapping, width == token count
        off = 0
        for r in rows:
            assert r.start_off == off
            assert r.end_off - r.start_off == r.n_tok
            assert r.first_seq == r.start_off // 512
            assert r.last_seq == max(r.end_off - 1, r.start_off) // 512
            assert r.first_seq <= r.last_seq
            off = r.end_off
        total += len(rows)
    assert total == len(out) == docs.count()


def test_pack_sequences_stable_under_repartition(docs):
    """The plan is a function of (key, tokens, seed) only — physical
    partitioning of the input must not change any assignment."""
    from vbb_data_pipeline_spark.operators.sampling import pack_sequences

    d = docs.select("doc_id", F.col("n_chars").alias("n_tok"))
    a = pack_sequences(d, "doc_id", "n_tok", seq_len=256, n_shards=8)
    b = pack_sequences(
        d.repartition(13), "doc_id", "n_tok", seq_len=256, n_shards=8
    )
    key = lambda rows: sorted(  # noqa: E731
        (r.doc_id, r.shard, r.pos, r.start_off, r.end_off,
         r.first_seq, r.last_seq)
        for r in rows
    )
    assert key(a.collect()) == key(b.collect())


# ---------------------------------------------------------------------------
# Property-based: pack_sequences vs a plain-python replay
# ---------------------------------------------------------------------------
import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 700)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    seq_len=st.sampled_from([1, 64, 512]),
    n_shards=st.sampled_from([1, 3, 8]),
)
def test_pack_sequences_matches_python_replay(
    shared_spark_holder, data, seq_len, n_shards
):
    """For any (unique-key, token-count) multiset: the plan equals a
    sequential python replay of the documented recipe (export_shuffle
    order, per-shard running offset, div arithmetic)."""
    from vbb_data_pipeline_spark.operators.sampling import (
        export_shuffle,
        pack_sequences,
    )

    df = shared_spark_holder.createDataFrame(
        data, schema="doc_id long, n_tok long"
    )
    got = {
        r.doc_id: (r.shard, r.pos, r.start_off, r.end_off,
                   r.first_seq, r.last_seq)
        for r in pack_sequences(
            df, "doc_id", "n_tok", seq_len=seq_len, n_shards=n_shards
        ).collect()
    }
    order = sorted(
        (
            (r.shard, r.pos, r.doc_id)
            for r in export_shuffle(df, "doc_id", n_shards).collect()
        )
    )
    toks = dict(data)
    off: dict[int, int] = {}
    for shard, pos, doc in order:
        start = off.get(shard, 0)
        end = start + toks[doc]
        off[shard] = end
        exp = (
            shard, pos, start, end,
            start // seq_len, max(end - 1, start) // seq_len,
        )
        assert got[doc] == exp, (doc, got[doc], exp)
    assert len(got) == len(data)


def test_pack_sequences_group_scoped_streams(docs):
    """group_cols: every (group, shard) stream tiles independently
    from offset 0 — rows of different groups never share a stream."""
    from vbb_data_pipeline_spark.operators.sampling import pack_sequences

    d = docs.select("doc_id", "lang", F.col("n_chars").alias("n_tok"))
    out = pack_sequences(
        d, "doc_id", "n_tok", seq_len=256, n_shards=4,
        group_cols=["lang"],
    ).collect()
    streams: dict[tuple, list] = {}
    for r in out:
        streams.setdefault((r.lang, r.shard), []).append(r)
    assert len(streams) > 4  # multiple langs actually split streams
    for rows in streams.values():
        rows.sort(key=lambda r: r.pos)
        off = 0
        for i, r in enumerate(rows):
            assert r.pos == i + 1
            assert r.start_off == off
            off = r.end_off


def test_chunk_documents_covers_all_tokens(spark):
    """Every token appears in some chunk; disjoint chunks partition
    the token stream; overlap duplicates exactly the stride overlap;
    empty docs produce no chunks."""
    from vbb_data_pipeline_spark.operators.sampling import chunk_documents

    rows = [
        (1, "a b c d e f g"),          # 7 tokens
        (2, "x y"),                    # shorter than one chunk
        (3, ""),                       # no tokens -> no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=3, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_text"] for r in c1] == ["a b c", "d e f", "g"]
    assert [r["start_token"] for r in c1] == [0, 3, 6]
    assert [r["n_chunk_tokens"] for r in c1] == [3, 3, 1]
    assert [r["chunk_text"] for r in by_doc[2]] == ["x y"]

    # overlap: stride 2, chunk 3 -> windows 0,2,4,6
    ov = sorted(
        chunk_documents(
            df.filter("doc_id = 1"), chunk_tokens=3, stride=2
        ).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["chunk_text"] for r in ov] == [
        "a b c", "c d e", "e f g", "g",
    ]


def test_pack_null_token_count_behaves_as_zero(spark):
    """NULL token counts must NOT mint a phantom shard: the raw
    running-sum id is NULL for them, and dense_rank sorts NULLs
    FIRST — previously all NULL-token docs formed shard 0 and every
    real shard shifted by one."""
    from vbb_data_pipeline_spark.operators.sampling import pack_token_shards

    df = spark.createDataFrame(
        [("g", 1, 60), ("g", 2, None), ("g", 3, 60), ("g", 4, 60)],
        "grp string, doc_id int, n_tokens int",
    )
    out = {
        r["doc_id"]: r["shard_id"]
        for r in pack_token_shards(
            df, ["grp"], "doc_id", "n_tokens", budget=100
        ).collect()
    }
    # 60 -> shard 0; NULL (=0 tokens) joins shard 0; next 60 closes
    # it (120 >= 100); last 60 opens shard 1
    assert out == {1: 0, 2: 0, 3: 0, 4: 1}


def test_split_rejects_negative_weight():
    from vbb_data_pipeline_spark.operators.sampling import deterministic_split

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-negative"):
        deterministic_split(
            None, "k", {"train": 1.0, "val": -0.5, "test": 0.5}
        )


def test_chunk_rejects_stride_larger_than_chunk(spark):
    from vbb_data_pipeline_spark.operators.sampling import chunk_documents

    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, chunk_tokens=2, stride=3)
