"""E1→E2→E3 end-to-end: landing tree of GTFS zips → warehouse →
scheduled arrivals, with the reference's idempotency invariants
(checksum dedup, conflict-ignoring load, deterministic run ids)."""

from __future__ import annotations

import datetime as dt
import zipfile
from pathlib import Path

import pytest

from vbb_data_pipeline_spark import schemas
from vbb_data_pipeline_spark.pipelines import Warehouse, e1_extract, e2_load, e3_arrivals

STOPS = (
    "stop_id,stop_name,stop_lat,stop_lon\n"
    "s1,Alexanderplatz,52.52437,13.41053\n"
    "s2,Potsdam Hbf,52.39886,13.06566\n"
)
CALENDAR = (
    "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,"
    "start_date,end_date\n"
    "svc1,true,true,true,true,true,false,false,20240101,20241231\n"
)
TRIPS = "route_id,service_id,trip_id\nr1,svc1,t1\n"
STOP_TIMES = (
    "trip_id,arrival_time,departure_time,stop_id,stop_sequence\n"
    "t1,28800,28860,s1,1\n"
    "t1,29100,29160,s2,2\n"
)


def _write_zip(path: Path, stops: str = STOPS) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("stops.txt", stops)
        zf.writestr("calendar.txt", CALENDAR)
        zf.writestr("trips.txt", TRIPS)
        zf.writestr("stop_times.txt", STOP_TIMES)


@pytest.fixture()
def landing(tmp_path: Path) -> str:
    _write_zip(tmp_path / "vbb" / "2024-01-01.zip")
    # identical content re-download → checksum duplicate, must drop
    _write_zip(tmp_path / "vbb" / "2024-01-08.zip")
    _write_zip(tmp_path / "vrs" / "2024-01-02.zip")
    return str(tmp_path)


def test_extract_zip_honours_dest(tmp_path):
    """``extract_zip(dest=...)`` lands the known GTFS members in the
    given staging directory, in FK-safe load order (Spark-free)."""
    from vbb_data_pipeline_spark.sources.gtfs import extract_zip

    z = tmp_path / "feed.zip"
    _write_zip(z)
    dest = tmp_path / "staging"
    out = extract_zip(str(z), dest=str(dest))
    assert list(out) == [t for t in schemas.GTFS_LOAD_ORDER if t in out]
    assert set(out) == {"stops", "calendar", "trips", "stop_times"}
    for path in out.values():
        assert Path(path).parent == dest and Path(path).is_file()


def test_e1_checksum_and_catalog_dedup(spark, landing):
    wh = Warehouse()
    fresh = e1_extract(spark, landing, wh)
    got = {(r.provider_id, r.run_date) for r in fresh.collect()}
    # 2024-01-08 is a byte-identical re-download → dropped
    assert got == {("vbb", "2024-01-01"), ("vrs", "2024-01-02")}


def test_e2_load_idempotent_and_deterministic_ids(spark, landing):
    wh = e2_load(spark, landing, Warehouse())
    ids = {
        (r.provider_id, r.run_date): r.run_id
        for r in wh.run_catalog.collect()
    }
    assert ids == {("vbb", "2024-01-01"): 1, ("vrs", "2024-01-02"): 2}
    assert set(wh.tables) == {"calendar", "trips", "stop_times", "stops"}
    n_stops = wh.tables["stops"].count()
    assert n_stops == 4  # 2 stops × 2 loaded runs

    # re-running the whole load over the same landing tree is a no-op
    wh2 = e2_load(spark, landing, wh)
    assert wh2.tables["stops"].count() == n_stops
    assert wh2.run_catalog.count() == 2


def test_e3_arrivals_expansion(spark, landing):
    wh = e2_load(spark, landing, Warehouse())
    out = e3_arrivals(wh, dt.date(2024, 1, 1), dt.date(2024, 1, 8))
    rows = out.collect()
    # 5 weekdays in [1..8) × 2 stops × 2 runs = 20 events, time-ordered
    assert len(rows) == 20
    ts = [r.ts for r in rows]
    assert ts == sorted(ts)
    assert {r.stop_name for r in rows} == {"Alexanderplatz", "Potsdam Hbf"}
    # 08:00:00 arrival lands on the service day at 8am
    assert rows[0].ts.hour == 8
    # the event record is ARRIVAL_EVENT's, under the warehouse's names
    assert [f.dataType for f in out.schema] == [
        f.dataType for f in schemas.ARRIVAL_EVENT
    ]

    wire = e3_arrivals(wh, dt.date(2024, 1, 1), dt.date(2024, 1, 8), as_wire=True)
    first = wire.collect()[0].value
    assert first.startswith('{"name":"') and '"local-time":"' in first


# ---------------------------------------------------------------- E4


def test_e4_corpus_prep_end_to_end(spark):
    """The full corpus-assembly composition at sf0.001: invariants per
    stage plus run-to-run determinism."""
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep
    from vbb_data_pipeline_spark.queries import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = e4_corpus_prep(
        docs,
        min_quality=0.3,
        shard_budget=5_000,
    ).persist()
    rows = out.collect()
    assert rows, "pipeline must keep some documents"
    assert len(rows) < docs.count(), "quality gate + dedup must drop rows"

    # split is exhaustive over the default names
    assert {r.split for r in rows} <= {"train", "val", "test"}
    # one row per surviving document (no mixing)
    assert len({r.doc_id for r in rows}) == len(rows)

    # shards dense from 0 within every (split, lang) group
    groups: dict[tuple, set] = {}
    for r in rows:
        groups.setdefault((r.split, r.lang), set()).add(r.shard_id)
    for sids in groups.values():
        assert sids == set(range(len(sids)))

    # no surviving near-duplicate pair at/above the threshold
    surv = docs.join(out.select("doc_id"), "doc_id", "left_semi")
    sigs = minhash_signatures(surv, "text", "doc_id", hash_mode="oracle")
    cands = lsh_candidate_pairs(sigs, "doc_id", hash_mode="oracle")
    remaining = (
        jaccard_pairs(surv, cands, "text", "doc_id")
        .filter(F.col("jaccard") >= 0.8)
        .count()
    )
    assert remaining == 0

    # deterministic: a second full run produces identical rows
    again = e4_corpus_prep(
        docs,
        min_quality=0.3,
        shard_budget=5_000,
    ).collect()
    key = lambda r: (r.doc_id,)  # noqa: E731
    assert sorted(map(tuple, rows), key=lambda t: t[:1]) == sorted(
        map(tuple, again), key=lambda t: t[:1]
    )
    out.unpersist()
    spark.catalog.clearCache()


def test_e4_mixing_packs_copies_deterministically(spark):
    """With domain mixing on, repeated copies get distinct copy_idx and
    the packer's total order stays deterministic."""
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep
    from vbb_data_pipeline_spark.queries import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = docs.select("source").first().source
    out = e4_corpus_prep(
        docs,
        min_quality=0.0,
        shard_budget=3_000,
        mix_factors={src: 2.5},
        epoch=1,
    )
    rows = out.collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.copy_idx)
    boosted = {d for d, c in per_doc.items() if len(c) > 1}
    assert boosted, "factor 2.5 must produce multi-copy documents"
    for d, copies in per_doc.items():
        assert sorted(copies) == list(range(1, len(copies) + 1))
    # mixing is scoped to the train split: val/test rows are never
    # duplicated (re-weighting is a training-set operation)
    for r in rows:
        if r.split != "train":
            assert r.copy_idx == 1, (r.doc_id, r.split, r.copy_idx)
    assert {r.split for r in rows} > {"train"}, "need non-train rows too"
    again = out.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    spark.catalog.clearCache()


def test_e4_decontamination_stage(spark):
    """eval_df wired into E4 drops benchmark-overlapping documents."""
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep
    from vbb_data_pipeline_spark.queries import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eval_df = docs.filter("doc_id < 5").select("text")
    out = e4_corpus_prep(
        docs,
        min_quality=0.0,
        eval_df=eval_df,
        shard_budget=10**9,
    )
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert ids and not (ids & {0, 1, 2, 3, 4})
    spark.catalog.clearCache()


def test_e4_shards_land_as_partitioned_files(spark, tmp_path):
    """The E4 output writes straight into a (split, shard_id)
    hive-partitioned layout, and a split+shard read prunes to one
    directory's rows."""
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep
    from vbb_data_pipeline_spark.queries import load_table
    from vbb_data_pipeline_spark.sources.layout import write_partitioned

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = e4_corpus_prep(docs, min_quality=0.3, shard_budget=5_000)
    dest = str(tmp_path / "shards")
    write_partitioned(out, dest, ["split", "shard_id"])

    back = spark.read.parquet(dest)
    assert back.count() == out.count()
    # partition pruning: one (split, shard) directory reads exactly its rows
    probe = back.filter((F.col("split") == "train") & (F.col("shard_id") == 0))
    expected = out.filter(
        (F.col("split") == "train") & (F.col("shard_id") == 0)
    ).count()
    assert probe.count() == expected > 0
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    spark.catalog.clearCache()


def test_e4_semantic_dedup_via_embeddings(spark):
    """With embedding_col set, paraphrase pairs (identical vectors,
    disjoint texts) collapse to their canonical doc."""
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    rows = [
        (1, "alpha beta gamma delta", "en", "wiki", [1.0, 0.0, 0.0, 0.0]),
        (2, "epsilon zeta eta theta", "en", "wiki", [1.0, 0.0, 0.0, 0.0]),
        (3, "iota kappa lambda mu omicron", "en", "web", [0.0, 1.0, 0.0, 0.0]),
        (4, "nu xi pi rho sigma tau", "de", "web", [0.0, 0.0, 1.0, 0.0]),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "embedding array<double>",
    )
    out = e4_corpus_prep(
        docs,
        min_quality=0.0,
        embedding_col="embedding",
        embedding_dim=4,
        shard_budget=10**6,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    # 1 and 2 are semantic duplicates -> canonical (min id) 1 survives
    assert kept == {1, 3, 4}

    # without the embedding signal nothing is a duplicate
    out2 = e4_corpus_prep(
        docs.drop("embedding"),
        min_quality=0.0,
        shard_budget=10**6,
    )
    assert {r.doc_id for r in out2.select("doc_id").collect()} == {1, 2, 3, 4}
    spark.catalog.clearCache()


def test_e4_hygiene_knobs(spark):
    """PII redacted before E4 is what E4 hashes; max_dup_line_frac
    drops repetitive documents."""
    from vbb_data_pipeline_spark.functions.text import redact_pii
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    rows = [
        (1, "contact me at a.b@example.com for the dataset details", "en", "wiki"),
        (2, "line\nline\nline\nline\nother", "en", "web"),
        (3, "a perfectly ordinary document about trains and schedules", "en", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = e4_corpus_prep(
        docs.withColumn("text", redact_pii("text")),
        min_quality=0.0,
        max_dup_line_frac=0.5,
        shard_budget=10**6,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    # doc 2: 5 non-empty lines, 3 duplicates -> 0.6 > 0.5 -> dropped
    assert kept == {1, 3}
    spark.catalog.clearCache()


def test_e4_compression_band(spark):
    """compression_bounds drops repetitive garbage the regex heuristics
    miss (high quality_score, tiny zlib ratio)."""
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    rows = [
        (1, "the quick brown fox jumps over the lazy dog by the river bank "
            "and then the story continues with many varied ordinary words",
         "en", "web"),
        (2, ("click here to win a prize now " * 40).strip(), "en", "spamfarm"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = e4_corpus_prep(
        docs,
        min_quality=0.0,
        compression_bounds=(0.3, 1.0),
        shard_budget=10**6,
    )
    assert {r.doc_id for r in out.select("doc_id").collect()} == {1}
    spark.catalog.clearCache()


def test_e4_line_dedup_stage(spark):
    """Corpus line dedup before E4 strips cross-corpus boilerplate
    before profiling: token counts and dedup keys see the stripped
    text, and a doc that was pure boilerplate survives with zero
    tokens (the quality/min-token gates downstream decide its fate,
    not the dedup stage)."""
    from vbb_data_pipeline_spark.operators.dedup import line_dedup_corpus
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    header = "SPDX license header line that repeats everywhere"
    rows = [
        (1, f"{header}\nalpha document body with ordinary varied words", "en", "web"),
        (2, f"{header}\nbeta document body with other ordinary words", "en", "web"),
        (3, header, "en", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    deduped = line_dedup_corpus(
        docs.select("doc_id", "text"), "text", "doc_id", min_chars=5
    )
    out = e4_corpus_prep(
        docs.drop("text").join(deduped, "doc_id"),
        min_quality=0.01,
        shard_budget=10**6,
    ).collect()
    kept = {r.doc_id: r for r in out}
    assert set(kept) == {1, 2, 3}
    # doc 3 lost its only (boilerplate) line: profiled at zero tokens
    assert kept[3].n_tokens == 0
    # doc 1 keeps the header (first occurrence); doc 2 lost it, so its
    # token count reflects only the body
    assert kept[1].n_tokens > kept[2].n_tokens
    spark.catalog.clearCache()


def test_e4_lm_band(spark):
    """lm_band drops the far-from-corpus tail (CCNet cut): gibberish
    scores in the bottom percentiles and is removed; ordinary prose
    survives."""
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    prose = [
        (i, f"the quick brown fox story number {i} continues along the "
            "river with ordinary words and the usual rhythm of prose",
         "en", "web")
        for i in range(1, 9)
    ]
    rows = prose + [(99, "zqx vkj wpm qqq zzz xxx jjj kkk", "en", "spam")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = e4_corpus_prep(
        docs,
        min_quality=0.0,
        lm_band=(0.2, 1.0),
        shard_budget=10**6,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert 99 not in kept
    assert len(kept) >= 6  # the prose bulk survives
    spark.catalog.clearCache()


def test_e4_normalize_stage(spark):
    """Normalizing text before E4 makes NFKC-divergent duplicates
    collapse in the fingerprint dedup stage."""
    from vbb_data_pipeline_spark.functions.text import clean_text
    from vbb_data_pipeline_spark.functions.udfs import normalize_unicode
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    rows = [
        (1, "the file café menu appears with ordinary words around it", "en", "web"),
        (2, "the ﬁle café menu appears with ordinary words around it", "en", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    kept_raw = {
        r.doc_id
        for r in e4_corpus_prep(
            docs, min_quality=0.0, shard_budget=10**6,
        ).select("doc_id").collect()
    }
    assert kept_raw == {1, 2}  # ligature splits the fingerprint group
    kept_norm = {
        r.doc_id
        for r in e4_corpus_prep(
            docs.withColumn("text", clean_text(normalize_unicode("text"))),
            min_quality=0.0, shard_budget=10**6,
        ).select("doc_id").collect()
    }
    assert kept_norm == {1}  # normalized duplicates collapse, lowest id wins
    spark.catalog.clearCache()


def test_e4_all_stages_compose(spark):
    """Kitchen-sink run: every optional stage enabled at once on the
    sf0.001 corpus, after normalization, PII redaction and corpus line
    dedup — stages must compose without column/plan conflicts and
    stay deterministic."""
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.functions.text import clean_text, redact_pii
    from vbb_data_pipeline_spark.functions.udfs import normalize_unicode
    from vbb_data_pipeline_spark.operators.dedup import line_dedup_corpus
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep
    from vbb_data_pipeline_spark.queries import load_table

    # 150 docs: enough to exercise every stage's non-trivial path
    # while keeping the composed (oracle-hash-mode) run CI-sized
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        "doc_id < 150"
    )
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding")
    )
    docs = docs.join(emb, "doc_id", "left")
    eval_df = docs.filter("doc_id < 3").select("text")
    docs = docs.withColumn("text", clean_text(normalize_unicode("text")))
    docs = docs.withColumn("text", redact_pii("text"))
    deduped = line_dedup_corpus(
        docs.select("doc_id", "text"), "text", "doc_id", min_chars=8
    )
    docs = docs.drop("text").join(deduped, "doc_id")

    # lm_band and compression_bounds are omitted: both have dedicated
    # composition tests (test_e4_lm_band / test_e4_compression_band)
    # and each adds minutes of fixed-cost jobs to this already
    # stage-heavy run
    kwargs = dict(
        min_quality=0.2,
        max_dup_line_frac=0.9,
        eval_df=eval_df,
        embedding_col="embedding",
        shard_budget=5_000,
    )
    out = e4_corpus_prep(docs, **kwargs).collect()
    assert out, "composition must keep some documents"
    assert len({r.doc_id for r in out}) == len(out)
    assert {r.split for r in out} <= {"train", "val", "test"}
    # (run-to-run determinism of the composition is covered by
    # test_e4_corpus_prep_end_to_end; re-running the full kitchen sink
    # here would double a fixed-cost-dominated test)
    spark.catalog.clearCache()


def test_e4_cross_dup_span_gate(spark):
    """max_cross_dup_span_frac drops span-heavy quoters but keeps the
    min-id owner of the duplicated content."""
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    # 24 tokens: longer than the 15-token span window plus the winnow
    # (15 + 4 - 1), so the winnowed spans of both holders meet
    run = " ".join(f"shared{i}" for i in range(24))
    rows = [
        # doc 1 owns the run (min id) plus original tail
        (1, run + " original tail about trains and schedules in the city",
         "en", "wiki"),
        # doc 2 is almost entirely the quoted run -> high dup_frac,
        # not the owner -> dropped. Its trigram Jaccard with doc 1 is
        # 22/32, under the 0.8 near-dup cut
        (2, "intro " + run, "en", "web"),
        # doc 3: ordinary unshared text -> kept
        (3, "a perfectly ordinary document about signals and stations "
            "with enough words to clear the span window easily", "en", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    def kept(**gate):
        out = e4_corpus_prep(
            docs, min_quality=0.0, shard_budget=10**6, **gate
        )
        return {r.doc_id for r in out.select("doc_id").collect()}

    assert kept(max_cross_dup_span_frac=0.5) == {1, 3}
    # the span gate, not the near-dup tier, drops doc 2
    assert kept() == {1, 2, 3}
    spark.catalog.clearCache()


def test_e4_remove_cross_dup_spans(spark):
    """span_removal before E4 excises duplicated spans instead of
    dropping documents: the min-id owner keeps its copy, quoters keep
    their ORIGINAL material with only the quoted run removed (E4's
    output carries profiled token counts, so assert through those —
    E4 profiles the text it is given, after the removal)."""
    from vbb_data_pipeline_spark.operators.dedup import CKPT_SER, span_removal
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    run = " ".join(f"shared{i}" for i in range(12))
    rows = [
        (1, run + " original tail about trains and schedules", "en", "wiki"),
        (2, "my own introduction paragraph here " + run, "en", "web"),
        (3, "a perfectly ordinary document about signals and stations "
            "with enough words to clear the span window easily", "en", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    def run_e4():
        held = docs.localCheckpoint(storageLevel=CKPT_SER)
        rewritten = span_removal(
            held.select("doc_id", "text"), "text", "doc_id", window=6,
            hash_mode="oracle",
        ).select("doc_id", "text")
        return e4_corpus_prep(
            held.drop("text").join(rewritten, "doc_id"),
            min_quality=0.0,
            shard_budget=10**6,
        )

    out = {r.doc_id: r for r in run_e4().collect()}
    # nothing dropped — removal is surgical
    assert set(out) == {1, 2, 3}
    # owner keeps the run + its tail (BPE-ish counting splits each
    # "sharedN" word into stem + digit: 12*2 + 6 = 30)
    assert out[1].n_tokens == 30
    # quoter lost exactly the run, keeps its 5-word intro
    assert out[2].n_tokens == 5
    # untouched doc profiles at its full length
    assert out[3].n_tokens == 17
    # deterministic: second run identical
    a = sorted(map(tuple, run_e4().collect()))
    b = sorted(map(tuple, run_e4().collect()))
    assert a == b
    spark.catalog.clearCache()


def test_e4_sequence_packing_plan(spark):
    """pack_sequences per split on E4's output: rows carry a
    concat-and-chunk plan; streams tile exactly and never cross a
    split boundary."""
    from vbb_data_pipeline_spark.operators.sampling import pack_sequences
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep
    from vbb_data_pipeline_spark.queries import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    e4 = e4_corpus_prep(
        docs,
        min_quality=0.0,
    )
    out = (
        pack_sequences(e4, "doc_id", "n_tokens", 512, 4, group_cols=["split"])
        .withColumnRenamed("shard", "seq_shard")
        .withColumnRenamed("pos", "seq_pos")
        .collect()
    )
    for col in ("seq_shard", "seq_pos", "start_off", "end_off",
                "first_seq", "last_seq"):
        assert col in out[0].asDict()
    streams: dict[tuple, list] = {}
    for r in out:
        streams.setdefault((r.split, r.seq_shard), []).append(r)
    assert {s for s, _ in streams} == {"train", "val", "test"}
    for rows in streams.values():
        rows.sort(key=lambda r: r.seq_pos)
        off = 0
        for r in rows:
            assert r.start_off == off
            assert r.end_off - r.start_off == r.n_tokens
            off = r.end_off


# --------------------------------------------------------------- E6


def test_lang_guess_argmax(spark):
    """Stopword-argmax language ID: highest hit count wins; ties
    (including all-zero) break toward declaration order (en first)."""
    from vbb_data_pipeline_spark.functions.text import lang_guess

    df = spark.createDataFrame(
        [
            ("the cat and the dog of it is here", "en"),
            ("der hund und die katze ist ein tier", "de"),
            ("el perro y la casa es un sitio", "es"),
            ("le chien est le chat et il dort", "fr"),
            ("zzz qqq 123", "en"),  # zero hits everywhere -> en
        ],
        "text string, want string",
    )
    got = df.select("want", lang_guess("text").alias("got")).collect()
    assert all(r.got == r.want for r in got), [
        (r.want, r.got) for r in got
    ]


def _e6_http(body: bytes) -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _e6_record(payload: bytes, uri: str) -> bytes:
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2024-05-06T07:08:09Z\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


NAV = "Home About Contact Privacy the site navigation"

EN_BODIES = [
    "the quick brown fox jumps over the lazy dog and runs to the river",
    "a tale of two cities is the best of times and the worst of times",
    "it is a truth universally acknowledged that a man of fortune is in want",
]
# bodies are >16 words so the density extractor's lonely-short-block
# rule (sources/warc.html_text_density: a single block under 17 words
# with no running-text neighbors is classified boilerplate) keeps
# them — matching real page bodies; the E6 default flipped to
# density in r7 (EXTRACTOR_EVAL.json)
DE_BODIES = [
    "der schnelle braune fuchs springt und der hund ist mit dem ball zu haus "
    "und die beiden laufen dann zum fluss hinunter",
    "die sonne ist ein stern und der mond ist ein trabant mit licht zu sehen "
    "und beide stehen am himmel ueber der stadt",
    "das wetter ist heute schoen und die kinder spielen mit einem ball zu "
    "zweit auf der wiese hinter dem alten haus",
    "ein zug ist mit der bahn zu spaet und die leute warten auf das gleis "
    "dort und lesen dabei die zeitung von heute",
    "die katze und der hund sind ein team und das ist zu schoen mit ihnen "
    "allen im garten an einem warmen tag",
]


def test_e6_crawl_corpus_end_to_end(spark, tmp_path):
    """WARC dir -> curated, language-tagged, deduped, packed shards:
    URL dedup drops the tracking-param re-crawl, junk URLs drop, the
    host cap bounds b.example, site boilerplate strips the nav line
    (the nav-only page empties out and is dropped), lang/source land
    per document, and E4 packs what survives."""
    from vbb_data_pipeline_spark.pipelines import e6_crawl_corpus

    d = tmp_path / "crawl"
    d.mkdir()
    records = []
    # a.example: 3 pages sharing a nav line + 1 nav-only page
    for i, body in enumerate(EN_BODIES):
        html = f"<html><body><p>{NAV}</p><p>{body}</p></body></html>"
        records.append(
            _e6_record(_e6_http(html.encode()), f"http://a.example/p{i}")
        )
    records.append(
        _e6_record(
            _e6_http(f"<html><body><p>{NAV}</p></body></html>".encode()),
            "http://a.example/navonly",
        )
    )
    # re-crawl of p0 with tracking noise -> same canonical URL
    records.append(
        _e6_record(
            _e6_http(
                f"<html><body><p>{NAV}</p><p>{EN_BODIES[0]}</p></body>"
                "</html>".encode()
            ),
            "http://a.example/p0?utm_source=feed",
        )
    )
    # b.example: 5 German pages, host-capped to 4
    for i, body in enumerate(DE_BODIES):
        html = f"<html><body><p>{body}</p></body></html>"
        records.append(
            _e6_record(_e6_http(html.encode()), f"http://b.example/g{i}")
        )
    # junk URI: no parseable host -> dropped
    records.append(
        _e6_record(_e6_http(b"<html><body><p>x</p></body></html>"), "junk:")
    )
    (d / "a.warc").write_bytes(b"".join(records))

    out = e6_crawl_corpus(
        spark,
        str(d),
        max_per_host=4,
        boilerplate_min_docs=3,
        min_quality=0.0,
    )
    rows = out.collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r.source, []).append(r)
    # a.example: 3 body pages (nav-only page emptied by boilerplate
    # removal and dropped; the utm re-crawl deduped by URL)
    assert len(by_host["a.example"]) == 3
    assert {r.lang for r in by_host["a.example"]} == {"en"}
    # b.example: 5 capped to 4 (the cap runs before boilerplate, so
    # it must not be tight enough to eat a.example body pages)
    assert len(by_host["b.example"]) == 4
    assert {r.lang for r in by_host["b.example"]} == {"de"}
    assert set(by_host) == {"a.example", "b.example"}
    urls = {r.url for r in rows}
    assert "http://a.example/navonly" not in urls
    # deterministic across reruns (seeded hashes end-to-end)
    rows2 = e6_crawl_corpus(
        spark,
        str(d),
        max_per_host=4,
        boilerplate_min_docs=3,
        min_quality=0.0,
    ).collect()
    key = lambda r: (r.doc_id, r.shard_id, r.split)  # noqa: E731
    assert sorted(map(key, rows2)) == sorted(map(key, rows))


def test_e6_host_cap_mode_approx(spark, tmp_path):
    """host_cap_mode='approx' plugs host_cap_approx into E6: under-cap
    hosts pass through EXACTLY (the threshold filter only engages past
    the cap), so with every host under the cap the approx run keeps
    the identical document set as the exact window run. An unknown
    mode raises."""
    import pytest

    from vbb_data_pipeline_spark.pipelines import e6_crawl_corpus

    d = tmp_path / "crawl"
    d.mkdir()
    records = []
    for i, body in enumerate(EN_BODIES):
        html = f"<html><body><p>{body}</p></body></html>"
        records.append(
            _e6_record(_e6_http(html.encode()), f"http://a.example/p{i}")
        )
    for i, body in enumerate(DE_BODIES):
        html = f"<html><body><p>{body}</p></body></html>"
        records.append(
            _e6_record(_e6_http(html.encode()), f"http://b.example/g{i}")
        )
    (d / "a.warc").write_bytes(b"".join(records))

    kw = dict(
        max_per_host=50,
        min_quality=0.0,
    )
    exact = e6_crawl_corpus(spark, str(d), host_cap_mode="exact", **kw)
    approx = e6_crawl_corpus(spark, str(d), host_cap_mode="approx", **kw)
    key = lambda r: (r.url, r.doc_id)  # noqa: E731
    assert sorted(map(key, approx.collect())) == sorted(
        map(key, exact.collect())
    )
    with pytest.raises(ValueError, match="host_cap_mode"):
        e6_crawl_corpus(spark, str(d), host_cap_mode="binomial", **kw)


def test_e6_wet_input(spark, tmp_path):
    """input_format='wet': the pipeline starts from pre-extracted
    conversion records — same curation chain, no HTML stage."""
    import gzip

    from vbb_data_pipeline_spark.pipelines import e6_crawl_corpus

    d = tmp_path / "wet_crawl"
    d.mkdir()

    def conv(text: str, uri: str) -> bytes:
        payload = text.encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return head + payload + b"\r\n\r\n"

    members = [
        gzip.compress(conv(b, f"http://en.example/{i}?utm_source=x"))
        for i, b in enumerate(EN_BODIES)
    ]
    # a re-crawl of page 0 (same canonical URL after normalization)
    members.append(
        gzip.compress(conv(EN_BODIES[0], "http://en.example/0"))
    )
    (d / "a.warc.wet.gz").write_bytes(b"".join(members))

    out = e6_crawl_corpus(
        spark, str(d), input_format="wet", run_e4=False
    ).collect()
    # URL dedup collapsed the re-crawl; all three bodies survive
    assert len(out) == 3
    assert {r["text"] for r in out} == set(EN_BODIES)
    assert all(r["url"].startswith("http://en.example/") for r in out)
    assert all("utm" not in r["url"] for r in out)


def test_e6_ranged_reader_equals_whole_file(spark, tmp_path):
    """ranged_chunk_bytes plugs the byte-range WARC tier into E6: a
    gzip-member archive read in tiny ranges must produce the identical
    curated document set as the whole-file binaryFile read (the
    oversized-archive escape measured by the 10 GB decade)."""
    import gzip

    from vbb_data_pipeline_spark.pipelines import e6_crawl_corpus

    d = tmp_path / "crawl"
    d.mkdir()
    members = []
    for i, body in enumerate(EN_BODIES + DE_BODIES):
        html = f"<html><body><p>{body}</p></body></html>"
        members.append(
            gzip.compress(
                _e6_record(
                    _e6_http(html.encode()), f"http://a.example/p{i}"
                ),
                compresslevel=1,
            )
        )
    (d / "a.warc.gz").write_bytes(b"".join(members))

    kw = dict(min_quality=0.0)
    whole = e6_crawl_corpus(spark, str(d), **kw)
    ranged = e6_crawl_corpus(spark, str(d), ranged_chunk_bytes=512, **kw)
    key = lambda r: (r.url, r.doc_id)  # noqa: E731
    assert sorted(map(key, ranged.collect())) == sorted(
        map(key, whole.collect())
    )


def test_e6_resume_from_materialized_curation(spark, tmp_path):
    """resume=True restarts E4 from the committed curated frame
    WITHOUT touching the archives: after the first run the WARC input
    is DELETED, and the resumed run still produces the identical
    shards (determinism makes resume == uninterrupted). A marker from
    a different configuration raises instead of silently reusing the
    wrong corpus; a missing marker bootstraps a fresh run; resume
    without materialize_dir is an error."""
    import shutil

    import pytest

    from vbb_data_pipeline_spark.pipelines import e6_crawl_corpus

    d = tmp_path / "crawl"
    d.mkdir()
    records = [
        _e6_record(
            _e6_http(
                f"<html><body><p>{body}</p></body></html>".encode()
            ),
            f"http://a.example/p{i}",
        )
        for i, body in enumerate(EN_BODIES + DE_BODIES)
    ]
    (d / "a.warc").write_bytes(b"".join(records))
    mat = str(tmp_path / "curated")
    kw = dict(
        materialize_dir=mat,
        min_quality=0.0,
    )

    key = lambda r: (r.doc_id, r.url, r.shard_id, r.split)  # noqa: E731
    # resume=True with nothing committed yet -> fresh run (bootstrap)
    first = sorted(
        map(key, e6_crawl_corpus(spark, str(d), resume=True, **kw).collect())
    )
    assert first

    # archives gone: only the at-rest curated frame can answer now
    shutil.rmtree(d)
    resumed = sorted(
        map(key, e6_crawl_corpus(spark, str(d), resume=True, **kw).collect())
    )
    assert resumed == first

    # a config that would have curated differently must refuse
    with pytest.raises(ValueError, match="max_per_host"):
        e6_crawl_corpus(spark, str(d), resume=True, max_per_host=2, **kw)
    # and without the at-rest hand-off there is nothing to resume from
    with pytest.raises(ValueError, match="materialize_dir"):
        e6_crawl_corpus(spark, str(d), resume=True)


def test_hadoop_text_roundtrip(spark, tmp_path):
    """hadoop_write_text/hadoop_read_text roundtrip through a file:
    URI — the marker I/O path the resume contract rides on."""
    from vbb_data_pipeline_spark.sources.layout import (
        hadoop_exists,
        hadoop_read_text,
        hadoop_write_text,
    )

    p = f"file://{tmp_path}/m/marker.json"
    assert not hadoop_exists(spark, p)
    hadoop_write_text(spark, p, '{"k": "v\\u00e9"}')
    assert hadoop_exists(spark, p)
    assert hadoop_read_text(spark, p) == '{"k": "v\\u00e9"}'
    hadoop_write_text(spark, p, "second")  # overwrite
    assert hadoop_read_text(spark, p) == "second"


def test_e6_curation_only_materialize_writes_marker(spark, tmp_path):
    """run_e4=False + materialize_dir is the curate-once hand-off:
    the at-rest frame AND its marker must land (previously the
    curation-only return skipped both, so a later resume silently
    re-parsed the archives), and the marker records every key that
    shapes the curated frame: the options, the constants under their
    old option names (so older markers still resume), and the RESOLVED
    hash mode, never null."""
    import json
    import shutil

    from vbb_data_pipeline_spark.functions.hashing import default_hash_mode
    from vbb_data_pipeline_spark.pipelines import e6_crawl_corpus
    from vbb_data_pipeline_spark.sources.layout import hadoop_read_text

    d = tmp_path / "crawl"
    d.mkdir()
    records = [
        _e6_record(
            _e6_http(
                f"<html><body><p>{body}</p></body></html>".encode()
            ),
            f"http://a.example/p{i}",
        )
        for i, body in enumerate(DE_BODIES)
    ]
    (d / "a.warc").write_bytes(b"".join(records))
    mat = str(tmp_path / "curated")

    out = e6_crawl_corpus(spark, str(d), run_e4=False, materialize_dir=mat)
    docs = sorted((r.doc_id, r.url) for r in out.collect())
    assert len(docs) == len(DE_BODIES)
    marker = json.loads(
        hadoop_read_text(spark, mat.rstrip("/") + "/_e6_curation.json")
    )
    assert marker == {
        "warc_path": str(d),
        "input_format": "warc",
        "extractor": "density",
        "max_per_host": None,
        "host_cap_mode": "exact",
        "boilerplate_min_docs": None,
        "langs": None,
        "min_chars": 1,
        "hash_mode": default_hash_mode(),  # resolved, not null
    }

    # archives gone: the curation-only run left enough to resume from
    shutil.rmtree(d)
    resumed = e6_crawl_corpus(
        spark, str(d), run_e4=False, materialize_dir=mat, resume=True
    )
    assert sorted((r.doc_id, r.url) for r in resumed.collect()) == docs


def test_e6_resume_refuses_unresolved_marker(spark, tmp_path):
    """A marker whose hash_mode is null (not RESOLVED to the hash
    family that curated the frame) does not match any configuration
    this code records, so resume refuses it as a different
    configuration instead of guessing the family; a genuinely
    different config refuses too, naming the mismatched key."""
    import gzip
    import json

    import pytest

    from vbb_data_pipeline_spark.pipelines import e6_crawl_corpus
    from vbb_data_pipeline_spark.sources.layout import (
        hadoop_read_text,
        hadoop_write_text,
    )

    d = tmp_path / "wet_crawl"
    d.mkdir()

    def conv(text: str, uri: str) -> bytes:
        payload = text.encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return head + payload + b"\r\n\r\n"

    members = [
        gzip.compress(conv(b, f"http://en.example/{i}"))
        for i, b in enumerate(EN_BODIES)
    ]
    (d / "a.warc.wet.gz").write_bytes(b"".join(members))
    mat = str(tmp_path / "curated")

    kw = dict(input_format="wet", run_e4=False, materialize_dir=mat)
    first = sorted(
        r["doc_id"] for r in e6_crawl_corpus(spark, str(d), **kw).collect()
    )
    marker = mat.rstrip("/") + "/_e6_curation.json"
    rec = json.loads(hadoop_read_text(spark, marker))
    # the committed marker resumes
    resumed = sorted(
        r["doc_id"]
        for r in e6_crawl_corpus(spark, str(d), resume=True, **kw).collect()
    )
    assert resumed == first
    # rewrite it with an unresolved hash_mode: resume refuses
    unresolved = dict(rec, hash_mode=None)
    hadoop_write_text(spark, marker, json.dumps(unresolved, sort_keys=True))
    with pytest.raises(ValueError, match=r"different configuration.*hash_mode"):
        e6_crawl_corpus(spark, str(d), resume=True, **kw)
    # a real config mismatch names its key
    with pytest.raises(ValueError, match="boilerplate_min_docs"):
        e6_crawl_corpus(
            spark, str(d), resume=True, boilerplate_min_docs=2, **kw
        )
