"""E5 continuous corpus ingestion (streaming/ingest.py): REAL
Structured Streaming (file source → foreachBatch) composing the
quality gate, intra-batch dedup and the at-rest incremental dedup
index; crash-replay idempotency; audit completeness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vbb_data_pipeline_spark.streaming.ingest import (
    corpus_ingest_batch,
    write_stream_corpus_ingest,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog and then the dog "
    "chases the fox around the yard while the cat watches from the "
    "fence and the birds sing in the trees above the garden wall "
    "until the sun goes down over the hills in the evening light"
)
GOOD2 = (
    "a steady rain fell on the old town square where the market "
    "stalls stood in rows and the vendors called out their wares to "
    "the people passing by with umbrellas and baskets full of bread "
    "and fruit from the farms beyond the river crossing at dawn"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _paths(tmp_path):
    return (
        str(tmp_path / "corpus"),
        str(tmp_path / "index"),
        str(tmp_path / "audit"),
    )


@pytest.fixture()
def kw(tmp_path):
    corpus, index, audit = _paths(tmp_path)
    return dict(
        corpus_path=corpus,
        index_path=index,
        audit_path=audit,
        min_quality=0.3,
    )


def _statuses(spark, audit_path):
    return {
        r["doc_id"]: r["status"]
        for r in spark.read.parquet(audit_path).collect()
    }


def test_first_batch_all_paths(spark, kw):
    batch = _docs(
        spark,
        [
            (1, GOOD),
            (2, GOOD2),
            (3, GOOD),        # intra-batch exact dup of 1
            (4, "x!!! ???"),  # junk → low_quality
        ],
    )
    corpus_ingest_batch(batch, 0, **kw)
    got = _statuses(spark, kw["audit_path"])
    assert got == {1: "new", 2: "new", 3: "batch_dup", 4: "low_quality"}
    corpus_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(kw["corpus_path"]).collect()
    )
    assert corpus_ids == [1, 2]


def test_second_batch_probes_index(spark, kw):
    corpus_ingest_batch(_docs(spark, [(1, GOOD), (2, GOOD2)]), 0, **kw)
    # 10: exact dup of 1 (same fingerprint); 11: near dup of 2
    # (one word changed); 12: genuinely new
    near = GOOD2.replace("umbrellas", "raincoats")
    new_text = (
        "deep in the forest a narrow path wound between tall pines "
        "and mossy stones toward a clearing where a small cabin "
        "stood with smoke rising from its chimney into the cold "
        "morning air as deer grazed quietly near the frozen stream"
    )
    corpus_ingest_batch(
        _docs(spark, [(10, GOOD), (11, near), (12, new_text)]), 1, **kw
    )
    got = _statuses(spark, kw["audit_path"])
    assert got[10] == "exact_dup"
    assert got[11] == "near_dup"
    assert got[12] == "new"
    dup_of = {
        r["doc_id"]: r["dup_of"]
        for r in spark.read.parquet(kw["audit_path"]).collect()
    }
    assert dup_of[10] == 1 and dup_of[11] == 2
    corpus_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(kw["corpus_path"]).collect()
    )
    assert corpus_ids == [1, 2, 12]


def test_crash_replay_is_noop(spark, kw):
    batch = _docs(spark, [(1, GOOD), (2, GOOD2)])
    corpus_ingest_batch(batch, 0, **kw)
    before_corpus = spark.read.parquet(kw["corpus_path"]).count()
    before_audit = spark.read.parquet(kw["audit_path"]).count()
    # the same batch replays (crash between write and checkpoint)
    corpus_ingest_batch(batch, 0, **kw)
    assert spark.read.parquet(kw["corpus_path"]).count() == before_corpus
    assert spark.read.parquet(kw["audit_path"]).count() == before_audit
    # index did not grow either: probing a copy still says exact_dup
    corpus_ingest_batch(_docs(spark, [(50, GOOD)]), 1, **kw)
    got = _statuses(spark, kw["audit_path"])
    assert got[50] == "exact_dup"


def test_streaming_end_to_end(spark, tmp_path, kw):
    """Real readStream over a landing directory, two availableNow
    passes — the second landing dedupes against the first's index."""
    landing = str(tmp_path / "landing")
    _docs(spark, [(1, GOOD), (2, GOOD2)]).write.mode("append").parquet(
        landing
    )
    q = write_stream_corpus_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(landing),
        checkpoint=str(tmp_path / "ckpt"),
        **kw,
    )
    q.awaitTermination(120)
    # second landing: one dup of an already-ingested doc, one new
    _docs(spark, [(20, GOOD), (21, GOOD2 + " extra words here")]).write.mode(
        "append"
    ).parquet(landing)
    q2 = write_stream_corpus_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(landing),
        checkpoint=str(tmp_path / "ckpt"),
        **kw,
    )
    q2.awaitTermination(120)
    got = _statuses(spark, kw["audit_path"])
    assert got[1] == "new" and got[2] == "new"
    assert got[20] == "exact_dup"
    assert got[21] in ("near_dup", "new")  # one-edit near boundary
    corpus_ids = {
        r["doc_id"] for r in spark.read.parquet(kw["corpus_path"]).collect()
    }
    assert {1, 2} <= corpus_ids and 20 not in corpus_ids


def test_semantic_tier_catches_paraphrase(spark, tmp_path):
    """Docs sharing NO shingles but near-identical embeddings: the
    text tiers pass them, the semantic tier flags the second."""
    corpus, index, audit = _paths(tmp_path)
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])],
        "cell_id long, embedding array<double>",
    )
    kw = dict(
        corpus_path=corpus,
        index_path=index,
        audit_path=audit,
        min_quality=0.0,
        vec_col="embedding",
        embedding_index_path=str(tmp_path / "ivf"),
        centroids=cents,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, embedding array<double>"
        )

    corpus_ingest_batch(
        batch([(1, GOOD, [1.0, 0.0, 0.0, 0.0]),
               (2, GOOD2, [0.0, 0.0, 0.0, 1.0])]),
        0,
        **kw,
    )
    # paraphrase of doc 1: disjoint vocabulary, same embedding; and a
    # genuinely new doc in embedding space
    para = (
        "swift auburn vulpine leaps above idle canine thereafter "
        "pursuing circles within grassy enclosure whilst feline "
        "observes perched upon wooden railing birdsong echoing "
        "overhead branches toward dusk descending beyond ridgeline"
    )
    fresh = (
        "numbers matrices gradients tensors layers attention heads "
        "optimizer schedules checkpoints shards tokens batches "
        "sequences losses metrics evaluations baselines ablations "
        "hyperparameters seeds runs clusters accelerators memory"
    )
    corpus_ingest_batch(
        batch([(20, para, [0.999, 0.001, 0.0, 0.0]),
               (21, fresh, [0.0, 0.0, 1.0, 0.0])]),
        1,
        **kw,
    )
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.parquet(audit).collect()
    }
    assert got[20] == ("semantic_dup", 1)
    assert got[21][0] == "new"
    corpus_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    )
    assert corpus_ids == [1, 2, 21]


def test_semantic_tier_engages_on_uri_schemed_paths(spark, tmp_path):
    """r7 verdict 'What's wrong #2' regression: the semantic-tier
    bootstrap probe was os.path.exists, which is driver-local and
    always False for URI-schemed paths (file:, hdfs:, s3a:) — every
    micro-batch silently took the bootstrap branch, marked all
    candidates 'new', and semantic dups accumulated with no error.
    Running the paraphrase scenario with EVERY table path as a
    ``file:`` URI proves the tier now engages through the
    spark.read probe (os.path.exists('file:/...') is False, so the
    old code fails this test)."""
    uri = lambda name: f"file:{tmp_path}/{name}"  # noqa: E731
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])],
        "cell_id long, embedding array<double>",
    )
    kw = dict(
        corpus_path=uri("corpus"),
        index_path=uri("index"),
        audit_path=uri("audit"),
        min_quality=0.0,
        vec_col="embedding",
        embedding_index_path=uri("ivf"),
        centroids=cents,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, embedding array<double>"
        )

    corpus_ingest_batch(batch([(1, GOOD, [1.0, 0.0, 0.0, 0.0])]), 0, **kw)
    para = (
        "swift auburn vulpine leaps above idle canine thereafter "
        "pursuing circles within grassy enclosure whilst feline "
        "observes perched upon wooden railing birdsong echoing"
    )
    corpus_ingest_batch(
        batch([(20, para, [0.999, 0.001, 0.0, 0.0])]), 1, **kw
    )
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.parquet(uri("audit")).collect()
    }
    assert got[20] == ("semantic_dup", 1)  # tier ENGAGED through the URI
    assert [r["doc_id"] for r in spark.read.parquet(uri("corpus")).collect()] == [1]


def _warc_archive(*docs, rtype="response"):
    """(uri, text) pairs → one gzip-member WARC archive's bytes."""
    import gzip

    members = []
    for uri, text in docs:
        if rtype == "response":
            body = f"<html><body><p>{text}</p></body></html>".encode()
            payload = (
                f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
        else:  # conversion (WET): payload is the text itself
            payload = text.encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: {rtype}\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        members.append(gzip.compress(head + payload + b"\r\n\r\n"))
    return b"".join(members)


def test_stream_crawl_corpus_ingest_warc(spark, tmp_path, kw):
    """E6 streaming tier end-to-end: landing .warc.gz files →
    parse/extract → E5 ingest loop. The second landing contains a
    re-crawl of an already-ingested page (same content, tracking
    param on the URL) — it must be rejected by the index probe, and
    the file-source checkpoint must not re-ingest the first file."""
    from vbb_data_pipeline_spark.streaming.ingest import (
        stream_crawl_corpus_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.warc.gz").write_bytes(
        _warc_archive(
            ("http://a.example/one", GOOD),
            ("http://a.example/two", GOOD2),
        )
    )
    ingest_kw = dict(
        corpus_path=kw["corpus_path"],
        index_path=kw["index_path"],
        audit_path=kw["audit_path"],
        checkpoint=str(tmp_path / "ckpt"),
        min_quality=0.3,
    )
    q = stream_crawl_corpus_ingest(spark, str(landing), **ingest_kw)
    q.awaitTermination(120)
    corpus = spark.read.parquet(kw["corpus_path"])
    assert corpus.count() == 2
    urls = {r["url"] for r in corpus.collect()}
    assert urls == {"http://a.example/one", "http://a.example/two"}

    # second landing: a re-crawl (same text, junk query param) + new
    fresh_text = (
        "deep in the winter forest the snow lay thick on the pine "
        "branches and a lone wolf tracked silent paths between the "
        "frozen streams while the moon rose pale over the ridge and "
        "the wind carried the scent of smoke from a distant cabin"
    )
    (landing / "b.warc.gz").write_bytes(
        _warc_archive(
            ("http://a.example/one?utm_source=feed", GOOD),
            ("http://b.example/fresh?utm_campaign=x", fresh_text),
        )
    )
    q2 = stream_crawl_corpus_ingest(spark, str(landing), **ingest_kw)
    q2.awaitTermination(120)
    corpus2 = spark.read.parquet(kw["corpus_path"]).collect()
    texts = {r["text"] for r in corpus2}
    assert GOOD in texts and len(corpus2) == 3  # recrawl rejected
    audit = spark.read.parquet(kw["audit_path"])
    assert audit.filter(F.col("status") == "exact_dup").count() == 1
    # URL normalization ran before ingest: the fresh doc's tracking
    # param is gone from its corpus row
    fresh_urls = {r["url"] for r in corpus2 if r["text"] == fresh_text}
    assert fresh_urls == {"http://b.example/fresh"}


def test_stream_crawl_corpus_ingest_wet(spark, tmp_path, kw):
    """WET variant: conversion records, text ingested with no HTML
    stage."""
    from vbb_data_pipeline_spark.streaming.ingest import (
        stream_crawl_corpus_ingest,
    )

    landing = tmp_path / "landing_wet"
    landing.mkdir()
    (landing / "a.warc.wet.gz").write_bytes(
        _warc_archive(
            ("http://w.example/x", GOOD), rtype="conversion"
        )
    )
    q = stream_crawl_corpus_ingest(
        spark,
        str(landing),
        corpus_path=kw["corpus_path"],
        index_path=kw["index_path"],
        audit_path=kw["audit_path"],
        checkpoint=str(tmp_path / "ckpt_wet"),
        input_format="wet",
        min_quality=0.3,
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(kw["corpus_path"]).collect()
    assert len(rows) == 1 and rows[0]["text"] == GOOD


def test_null_text_gets_low_quality_verdict(spark, kw):
    """NULL text scores NULL quality, which satisfies NEITHER gate
    branch — the doc must land in the reject branch with an audit
    row, not vanish verdict-less (the module contract: every input
    doc gets exactly one verdict)."""
    batch = _docs(spark, [(1, GOOD), (2, None)])
    corpus_ingest_batch(batch, 0, **kw)
    got = _statuses(spark, kw["audit_path"])
    assert got == {1: "new", 2: "low_quality"}
    corpus_ids = [
        r["doc_id"]
        for r in spark.read.parquet(kw["corpus_path"]).collect()
    ]
    assert corpus_ids == [1]


def test_crash_before_index_write_converges(spark, kw, monkeypatch):
    """Crash window between the audit append and the fps-index append
    (the LAST write in the batch): the audit must already be complete,
    and the replay must finish the index write without duplicating
    any earlier append. (The reverse order had an unclosable window:
    once survivors hit the index, a replay's step-0 guard removed
    them from the batch and their 'new' audit rows could never be
    rebuilt.) The crash is injected at the core index writer the
    ingest loop calls with its once-computed frames."""
    import vbb_data_pipeline_spark.operators.dedup as dd

    real = dd.dedup_index_write_frames
    calls = {"n": 0}

    def crashing(*a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash before index append")

    monkeypatch.setattr(dd, "dedup_index_write_frames", crashing)
    batch = _docs(spark, [(1, GOOD), (2, GOOD2), (3, GOOD)])
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected"):
        corpus_ingest_batch(batch, 0, **kw)
    assert calls["n"] == 1
    # the audit is already complete at the crash point
    got = _statuses(spark, kw["audit_path"])
    assert got == {1: "new", 2: "new", 3: "batch_dup"}
    corpus_before = spark.read.parquet(kw["corpus_path"]).count()

    # replay (checkpoint never committed) with the crash removed
    monkeypatch.setattr(dd, "dedup_index_write_frames", real)
    corpus_ingest_batch(batch, 0, **kw)
    assert spark.read.parquet(kw["corpus_path"]).count() == corpus_before
    assert _statuses(spark, kw["audit_path"]) == got  # no dup audit rows
    # and the index DID get written on replay: a later batch carrying
    # the same text is recognized as an exact dup
    corpus_ingest_batch(_docs(spark, [(50, GOOD)]), 1, **kw)
    assert _statuses(spark, kw["audit_path"])[50] == "exact_dup"


def test_zero_token_redelivery_guarded_across_batches(spark, kw):
    """A zero-token (NULL-fingerprint) survivor redelivered under the
    SAME doc id in a LATER micro-batch must be filtered by the step-0
    guard — the fps index records its id (with a NULL fp) even though
    it carries no dedup evidence. Before the round-9 fix such docs
    were excluded from fps entirely, so redelivery duplicated them in
    the corpus (the corpus/audit guards are batch-partition-scoped and
    can't see across batch ids)."""
    kw = dict(kw, min_quality=0.0)
    zt = "你好世界你好世界"  # fully CJK: zero [a-z0-9] tokens
    corpus_ingest_batch(_docs(spark, [(7, zt), (8, GOOD)]), 0, **kw)
    corpus = spark.read.parquet(kw["corpus_path"])
    assert corpus.filter(F.col("doc_id") == 7).count() == 1

    # at-least-once source redelivers doc 7 in the next batch
    corpus_ingest_batch(_docs(spark, [(7, zt), (9, GOOD2)]), 1, **kw)
    corpus = spark.read.parquet(kw["corpus_path"])
    assert corpus.filter(F.col("doc_id") == 7).count() == 1
    assert corpus.count() == 3
    # and the audit carries exactly one verdict for doc 7
    audit = spark.read.parquet(kw["audit_path"])
    assert audit.filter(F.col("doc_id") == 7).count() == 1


def _fps_ids(spark, index_path):
    return sorted(
        r["doc_id"] for r in spark.read.parquet(f"{index_path}/fps").collect()
    )


def test_crash_between_bands_and_fps_converges(spark, kw, monkeypatch):
    """Crash INSIDE the index append of a warm micro-batch: bands/ is
    written, fps/ (the commit point) is not. The replay rebuilds the
    batch (its ids are absent from fps/) and must converge: no
    duplicate corpus or audit rows, the survivors' ids land in fps/,
    and a later one-word edit of a survivor is a near-dup of it. The
    replay's probe sees the survivor's own uncommitted bands/ rows and
    must not call the survivor a near-dup of itself."""
    from pyspark.sql.readwriter import DataFrameWriter

    corpus_ingest_batch(_docs(spark, [(1, GOOD)]), 0, **kw)
    real = DataFrameWriter.parquet

    def crashing(self, path, *a, **k):
        if path.rstrip("/").endswith("/fps"):
            raise RuntimeError("injected crash between bands/ and fps/")
        return real(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    # 2: new; 3: batch_dup of 2; 4: exact_dup of 1
    batch = _docs(spark, [(2, GOOD2), (3, GOOD2), (4, GOOD)])
    with pytest.raises(RuntimeError, match="injected"):
        corpus_ingest_batch(batch, 1, **kw)
    bands_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{kw['index_path']}/bands").collect()
    }
    assert 2 in bands_ids and _fps_ids(spark, kw["index_path"]) == [1]
    want = {1: "new", 2: "new", 3: "batch_dup", 4: "exact_dup"}
    assert _statuses(spark, kw["audit_path"]) == want

    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    corpus_ingest_batch(batch, 1, **kw)
    corpus_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(kw["corpus_path"]).collect()
    )
    assert corpus_ids == [1, 2]
    assert spark.read.parquet(kw["audit_path"]).count() == len(want)
    assert _statuses(spark, kw["audit_path"]) == want
    assert _fps_ids(spark, kw["index_path"]) == [1, 2]

    edit = GOOD2.replace("umbrellas", "raincoats")
    corpus_ingest_batch(_docs(spark, [(20, edit)]), 2, **kw)
    row = (
        spark.read.parquet(kw["audit_path"])
        .filter(F.col("doc_id") == 20)
        .collect()
    )
    assert [(r["status"], r["dup_of"]) for r in row] == [("near_dup", 2)]


# ---------------------------------------------------------------------------
# Each text derivative once per micro-batch: equivalence with the
# per-consumer composition, and a count of the derivations
# ---------------------------------------------------------------------------

_ZERO_TOKEN = ["你好世界", "こんにちは世界", "Привет мир", "مرحبا بالعالم"]


def _words(rng, n):
    import string

    return [
        "".join(rng.choice(string.ascii_lowercase) for _ in range(6))
        for _ in range(n)
    ]


def _text(rng, vocab, n=60):
    return " ".join(rng.choice(vocab) for _ in range(n))


def _seeded_batches(seed=7):
    """Three micro-batches of (doc_id, text) covering every verdict:
    new, batch_dup (a reordered copy within the batch), exact_dup and
    near_dup (one appended word) of earlier batches' survivors,
    low_quality, zero-token text (no fingerprint, no signature) and
    NULL text."""
    import random

    rng = random.Random(seed)
    vocab = _words(rng, 400)
    zt = iter(_ZERO_TOKEN)
    kept: list[str] = []
    batches = []
    for b in range(3):
        base = (b + 1) * 1000
        rows = []
        fresh = [_text(rng, vocab) for _ in range(6)]
        rows += [(base + i, t) for i, t in enumerate(fresh)]
        # reordered tokens: same fingerprint, different text
        rows += [
            (base + 100 + i, " ".join(reversed(t.split())))
            for i, t in enumerate(fresh[:2])
        ]
        if kept:
            rows += [(base + 200 + i, t) for i, t in enumerate(kept[-2:])]
            rows += [
                (base + 300 + i, f"{t} edit{b}{i}")
                for i, t in enumerate(kept[:2])
            ]
        rows += [(base + 400, "!!! ??? ###"), (base + 401, "x ... ;;;")]
        # zero-token text padded with spaces: no [a-z0-9] token, and a
        # punctuation ratio low enough to clear the quality gate
        rows += [(base + 500, next(zt) + " " * 60), (base + 501, None)]
        rng.shuffle(rows)
        kept += fresh
        batches.append(rows)
    return batches


def _reference_ingest(batch, batch_id, *, corpus_path, index_path,
                      audit_path, min_quality):
    """The per-consumer composition the ingest loop replaced: the
    quality score and the fingerprint derived in each branch, then
    ``dedup_incremental`` + ``dedup_index_write`` re-deriving the
    fingerprints and signatures from text. No replay guards: the
    reference only ingests fresh batches."""
    from pyspark.errors import AnalysisException

    from vbb_data_pipeline_spark.functions.text import (
        fingerprint,
        quality_score,
    )
    from vbb_data_pipeline_spark.operators.dedup import (
        dedup_incremental,
        dedup_index_write,
    )

    spark = batch.sparkSession
    try:
        seen = spark.read.parquet(f"{index_path}/fps").select("doc_id")
    except AnalysisException:
        seen = None
    scored = batch.withColumn("_q", quality_score("text"))
    ok_pred = F.col("text").isNotNull() & (F.col("_q") >= min_quality)
    low = scored.filter(~F.coalesce(ok_pred, F.lit(False)))
    fped0 = scored.filter(ok_pred).drop("_q").withColumn(
        "_fp", fingerprint("text")
    )
    nullfp = fped0.filter(F.col("_fp").isNull()).drop("_fp")
    fped = fped0.filter(F.col("_fp").isNotNull())
    keeper = fped.groupBy("_fp").agg(F.min("doc_id").alias("_keep"))
    fped = fped.join(keeper, "_fp")
    batch_dup = fped.filter(F.col("doc_id") != F.col("_keep"))
    uniq = (
        fped.filter(F.col("doc_id") == F.col("_keep"))
        .drop("_fp", "_keep")
        .unionByName(nullfp)
    )
    if seen is None:
        verdicts = uniq.select(
            "doc_id",
            F.lit("new").alias("status"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(None).cast("double").alias("similarity"),
        )
    else:
        verdicts = dedup_incremental(uniq, index_path).select(
            "doc_id", "status", "dup_of", "similarity"
        )
    verdicts = verdicts.localCheckpoint()
    survivors = uniq.join(
        verdicts.filter(F.col("status") == "new").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    survivors.withColumn(
        "ingest_batch_id", F.lit(batch_id).cast("long")
    ).write.partitionBy("ingest_batch_id").mode("append").parquet(
        corpus_path
    )
    verdicts.unionByName(
        low.select(
            "doc_id",
            F.lit("low_quality").alias("status"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(None).cast("double").alias("similarity"),
        )
    ).unionByName(
        batch_dup.select(
            "doc_id",
            F.lit("batch_dup").alias("status"),
            F.col("_keep").cast("long").alias("dup_of"),
            F.lit(1.0).alias("similarity"),
        )
    ).withColumn("batch_id", F.lit(batch_id).cast("long")).write.partitionBy(
        "batch_id"
    ).mode("append").parquet(audit_path)
    dedup_index_write(survivors, index_path, mode="append")


def _table_rows(spark, path):
    def norm(v):
        return tuple(v) if isinstance(v, list) else v

    df = spark.read.parquet(path)
    return sorted(
        (tuple(norm(r[c]) for c in sorted(df.columns)) for r in df.collect()),
        key=repr,
    )


def test_ingest_matches_per_consumer_composition(spark, tmp_path):
    """Three seeded micro-batches through ``corpus_ingest_batch`` and
    through the per-consumer reference: audit, corpus, fps/ and bands/
    rows are identical, and every verdict kind occurs."""
    batches = _seeded_batches()
    for name, ingest in (
        ("once", corpus_ingest_batch),
        ("ref", _reference_ingest),
    ):
        corpus, index, audit = _paths(tmp_path / name)
        for b, rows in enumerate(batches):
            ingest(
                _docs(spark, rows), b,
                corpus_path=corpus, index_path=index, audit_path=audit,
                min_quality=0.1,
            )
    once, ref = _paths(tmp_path / "once"), _paths(tmp_path / "ref")
    for a, b in (
        (once[0], ref[0]),
        (once[2], ref[2]),
        (f"{once[1]}/fps", f"{ref[1]}/fps"),
        (f"{once[1]}/bands", f"{ref[1]}/bands"),
    ):
        got, want = _table_rows(spark, a), _table_rows(spark, b)
        assert got == want, a
    statuses = set(_statuses(spark, once[2]).values())
    assert statuses == {
        "new", "batch_dup", "exact_dup", "near_dup", "low_quality"
    }
    # zero-token docs pass as new, NULL text is rejected
    audit = spark.read.parquet(once[2]).collect()
    zero_token = {r["status"] for r in audit if r["doc_id"] % 1000 == 500}
    null_text = {r["status"] for r in audit if r["doc_id"] % 1000 == 501}
    assert zero_token == {"new"} and null_text == {"low_quality"}


def test_warm_batch_derives_fingerprint_and_minhash_once(
    spark, kw, monkeypatch
):
    """A warm micro-batch (the index exists, so it is probed and then
    appended to) builds ``fingerprint`` and ``minhash_signatures``
    once each; the per-consumer composition built them 3 and 2
    times."""
    import vbb_data_pipeline_spark.functions.text as txt
    import vbb_data_pipeline_spark.operators.dedup as dd

    batches = _seeded_batches()
    corpus_ingest_batch(_docs(spark, batches[0]), 0, **kw)
    calls = {"fingerprint": 0, "minhash_signatures": 0}

    def counting(name, fn):
        def wrapped(*a, **k):
            calls[name] += 1
            return fn(*a, **k)

        return wrapped

    for mod, name in (
        (txt, "fingerprint"),
        (dd, "fingerprint"),
        (dd, "minhash_signatures"),
    ):
        monkeypatch.setattr(mod, name, counting(name, getattr(mod, name)))
    corpus_ingest_batch(_docs(spark, batches[1]), 1, **kw)
    assert calls == {"fingerprint": 1, "minhash_signatures": 1}
    assert "near_dup" in set(_statuses(spark, kw["audit_path"]).values())
