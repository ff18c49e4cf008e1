"""E5 — continuous corpus ingestion (Structured Streaming over the
training-data plane).

The batch pipeline (``pipelines.e4_corpus_prep``) curates a corpus in
one pass; real corpora GROW — crawls land continuously, and each
landing must be quality-gated and deduped against EVERYTHING ingested
so far without re-milling the existing corpus. This module is that
loop, composed from the already-proven pieces:

* the at-rest, text-free dedup index (``operators/dedup.
  dedup_index_write`` / ``dedup_incremental``) holds the corpus's
  dedup state — constant bytes per document;
* every micro-batch is quality-gated (C4/Gopher-style score), deduped
  WITHIN the batch (fingerprint keep-lowest-id), probed against the
  index, and only ``status='new'`` survivors are appended to the
  corpus + the index;
* an audit table records every verdict (including replays), so the
  ingest is explainable after the fact.

Effectively-once under crash-replay, per table: the fps index is the
replay-guard source (ids already indexed are anti-joined out FIRST),
and because a crash can land BETWEEN the corpus/ivf/index/audit
appends, each append carries its own guard — the corpus and audit are
hive-partitioned by the ingest batch id and a replayed batch
anti-joins against its OWN partition (partition-pruned read, never
the whole table), and the ivf append anti-joins the vector index's id
column. Any crash point therefore converges on replay: no duplicate
corpus/audit/ivf rows, no lost survivors — the streaming twin of the
reference's conflict-ignoring INSERT (``utils/__init__.py:55-56``),
like ``sinks.write_stream_idempotent``. One documented wrinkle: a
replay after the fps write may re-label an intra-batch duplicate
``exact_dup`` (probed from the index) instead of ``batch_dup`` — the
rejection itself is identical. A second: a crash between the index's
bands/ and fps/ writes leaves the batch's bands rows uncommitted. The
replay's probe ignores a doc's own rows, so survivors land in fps/ as
before; but two survivors that are near-dups of EACH OTHER (the
intra-batch tier is exact-only) can match each other's uncommitted
rows and re-label ``near_dup`` — their corpus and ``new`` audit rows
from the first attempt stand, and their ids stay out of fps/.

Scale posture: per micro-batch work is (batch × index-probe) joins —
the index read prunes to the batch's band buckets, the corpus text is
never read, and appends are plain parquet file adds. State lives in
storage, not executor memory, so the stream survives restarts and
scales with the index, not the stream history. Each per-document text
derivative is computed ONCE per micro-batch: the quality score and the
fingerprint ride the batch's checkpoint, and one pinned MinHash
signature frame serves both the index probe and the index append
(``operators/dedup.dedup_incremental_frames`` /
``dedup_index_write_frames``, the cores of the text-taking operators).
The answer is the same as deriving them per consumer, because each
is a deterministic function of the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _read_or_none(spark, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when the path does not
    exist yet. The existence probe goes through ``spark.read``, not
    ``os.path.exists``: the latter is driver-local, so on HDFS/S3 it
    is always False and every probe would take the bootstrap branch."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def corpus_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    *,
    corpus_path: str,
    index_path: str,
    audit_path: str,
    min_quality: float = 0.3,
    vec_col: str | None = None,
    embedding_index_path: str | None = None,
    centroids=None,
) -> None:
    """Ingest ONE micro-batch of ``(doc_id, text, ...)`` documents (also
    usable for plain batch loads).

    Verdicts appended to ``audit_path`` per input doc:
    ``low_quality`` / ``batch_dup`` / ``exact_dup`` / ``near_dup`` /
    ``semantic_dup`` / ``new`` (with ``dup_of`` and ``similarity``
    where applicable). Only ``new`` docs reach ``corpus_path`` and
    the index(es).

    The dedup tiers are fixed: 16 MinHash hashes over word 3-shingles
    in 4 LSH bands, a near-dup at Jaccard ≥ 0.7 to an indexed doc, and
    every hash is xxhash64 (hash mode ``"fast"``) whatever
    ``SPARK_GRAFT_FAST_HASH`` says, so the at-rest index stays one
    hash family across sessions.

    Semantic tier (optional): pass ``vec_col`` + ``embedding_index_
    path`` + ``centroids`` and docs surviving the text tiers are
    additionally probed against the corpus's at-rest IVF index
    (``operators/similarity.semdedup_incremental`` — catches
    paraphrases/translations that share no shingles) at cosine ≥ 0.9,
    E4's semantic threshold; survivors' vectors append to that index
    partition-aligned.

    Each text derivative is computed once per micro-batch: ``_q``
    (quality score) and ``_fp`` (fingerprint) are columns of the
    batch's checkpoint, read by the gate, the intra-batch group, the
    audit branches and the probe; the MinHash signatures of uniq's
    docs with a non-null fingerprint are built once and pinned, and
    the probe and the index append both read them. This is
    equivalent to the per-consumer derivation through
    ``dedup_incremental`` + ``dedup_index_write``: ``_q``, ``_fp`` and
    the signature are deterministic functions of the text, so each doc
    gets the same value whether it is computed once or once per branch,
    and the survivors' signatures are uniq's signatures restricted to
    the survivors (survivors are a subset of uniq).
    """
    from vbb_data_pipeline_spark.functions.text import (
        fingerprint,
        quality_score,
    )
    from vbb_data_pipeline_spark.operators.dedup import (
        dedup_incremental_frames,
        dedup_index_write_frames,
        minhash_signatures,
    )

    text_col, id_col = "text", "doc_id"
    spark = batch.sparkSession
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")

    # 0. replay guard: ids already ingested contribute nothing
    fps = _read_or_none(spark, f"{index_path}/fps")
    if fps is not None:
        batch = batch.join(fps.select(id_col), id_col, "left_anti")
    # the batch is re-read by several branches below; localCheckpoint
    # keeps the file-source lineage from re-running per branch. The
    # quality score and the fingerprint ride along (~40 B per doc), so
    # the gate, the intra-batch group, the audit branches, the probe
    # and the index append read them instead of re-tokenizing the text
    batch = batch.select(
        "*",
        quality_score(text_col).alias("_q"),
        fingerprint(text_col).alias("_fp"),
    ).localCheckpoint(eager=True)

    # 1. quality gate. NULL text must be REJECTED here, not scored:
    # quality_score(NULL) is 0.3 (the punctuation term fires on the
    # null-coalesced ratios), which clears the default gate — the
    # corpus would accumulate text-less rows whose NULL fingerprints
    # then cross-match each other in the dedup index. And a scoring
    # variant that yields NULL would satisfy NEITHER filter branch,
    # silently losing the doc's verdict; ~coalesce(ok, false) keeps
    # every input doc on exactly one branch either way.
    ok_pred = (
        F.col(text_col).isNotNull()
        & (F.col("_q") >= F.lit(float(min_quality)))
    )
    low = batch.filter(~F.coalesce(ok_pred, F.lit(False)))
    ok = batch.filter(ok_pred)

    # 2. intra-batch exact dedup (fingerprint keep-lowest-id). NULL
    # fingerprints (empty token set — fully non-Latin or
    # punctuation-only text) carry no dup evidence and go straight to
    # uniq: the name-list join on _fp compiles to plain `=`, which
    # would silently drop them from BOTH branches, and grouping them
    # would collapse unrelated documents into one survivor.
    nullfp = ok.filter(F.col("_fp").isNull())
    fped = ok.filter(F.col("_fp").isNotNull())
    keeper = fped.groupBy("_fp").agg(F.min(id_col).alias("_keep"))
    fped = fped.join(F.broadcast(keeper), "_fp")
    batch_dup = fped.filter(F.col(id_col) != F.col("_keep"))
    uniq = (
        fped.filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
        .unionByName(nullfp)
    )
    uniq_fp = uniq.select(F.col(id_col), F.col("_fp").alias("fp"))
    # MinHash once: the signatures of uniq's docs that have tokens (a
    # zero-token doc has no fingerprint and gets no signature, as in
    # dedup_incremental) serve the probe and, restricted to the
    # survivors, the index append. Narrow (id, mh_*) frame, pinned
    # because both consumers read it.
    sig = minhash_signatures(
        uniq.filter(F.col("_fp").isNotNull()), text_col, id_col
    ).localCheckpoint(eager=True)

    # 3. probe the at-rest index (first batch: everything is new)
    if fps is None:
        verdicts = uniq.select(
            F.col(id_col),
            F.lit("new").alias("status"),
            null_l.alias("dup_of"),
            null_d.alias("similarity"),
        )
    else:
        verdicts = dedup_incremental_frames(
            uniq_fp, uniq_fp, sig, index_path
        ).select(id_col, "status", "dup_of", "similarity")
    verdicts = verdicts.localCheckpoint(eager=True)

    # 3b. semantic tier: probe the at-rest IVF index with the
    # text-tier survivors' embeddings
    semantic = embedding_index_path is not None and vec_col is not None
    if semantic:
        from vbb_data_pipeline_spark.operators.similarity import (
            semdedup_incremental,
        )

        text_new = verdicts.filter(F.col("status") == "new").select(id_col)
        cand = uniq.join(F.broadcast(text_new), id_col, "left_semi")
        # probed through spark.read (_read_or_none): with a driver-local
        # probe the semantic tier would never engage on HDFS/S3 and
        # semantic dups would accumulate in the corpus with no error
        vec_index = _read_or_none(spark, embedding_index_path)
        if vec_index is not None:
            sem = semdedup_incremental(
                cand.select(id_col, vec_col),
                embedding_index_path,
                centroids,
                threshold=0.9,
                id_col=id_col,
                vec_col=vec_col,
            ).select(
                id_col,
                F.when(
                    F.col("status") == "near_dup", F.lit("semantic_dup")
                )
                .otherwise(F.lit("new"))
                .alias("status"),
                "dup_of",
                "similarity",
            )
        else:
            sem = cand.select(
                F.col(id_col),
                F.lit("new").alias("status"),
                null_l.alias("dup_of"),
                null_d.alias("similarity"),
            )
        sem = sem.localCheckpoint(eager=True)
        verdicts = verdicts.filter(F.col("status") != "new").unionByName(
            sem
        )

    # 4. append survivors to the corpus and the index(es). Each append
    # is individually replay-guarded (a crash can land between them):
    # corpus rows carry ingest_batch_id and a replay anti-joins its own
    # partition only — partition-pruned, so the guard cost is ∝ batch,
    # never ∝ corpus.
    new_ids = verdicts.filter(F.col("status") == "new").select(id_col)
    survivors = uniq.join(F.broadcast(new_ids), id_col, "left_semi")
    corpus_out = survivors.drop("_q", "_fp").withColumn(
        "ingest_batch_id", F.lit(int(batch_id)).cast("long")
    )
    done = _read_or_none(spark, corpus_path)
    if done is not None:
        corpus_out = corpus_out.join(
            done.filter(F.col("ingest_batch_id") == F.lit(int(batch_id)))
            .select(id_col),
            id_col,
            "left_anti",
        )
    corpus_out.write.partitionBy("ingest_batch_id").mode("append").parquet(
        corpus_path
    )
    if semantic:
        from vbb_data_pipeline_spark.operators.similarity import (
            ivf_write_index,
        )

        vec_survivors = survivors.filter(F.col(vec_col).isNotNull())
        # replay guard for the vector index (narrow id-column read) —
        # reuses step 3b's probe (same at-rest state: nothing has
        # appended to the index between the probe and this write), so
        # the index metadata isn't listed twice per micro-batch
        if vec_index is not None:
            vec_survivors = vec_survivors.join(
                vec_index.select(id_col), id_col, "left_anti"
            )
        ivf_write_index(
            vec_survivors.select(id_col, vec_col),
            centroids,
            embedding_index_path,
            id_col=id_col,
            vec_col=vec_col,
            mode="append",
            # the builder's certify-on-build default (target_recall
            # =0.9) re-reads the FULL index per append — per-micro-
            # batch that breaks this function's cost contract (guard
            # cost ∝ batch, never ∝ corpus). Certify offline with
            # ann_recall_estimate between ingest sessions instead.
            target_recall=None,
        )
    # 5. audit every verdict (batch-scoped, append-only). Rejected
    # docs never enter the fps index, so the step-0 guard alone would
    # re-audit them on replay — the batch-partition anti-join below
    # makes the audit itself effectively-once. The audit MUST land
    # before the fps-index append: once survivors are in the index,
    # a replay's step-0 guard removes them from the batch, so their
    # "new" rows could never be rebuilt — a crash in that order's
    # window would lose them from the audit permanently. In this
    # order every crash point still converges: a replay after the
    # audit rebuilds the full batch (survivors not yet indexed),
    # skips the guarded corpus/ivf/audit appends, and completes the
    # index write.
    audit = (
        verdicts.unionByName(
            low.select(
                F.col(id_col),
                F.lit("low_quality").alias("status"),
                null_l.alias("dup_of"),
                null_d.alias("similarity"),
            )
        )
        .unionByName(
            batch_dup.select(
                F.col(id_col),
                F.lit("batch_dup").alias("status"),
                F.col("_keep").cast("long").alias("dup_of"),
                F.lit(1.0).alias("similarity"),
            )
        )
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    audited = _read_or_none(spark, audit_path)
    if audited is not None:
        audit = audit.join(
            audited.filter(F.col("batch_id") == F.lit(int(batch_id)))
            .select(id_col),
            id_col,
            "left_anti",
        )
    audit.write.partitionBy("batch_id").mode("append").parquet(audit_path)

    # 6. fps index append LAST (see the ordering argument above), from
    # the once-computed fingerprints and signatures: survivors are a
    # subset of uniq, so theirs are uniq's restricted to the new ids
    dedup_index_write_frames(
        uniq_fp.join(F.broadcast(new_ids), id_col, "left_semi"),
        sig.join(F.broadcast(new_ids), id_col, "left_semi"),
        index_path,
        mode="append",
    )


def write_stream_corpus_ingest(
    stream_df: DataFrame,
    *,
    corpus_path: str,
    index_path: str,
    audit_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    **opts,
):
    """Start the E5 ingestion stream: ``readStream`` of landing docs →
    per-batch quality gate + corpus-wide incremental dedup →
    idempotent appends. Returns the started query; ``opts`` forward to
    :func:`corpus_ingest_batch`."""

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        corpus_ingest_batch(
            batch,
            batch_id,
            corpus_path=corpus_path,
            index_path=index_path,
            audit_path=audit_path,
            **opts,
        )

    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_on_batch)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_crawl_corpus_ingest(
    spark,
    landing_path: str,
    *,
    corpus_path: str,
    index_path: str,
    audit_path: str,
    checkpoint: str,
    input_format: str = "warc",
    **opts,
):
    """E6's streaming tier — continuous crawl-to-corpus ingestion:
    watch a landing directory for ``.warc(.gz)`` / WET archives, and
    run every new file through parse → extract → the E5 ingest loop
    (quality gate + incremental dedup against the at-rest index +
    idempotent appends).

    ``input_format``: ``"warc"`` (HTTP responses, HTML extracted by the
    ``"density"`` extractor) or ``"wet"`` (pre-extracted ``conversion``
    records, zero Python in the bridge). URLs are normalized per-row
    (``functions/urls.normalize_url``) before ingest so the corpus
    key-space matches the batch E6 pipeline; the CORPUS-level URL
    stages (host caps, site boilerplate removal) are deliberately NOT
    applied per micro-batch — they are statistics over the whole
    corpus, and belong to a periodic batch pass over the corpus at
    rest (``pipelines.e6_crawl_corpus``), not to a stream that sees
    one landing file at a time.

    Exactly-once per file: the binaryFile stream source records
    processed files in ``checkpoint``, and every append inside the
    batch loop carries its own replay guard (see module docstring) —
    a crash at any point converges on restart with no duplicate or
    lost corpus rows (tested).
    """
    from vbb_data_pipeline_spark.sources.warc import (
        read_warc_stream,
        warc_to_documents,
        wet_to_documents,
    )

    if input_format == "warc":
        recs = read_warc_stream(spark, landing_path, types=("response",))
        docs = warc_to_documents(recs, extractor="density")
    elif input_format == "wet":
        recs = read_warc_stream(spark, landing_path, types=("conversion",))
        docs = wet_to_documents(recs)
    else:
        raise ValueError(f"input_format must be warc|wet: {input_format}")
    from vbb_data_pipeline_spark.functions.urls import normalize_url, url_host

    docs = docs.withColumn("url", normalize_url(F.col("url")))
    # per-row hygiene parity with batch E6: rows whose host does
    # not parse (about:blank, mangled URIs) are dropped there
    # BEFORE curation — without the same drop here the streaming
    # corpus accumulates crawl junk a batch pass would exclude
    docs = docs.filter(url_host(F.col("url")).isNotNull())
    return write_stream_corpus_ingest(
        docs,
        corpus_path=corpus_path,
        index_path=index_path,
        audit_path=audit_path,
        checkpoint=checkpoint,
        trigger_available_now=True,
        **opts,
    )
