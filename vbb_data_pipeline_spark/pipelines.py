"""End-to-end pipelines — the reference's three user-facing entry
points (SURVEY.md §3 E1/E2/E3) restated as engine calls.

The reference wires these through Airflow DAGs + XCom + Postgres +
a hand-built Kafka producer; here each is a pure function over
DataFrames so the "DAG" is the Catalyst plan. Orchestration concerns
(scheduling, retries) stay outside the engine (SURVEY.md §2.11).

* **E1 extract** (`gtfs_pipeline` DAG): landing scan → checksum dedup
  → new-run detection. Downloading itself is pre-engine (S3); the
  engine's job starts at the landed archive.
* **E2 load** (`database_load` DAG): per new run, zip → typed,
  lineage-stamped tables → conflict-ignoring append into the
  warehouse (the reference's ON CONFLICT DO NOTHING).
* **E3 arrivals** (`GtfsArrivalsProducer`): calendar→arrivals
  expansion → wire-format rows, ready for a Kafka sink
  (``sources/connectors.kafka_sink_spec``) or a paced replay
  (``streaming/arrivals.replay_paced``).
* **E4 corpus prep** (north-star extension, no reference analog):
  documents → profile → quality gate → exact + near dedup → split →
  mix → token-budget shards — the end-to-end training-data assembly
  flow composed from the extension operators.
* **E6 crawl corpus** (north-star extension): raw WARC archives →
  documents → URL hygiene (normalize / URL dedup / host cap / site
  boilerplate) → language ID → E4 — crawl-to-training-shards in one
  call, the C4/RefinedWeb construction shape over this engine's
  operators.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from vbb_data_pipeline_spark.operators.dedup import CKPT_SER
from vbb_data_pipeline_spark.operators.temporal import expand_arrivals
from vbb_data_pipeline_spark.sources.catalog import (
    assign_run_ids,
    dedup_archives,
    new_runs,
    scan_landing,
)
from vbb_data_pipeline_spark.sources.gtfs import (
    idempotent_append,
    read_gtfs_zip,
)
from vbb_data_pipeline_spark.streaming.arrivals import arrivals_as_wire


@dataclass
class Warehouse:
    """In-session stand-in for the reference's Postgres schema: one
    DataFrame per GTFS table plus the run catalog. At deployment these
    are parquet/bucketed tables (sources/layout.py) — the pipeline
    functions only ever union/anti-join, so the storage swap is a
    read/write at the edges."""

    tables: dict[str, DataFrame] = field(default_factory=dict)
    run_catalog: DataFrame | None = None


def e1_extract(spark: SparkSession, landing_dir: str, warehouse: Warehouse) -> DataFrame:
    """E1: landed archives that are genuinely new work.

    Checksum-dedup (XOR of member CRCs, distributed) drops
    re-downloads with identical content; the anti-join against the
    run catalog drops already-loaded runs. Returns
    ``(provider_id, run_date, path, checksum)``.
    """
    listing = scan_landing(spark, landing_dir)
    deduped = dedup_archives(spark, listing)
    if warehouse.run_catalog is None:
        return deduped
    return new_runs(deduped, warehouse.run_catalog)


def e2_load(
    spark: SparkSession, landing_dir: str, warehouse: Warehouse
) -> Warehouse:
    """E2: load every new run into the warehouse, idempotently.

    Run ids are deterministic (dense_rank over the natural key,
    offset by the catalog max — re-running assigns identical ids).
    Per-archive table reads are driver-coordinated (one archive is one
    zip — catalog-scale); the row data itself moves only through
    Spark plans.
    """
    pending = assign_run_ids(
        e1_extract(spark, landing_dir, warehouse), warehouse.run_catalog
    )
    # Materialize the pending list ONCE (it is catalog-scale metadata):
    # the checksum/anti-join/window chain runs a single time, and the
    # new catalog rows are rebuilt from the collected values so the
    # catalog never keeps lineage into the landing tree.
    runs = pending.select("run_id", "run_date", "provider_id", "path").collect()
    for r in sorted(runs, key=lambda x: x.run_id):
        for table, df in read_gtfs_zip(spark, r.path, r.run_id, r.provider_id).items():
            warehouse.tables[table] = idempotent_append(
                warehouse.tables.get(table), df, table
            )
    # Cut table lineage from the landing zips: retention may delete or
    # replace archives after load, and the warehouse must not
    # re-execute csv/zip reads on later evaluations. At deployment this
    # is the parquet write (sources/layout.py); in-session it is a
    # checkpoint.
    for table in list(warehouse.tables):
        warehouse.tables[table] = warehouse.tables[table].localCheckpoint()
    new_catalog = spark.createDataFrame(
        [(r.run_id, r.run_date, r.provider_id) for r in runs],
        "run_id int, run_date string, provider_id string",
    )
    warehouse.run_catalog = (
        new_catalog
        if warehouse.run_catalog is None
        else warehouse.run_catalog.unionByName(new_catalog)
    )
    return warehouse


def e3_arrivals(
    warehouse: Warehouse,
    start: dt.date,
    end: dt.date,
    as_wire: bool = False,
) -> DataFrame:
    """E3: the scheduled-arrivals stream the reference's producer
    replays — calendar ⋈ trips ⋈ stop_times ⋈ stops, expanded to
    concrete events, time-ordered. ``as_wire=True`` serializes to the
    producer's JSON wire shape (GtfsArrival.java:20-36), ready for
    ``kafka_sink_spec(...).save(df)``.
    """
    t = warehouse.tables
    out = expand_arrivals(
        t["calendar"], t["trips"], t["stop_times"], t["stops"], start, end
    )
    return arrivals_as_wire(out) if as_wire else out


def e4_corpus_prep(
    docs: DataFrame,
    *,
    min_quality: float = 0.3,
    lm_band: tuple[float, float] | None = None,
    max_dup_line_frac: float | None = None,
    max_cross_dup_span_frac: float | None = None,
    compression_bounds: tuple[float, float] | None = None,
    eval_df: DataFrame | None = None,
    lsh_pair_mode: str = "all",
    embedding_col: str | None = None,
    embedding_dim: int = 64,
    shard_budget: int = 50_000,
    mix_factors: dict[str, float] | None = None,
    epoch: int = 0,
) -> DataFrame:
    """E4: the training-corpus assembly pipeline — the north-star
    composition the reference never had, built entirely from this
    engine's operators:

    1. **Profile** — token count (BPE-ish) + heuristic quality score,
       one codegen pass over the scan.
    1b. **Hygiene gates** (optional) — ``max_dup_line_frac`` drops
       documents whose duplicate-line fraction exceeds the cap (the
       Gopher repetition filter, ``functions/text.py``);
       ``max_cross_dup_span_frac`` drops documents whose
       CROSS-document duplicated-span fraction exceeds the cap unless
       they own (min-id) every duplicated span they hold
       (``operators/dedup.substring_span_stats`` over 15-token spans,
       Lee et al. 2021 with winnowed fingerprint selection, winnow 4 —
       catches long quoted runs that line dedup misses when line
       boundaries differ; the canonical first holder always survives);
       ``compression_bounds=(lo, hi)`` keeps only documents whose zlib
       compression ratio falls inside the band — below ``lo`` is
       repetitive/templated garbage, above ``hi`` is random/binary
       spill (``functions/udfs.compression_signals``; the one
       Arrow-batched Python stage in the pipeline, skipped entirely
       when the bound is None); ``lm_band=(lo_pct, hi_pct)`` applies
       the CCNet cut — self-train a unigram LM on the corpus
       (``operators/lm.py``) and keep only documents whose mean token
       log-prob falls between those score percentiles (0.0-1.0),
       dropping the far-from-corpus tail (garbage) and optionally the
       too-templated head.
    2. **Quality gate** — drop documents below ``min_quality``
       (C4/Gopher-style filtering).
    2b. **Decontamination** (when ``eval_df`` is given) — drop
       documents sharing ≥ 5 word trigrams with
       the benchmark set (``operators/contamination.py``; eval grams
       broadcast, corpus text never shuffles).
    3. **Exact-ish dedup** — sorted-token-set fingerprint keep-lowest-id
       (one hash aggregation; wide columns never shuffle). Each doc is
       fingerprinted once: the narrow ``(doc_id, fingerprint)`` frame
       is checkpointed and the survivor ids semi-join back onto the
       text-bearing frame, so every later branch below reads survivors
       without re-fingerprinting (``operators/dedup.fingerprint_dedup``).
    4. **Near-dup removal** — MinHash → LSH banding → exact-Jaccard
       re-rank (pairs at Jaccard ≥ 0.8) → connected components; every
       non-canonical cluster member (cluster_id ≠ doc id) is dropped. Linear-cost at 100 TB:
       no O(n²) stage anywhere (see operators/dedup.py). MinHash runs
       once per doc in both pair modes: ``lsh_pair_mode="star"`` takes
       each bucket's hub as a window min over the banded signatures
       instead of joining a hub table back onto them (the join's two
       branches each re-ran the signature shuffle). When
       ``embedding_col`` names a vector column on ``docs``, SEMANTIC
       near-dup pairs (hyperplane-LSH-blocked cosine strictly above
       0.9) union with the text pairs before cluster
       assembly — paraphrases duplicate meaning without sharing
       shingles, and only the embedding signal catches them. The
       hyperplane LSH uses 8 planes (256 buckets); the within-bucket
       join is quadratic per bucket. Neither candidate generator caps
       its bucket size.
    5. **Split** — hash-deterministic 0.9/0.05/0.05 train/val/test
       assignment (seed 0), stable under corpus growth.
    6. **Mix** (optional) — epoch-aware weighted domain up/down-sampling
       of the ``train`` split ONLY: re-weighting
       is a training-set operation — val/test must stay an unweighted
       sample of the corpus, so other splits pass through with
       ``copy_idx = 1``.
    7. **Pack** — greedy token-budget sharding per (split, lang): the
       physical training-shard layout, one window shuffle.

    E4 hashes exactly the text it is given. A caller that rewrites
    text does so on ``docs`` before the call, so that profiling and
    every dedup key see the rewritten form: NFKC + control-char
    cleanup (``text.clean_text(udfs.normalize_unicode("text"))``),
    PII placeholders (``text.redact_pii``), corpus-wide line dedup
    (``operators/dedup.line_dedup_corpus``) or surgical span excision
    (``operators/dedup.span_removal``), the latter two joined back on
    ``doc_id``. A caller that wants a sequence-packing plan calls
    ``operators/sampling.pack_sequences`` on the output, with
    ``group_cols=["split"]`` so that no sequence spans a split.

    ``docs`` carries ``doc_id`` (unique, non-null), ``text``, ``lang``
    and ``source``. Returns one row per packed document copy:
    ``(doc_id, lang, source, n_tokens, quality, split[, copy_idx],
    shard_id)``. Feed it to ``sources/layout.write_partitioned``
    partitioned by ``(split, shard_id)`` to land actual shard files.

    Every hash comes from one family, ``default_hash_mode()``
    (``SPARK_GRAFT_FAST_HASH``). Every decision is deterministic
    (hash-membership, lowest-id survivors, fixed tie-breaks), so two
    runs — or two engines — agree row-for-row;
    ``tests/test_pipelines.py`` checks the composition end-to-end and
    stage-by-stage.
    """
    from vbb_data_pipeline_spark.functions.hashing import default_hash_mode
    from vbb_data_pipeline_spark.functions.text import bpe_token_count, quality_score
    from vbb_data_pipeline_spark.operators.dedup import (
        connected_components,
        fingerprint_dedup,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from vbb_data_pipeline_spark.operators.sampling import (
        deterministic_split,
        pack_token_shards,
        weighted_domain_mix,
    )
    from pyspark.sql import functions as F

    mode = default_hash_mode()

    profiled = docs.withColumn("n_tokens", bpe_token_count("text")).withColumn(
        "quality", quality_score("text")
    )
    kept = profiled.filter(F.col("quality") >= F.lit(min_quality))
    if max_dup_line_frac is not None:
        from vbb_data_pipeline_spark.functions.text import dup_line_fraction

        kept = kept.filter(
            dup_line_fraction("text") <= F.lit(float(max_dup_line_frac))
        )
    if max_cross_dup_span_frac is not None:
        from vbb_data_pipeline_spark.operators.dedup import (
            substring_span_stats,
        )

        # the gate BRANCHES from `kept` (span stats + the anti-join
        # back onto it), so without truncation the expensive upstream
        # lineage (a caller's Arrow NFKC or line-dedup shuffles)
        # re-executes once per consumer — measured 275 s vs 120 s at sf1. One
        # localCheckpoint computes it once; downstream stages (LM
        # band, MinHash) inherit the truncated lineage too.
        kept = kept.localCheckpoint(storageLevel=CKPT_SER)
        span_stats = substring_span_stats(
            kept.select("doc_id", "text"),
            "text",
            "doc_id",
            winnow=4,
            hash_mode=mode,
        )
        # drop span-heavy documents UNLESS they are the min-id owner
        # of every duplicated span they hold (the canonical first
        # holder survives; later quoters of its content do not)
        heavy_nonowner = span_stats.filter(
            (F.col("dup_frac") > F.lit(float(max_cross_dup_span_frac)))
            & (F.col("owned_dup_spans") < F.col("dup_spans"))
        ).select("doc_id")
        kept = kept.join(heavy_nonowner, "doc_id", "left_anti")
    if compression_bounds is not None:
        from vbb_data_pipeline_spark.functions.udfs import compression_signals

        lo, hi = compression_bounds
        ratio = compression_signals(F.col("text")).getField("ratio")
        kept = kept.filter(ratio.between(F.lit(float(lo)), F.lit(float(hi))))
    if lm_band is not None:
        from vbb_data_pipeline_spark.operators.lm import lm_quality_scores

        lo_pct, hi_pct = lm_band
        scores = lm_quality_scores(
            kept.select("doc_id", "text"), "text", "doc_id"
        ).select("doc_id", "lm_score")
        # two corpus-level scalars (the band edges) — model metadata,
        # like the unigram totals themselves
        edges = scores.agg(
            F.percentile("lm_score", F.lit(float(lo_pct))).alias("lo"),
            F.percentile("lm_score", F.lit(float(hi_pct))).alias("hi"),
        ).collect()[0]
        in_band = scores.filter(
            F.col("lm_score").between(F.lit(edges.lo), F.lit(edges.hi))
        ).select("doc_id")
        kept = kept.join(in_band, "doc_id", "left_semi")
    if eval_df is not None:
        from vbb_data_pipeline_spark.operators.contamination import decontaminate

        kept = decontaminate(
            kept,
            eval_df,
            min_matches=5,
            hash_mode=mode,
        )
    exact = fingerprint_dedup(kept, "text", "doc_id")

    sigs = minhash_signatures(exact, "text", "doc_id", hash_mode=mode)
    cands = lsh_candidate_pairs(
        sigs, "doc_id", hash_mode=mode, pair_mode=lsh_pair_mode
    )
    near = jaccard_pairs(exact, cands, "text", "doc_id", hash_mode=mode).filter(
        F.col("jaccard") >= F.lit(0.8)
    ).select("id_a", "id_b")
    if embedding_col is not None:
        from vbb_data_pipeline_spark.operators.similarity import (
            embedding_neardup_pairs,
        )

        semantic = embedding_neardup_pairs(
            exact.select("doc_id", embedding_col),
            dim=embedding_dim,
            threshold=0.9,
            id_col="doc_id",
            vec_col=embedding_col,
        ).select("id_a", "id_b")
        near = near.unionByName(semantic).distinct()
        # the vector served its purpose: don't ship ~dim*8 bytes/row
        # through the split/mix/pack exchange and into the output
        exact = exact.drop(embedding_col)
    clusters = connected_components(near)
    losers = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    canonical = exact.join(losers, "doc_id", "left_anti")

    split = deterministic_split(
        canonical,
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
        hash_mode=mode,
    )
    if mix_factors:
        mixed = weighted_domain_mix(
            split.filter(F.col("split") == F.lit("train")),
            "source",
            mix_factors,
            "doc_id",
            epoch=epoch,
            hash_mode=mode,
        )
        rest = split.filter(F.col("split") != F.lit("train")).withColumn(
            "copy_idx", F.lit(1).cast("long")
        )
        split = mixed.unionByName(rest)
    pack_order = ["doc_id", "copy_idx"] if mix_factors else ["doc_id"]
    packed = pack_token_shards(
        split, ["split", "lang"], pack_order, "n_tokens", budget=shard_budget
    )
    return packed.drop("text")


def e6_crawl_corpus(
    spark: SparkSession,
    warc_path: str,
    *,
    input_format: str = "warc",
    max_per_host: int | None = None,
    host_cap_mode: str = "exact",
    boilerplate_min_docs: int | None = None,
    run_e4: bool = True,
    ranged_chunk_bytes: int | None = None,
    materialize_dir: str | None = None,
    resume: bool = False,
    **e4_kwargs,
) -> DataFrame:
    """E6: raw crawl archives → training shards, the full C4/RefinedWeb
    construction shape (URL-level curation BEFORE content-level
    curation) composed from this engine's operators:

    1. **Ingest** — ``sources/warc.read_warc`` (one file = one task,
       the crawl parallelism model) → ``warc_to_documents`` (200-status
       HTML → text, deterministic 60-bit doc ids) with the
       ``"density"`` extractor (block word-count/link-density
       boilerplate classification). ``input_format="wet"`` starts from Common
       Crawl's pre-extracted text distribution instead
       (``wet_to_documents`` — conversion records, no HTML stage at
       all).
    2. **URL normalize** — ``functions/urls.normalize_url`` canonical
       form (tracking params, fragments, default ports stripped);
       documents whose URL has no parseable host are dropped (crawl
       junk — non-http schemes, mangled URIs).
    3. **URL dedup** — keep the min-doc-id fetch
       per canonical URL: re-crawls of the same page are the single
       biggest duplicate class in a multi-snapshot crawl, and URL
       identity removes them for the price of one window exchange
       before any text ever hashes.
    4. **Host cap** (``max_per_host``) — at most N documents per host,
       hash-chosen (``functions/urls.host_cap``), so no single
       domain dominates the corpus. ``host_cap_mode="approx"`` swaps
       in the windowless :func:`~vbb_data_pipeline_spark.functions.
       urls.host_cap_approx` (expected-N binomial cap) — the right
       choice when a mega-host would make the exact window's
       single-task partition a straggler.
    5. **Site boilerplate** (``boilerplate_min_docs``) — lines
       repeating across ≥ k documents of the same host are stripped
       (``functions/urls.site_boilerplate_removal``); documents left
       with empty text drop out.
    6. **Language ID** — ``lang`` column via the stopword-argmax
       heuristic (``functions/text.lang_guess``). No language is
       dropped: the tag is a per-row column, so a caller that keeps
       some languages calls with ``run_e4=False``, filters the curated
       frame's ``lang`` column, and passes the result to
       :func:`e4_corpus_prep` with ``lsh_pair_mode="star"`` — the same
       rows a language filter inside E6 would keep. ``source`` is the
       URL host — the natural domain key for E4's ``mix_factors``
       re-weighting.
    7. **E4** — everything else (quality gates, exact/near/semantic
       dedup, decontamination, split/mix/pack) is a pass-through to
       :func:`e4_corpus_prep` via ``**e4_kwargs``, with star-edge LSH
       candidates (``lsh_pair_mode="star"``, see the note at the
       call).

    The document set is ``localCheckpoint``-ed once after curation:
    the WARC parse + HTML extraction is the most expensive Arrow stage
    in the whole flow and E4 branches its input repeatedly (span
    stats, LM scores, decontamination, MinHash all fan out from the
    same frame) — without truncation the crawl would re-parse once per
    branch (the measured E4 lineage lesson, 275→120 s at sf1).

    Returns E4's packed rows, with ``url`` riding along for
    traceability. Deterministic end-to-end: ids, URL winners, host
    caps and every E4 decision are fixed-seed hashes, so two runs — or a
    resumed run — produce identical shards.

    **Resume** (``resume=True``, requires ``materialize_dir``): if the
    directory already holds a COMMITTED curated-documents frame from a
    prior run of the same configuration (the ``_e6_curation.json``
    marker, written only after the parquet commit, records every
    parameter that shapes steps 1–6), the WARC parse + curation is
    skipped entirely and E4 restarts from the at-rest frame. At 100 TB
    the ingest/curation pass is hours of work a mid-E4 failure should
    not repeat; determinism makes the resumed run's shards identical
    to an uninterrupted one. A marker from a DIFFERENT configuration
    raises (never silently reuses the wrong corpus); a missing marker
    falls through to a fresh run — so crash-restart scripts can pass
    ``resume=True`` unconditionally. All probes go through the Hadoop
    FileSystem API (portable to hdfs/s3a, not driver-local).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from vbb_data_pipeline_spark.functions.text import lang_guess
    from vbb_data_pipeline_spark.functions.urls import (
        host_cap,
        host_cap_approx,
        normalize_url,
        site_boilerplate_removal,
        url_host,
    )
    from vbb_data_pipeline_spark.sources.warc import (
        read_warc,
        read_warc_ranged,
        warc_to_documents,
        wet_to_documents,
    )

    if input_format not in ("warc", "wet"):
        raise ValueError(f"input_format must be warc|wet: {input_format}")

    # every parameter that shapes the curated frame (steps 1-6); the
    # resume marker must match ALL of them before the at-rest frame
    # can stand in for a fresh curation pass. ranged_chunk_bytes is
    # deliberately absent: the ranged tier is byte-identical to the
    # whole-file read (parity-tested), so it never invalidates a
    # resume. The constant extractor, language set (none: no filter)
    # and minimum text length stay in the marker under their option
    # names, so that markers written while they were options still
    # resume, and a change to one of them refuses an old frame
    # instead of reusing it.
    import json as _json

    from vbb_data_pipeline_spark.functions.hashing import default_hash_mode

    curation_conf = {
        "warc_path": warc_path,
        "input_format": input_format,
        # the WET path never consults the extractor (conversion
        # records are pre-extracted)
        "extractor": "density" if input_format == "warc" else None,
        "max_per_host": max_per_host,
        "host_cap_mode": host_cap_mode,
        "boilerplate_min_docs": boilerplate_min_docs,
        "langs": None,
        "min_chars": 1,
        # RESOLVED mode: the hash family comes from the environment
        # (default_hash_mode), and a resume in a different environment
        # must not silently reuse a frame whose per-host winners were
        # elected under the other hash family
        "hash_mode": default_hash_mode(),
    }
    marker = (
        materialize_dir.rstrip("/") + "/_e6_curation.json"
        if materialize_dir is not None
        else None
    )
    if resume:
        from vbb_data_pipeline_spark.sources.layout import (
            hadoop_exists,
            hadoop_read_text,
        )

        if materialize_dir is None:
            raise ValueError("resume=True requires materialize_dir")
        if hadoop_exists(spark, marker):
            recorded = _json.loads(hadoop_read_text(spark, marker))
            if recorded != curation_conf:
                diff = sorted(
                    k
                    for k in curation_conf.keys() | recorded.keys()
                    if recorded.get(k) != curation_conf.get(k)
                )
                raise ValueError(
                    f"resume: {materialize_dir} holds curated documents "
                    f"from a different configuration (mismatched: {diff}); "
                    "pass resume=False (or a fresh materialize_dir) to "
                    "re-curate"
                )
            docs = spark.read.parquet(materialize_dir)
            if not run_e4:
                return docs
            return e4_corpus_prep(docs, lsh_pair_mode="star", **e4_kwargs)
        # no marker -> nothing committed to resume from: fresh run

    # ranged_chunk_bytes: opt into the byte-range tier when archives
    # exceed the per-task heap (binaryFile holds the WHOLE file in JVM
    # memory — the measured 10 GB-decade OOM; sources/warc.py header)
    def _read(types=("response",)):
        if ranged_chunk_bytes is not None:
            return read_warc_ranged(
                spark, warc_path, types=types,
                chunk_bytes=ranged_chunk_bytes,
            )
        return read_warc(spark, warc_path, types=types)

    if input_format == "warc":
        docs = warc_to_documents(_read(), extractor="density")
    else:  # "wet" — validated above
        docs = wet_to_documents(_read(types=("conversion",)))
    docs = docs.withColumn("url", normalize_url("url")).filter(
        url_host("url").isNotNull()
    )
    w = Window.partitionBy("url").orderBy(F.col("doc_id").asc())
    docs = (
        docs.withColumn("_u_rn", F.row_number().over(w))
        .filter(F.col("_u_rn") == 1)
        .drop("_u_rn")
    )
    if max_per_host is not None:
        if host_cap_mode not in ("exact", "approx"):
            raise ValueError(
                f"host_cap_mode must be 'exact' or 'approx', "
                f"got {host_cap_mode!r}"
            )
        capper = host_cap if host_cap_mode == "exact" else host_cap_approx
        docs = capper(docs, "url", max_per_host, seed="e6hostcap|0")
    if boilerplate_min_docs is not None:
        docs = site_boilerplate_removal(
            docs, "url", min_docs=boilerplate_min_docs
        )
    docs = docs.filter(F.length("text") >= F.lit(1))
    docs = docs.select(
        "doc_id",
        "url",
        lang_guess("text").alias("lang"),
        F.coalesce(url_host("url"), F.lit("unknown")).alias("source"),
        "text",
    )
    if not run_e4 and materialize_dir is None:
        # curated documents only (steps 1-6) — the URL-level plane, a
        # measurement/inspection surface and the hand-off point for
        # callers running their own corpus assembly; no checkpoint
        # since nothing fans out from here
        return docs
    if materialize_dir is not None:
        # AT-REST hand-off: write the curated documents to parquet and
        # re-read. localCheckpoint pins its blocks in the storage
        # region (they are the only copy, so they can NEVER be
        # evicted) — at the 10 GB/25M-doc decade that pinned frame
        # starved execution memory mid-E4 (measured:
        # UNABLE_TO_ACQUIRE_MEMORY at 0.5 GB/task, CRAWL_E2E.json).
        # Parquet truncates lineage with ZERO storage pinning, E4's
        # branches re-read with column pruning, and it is the only
        # shape that exists at 100 TB anyway.
        from vbb_data_pipeline_spark.sources.layout import hadoop_write_text

        docs.write.mode("overwrite").parquet(materialize_dir)
        # marker AFTER the parquet commit: its presence is the resume
        # contract ("this directory holds a complete curated frame of
        # exactly this configuration"). Underscore prefix keeps it
        # invisible to the parquet reader.
        hadoop_write_text(
            spark, marker, _json.dumps(curation_conf, sort_keys=True)
        )
        docs = spark.read.parquet(materialize_dir)
        if not run_e4:
            # curate-once hand-off: the at-rest frame plus its marker
            # are the whole point of a curation-only materialized run —
            # a later resume=True (with or without E4) starts from here
            # instead of re-running the WARC parse
            return docs
    else:
        docs = docs.localCheckpoint(storageLevel=CKPT_SER)
    # crawl corpora carry mega-families of near-identical pages
    # (mirrors, templates, re-crawl variants): star-edge candidate
    # generation (lsh_pair_mode="star", a deliberate E6 choice
    # because it trades recall — a member below-threshold vs its
    # bucket hub detaches even if near another member) keeps the
    # near-dup tier linear per LSH bucket — measured: the 1 GB /
    # 500-variant-family corpus OOMs 0.5 GB/task executors in "all"
    # mode (~2.5e9 candidate rows) and completes in "star"; the
    # measured recall delta on a mixed near-threshold corpus is in
    # PERF.md (star-mode recall table).
    return e4_corpus_prep(docs, lsh_pair_mode="star", **e4_kwargs)
