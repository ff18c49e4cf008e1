#!/usr/bin/env python
"""Print the coverage map: SURVEY.md §2 operator rows → registry
queries, operator modules and tests that implement them, with each
entry's latest green CORRECTNESS row. Printed on demand, not
committed:

    python tools/gen_coverage.py"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vbb_data_pipeline_spark.queries import all_queries  # noqa: E402

#: r5 registry consolidation: folded leg → battery entry carrying its
#: driver CORRECTNESS row now (legs stay importable for bench via
#: legacy_queries()).
R5_FOLDS = [
    ("sim_bruteforce_topk + sim_lsh_topk + sim_ivf_topk", "sim_ann_battery (variant tag)"),
    ("sim_pq_topk + sim_ivfpq_topk + sim_ivfpq_residual_topk", "sim_pq_battery (variant tag)"),
    ("dedup_minhash_lsh + dedup_ngram_jaccard", "dedup_pairs_battery (method tag)"),
    ("dedup_clusters + graph_pagerank", "graph_cc_pagerank (variant tag)"),
    ("stats_battery + approx_distinct_stats", "stats_approx_battery (join on l_returnflag)"),
    ("w2_running_revenue + w4_rank_functions", "window_functions_battery (join on o_orderkey)"),
    ("stream_tumbling_window + stream_sliding_window", "stream_window_battery (variant tag)"),
    ("layout_zorder_key + export_shuffle_shards", "layout_export_battery (variant tag)"),
    ("dq_check_report + decontam_report", "quality_reports (report tag)"),
    ("cdc_scd2 + schema_evolution_union", "orders_evolution_battery (variant tag)"),
    ("q6_forecast_revenue + q12_late_shipment_priority + q17_small_quantity_revenue + q18_large_orders", "q6_q12_q17_q18_battery (variant tag)"),
    ("scalar_subquery_filter + q2_min_cost_supplier + q11_important_stock + q16_supplier_part_counts + q20_excess_stock_suppliers", "subquery_battery (variant tag)"),
    ("q4_order_priority + q21_waiting_suppliers", "q4_q21_exists_battery (variant tag)"),
    ("q3_shipping_priority + q5_local_supplier_volume", "q3_q5_join_battery (variant tag)"),
]


#: r7 registry consolidation: 60 → 50 entries so the driver's
#: 50-entry CORRECTNESS window covers the WHOLE registry again (the
#: r6 verdict's top item). Legs stay importable + benched via
#: legacy_queries().
R7_FOLDS = [
    ("w1_topk_per_group", "window_functions_battery (LEFT JOIN leg, topk_rnk)"),
    ("text_token_stats + text_doc_profile", "text_profile_battery (variant tag)"),
    ("text_pii_redaction + text_normalization_battery", "text_cleaning_battery (join on doc_id)"),
    ("dedup_incremental_probe + semdedup_incremental_probe", "dedup_incremental_probe (variant tag: minhash/semdedup)"),
    ("dedup_span_removal + dedup_substring_spans", "dedup_span_battery (LEFT JOIN on doc_id)"),
    ("stream_dedup_keys + stream_stateful_counts + stream_geo_filter", "stream_state_battery (variant tag)"),
    ("grouping_analytics + grouping_sets_battery", "grouping_analytics (variant tag: o_*/li_*)"),
    ("null_semantics_battery + f3_day_enumeration", "engine_semantics_battery (variant tag)"),
    ("temporal_functions_battery + orders_scalar_battery", "orders_scalar_battery (LEFT JOIN, sc_* columns on the hash sample)"),
]


def driver_rows() -> dict[str, str]:
    """Per registry entry: the latest round whose driver CORRECTNESS
    artifact contains a fully-green row under the entry's name."""
    import glob
    import json

    paths = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    latest: dict[str, str] = {}
    for path in paths:
        rnd = os.path.basename(path)[len("CORRECTNESS_"):-len(".json")]
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                latest[name] = rnd
    return latest

#: §2 row → where the non-query surface lives (sources/ops/tests).
NON_QUERY_ROWS = [
    ("S1/S2 url extraction + change detection", "sources/catalog.url_changed; F5 regexp in string_battery", "tests/test_catalog.py"),
    ("S3/S4 download / fixture copy", "pre-engine (driver fetch); fixtures in tests", "tests/test_ingest.py"),
    ("S5 landing scan", "sources/catalog.scan_landing", "tests/test_catalog.py"),
    ("S6 zip→CSV typed load", "sources/gtfs.read_gtfs_zip/read_gtfs_csv + idempotent_append (header sanitize F6, empty→NULL F8, lineage cols); landing-zone tier = read_gtfs_zips_distributed (binaryFile + executor-side unzip in one mapInPandas stage)", "tests/test_ingest.py (incl. distributed/driver parity)"),
    ("S7 JDBC batched sink", "sources/connectors.jdbc_sink_spec/write_jdbc (batchsize=100k parity)", "tests/test_connectors.py (option wiring + fail-fast)"),
    ("S8 conflict-ignoring insert", "sources/catalog.new_runs + anti-join append", "tests/test_catalog.py (double-load idempotency)"),
    ("S9 insert-returning-id", "sources/catalog.assign_run_ids (deterministic dense_rank)", "tests/test_catalog.py"),
    ("S10 JDBC source", "sources/connectors.jdbc_source_spec/read_jdbc (partitioned range slices)", "tests/test_connectors.py"),
    ("S11/S12 Kafka sink / console", "sources/connectors.kafka_sink_spec/write_kafka_batch; streaming/arrivals", "tests/test_connectors.py; tests/test_streaming.py"),
    ("T2 event-time paced replay", "streaming/arrivals.replay_paced (demo harness, non-goal per SURVEY §7.5)", "tests/test_streaming.py"),
    ("T3/T5 backoff, shutdown", "Structured Streaming trigger/checkpoint internals (engine lifecycle)", "—"),
    ("§3 E1/E2/E3 end-to-end pipelines", "pipelines.e1_extract / e2_load / e3_arrivals (scan→dedup→load→expand→wire)", "tests/test_pipelines.py (E2E incl. double-load idempotency)"),
    ("ext: WARC crawl ingestion", "sources/warc.read_warc / parse_warc_bytes / warc_to_documents (stdlib-only: exact Content-Length framing, concatenated gzip members, HTTP payload split, HTMLParser text baseline; one file = one task via binaryFile, one Arrow parse stage, deterministic 60-bit doc ids; measured tools/crawl_throughput.py → CRAWL_throughput.json)", "tests/test_warc.py (framing incl. WARC-bytes-in-payload, gzip members, truncation posture, corpus-pipeline bridge)"),
    ("ext: URL hygiene", "functions/urls.normalize_url (codegen regexp canonicalization: tracking params, fragments, default ports) + url_host (try_parse_url — crawl-safe) + host_cap (seeded-hash top-N per host, one host-keyed exchange) + host_cap_approx (windowless binomial cap — count-join-filter, AQE-splittable where a window partition is not; the mega-host straggler escape hatch, e6 host_cap_mode='approx') + site_boilerplate_removal (lines repeating across ≥k distinct docs of the SAME host stripped — the site-scoped sibling of C4 line dedup)", "tests/test_urls.py + driver-gated r5: normalize_url/url_host as string_battery legs, host_cap/site_boilerplate_removal as line_dedup_corpus legs"),
    ("ext: E6 crawl→corpus pipeline", "pipelines.e6_crawl_corpus (WARC → documents → URL normalize → min-id URL dedup → host cap → site boilerplate removal → stopword-argmax language ID (functions/text.lang_guess) → E4 pass-through; crawl parse localCheckpoint-ed once before E4's branching)", "tests/test_pipelines.py (end-to-end: tracking-param re-crawl deduped, junk URLs dropped, host cap bound, nav-only page emptied + dropped, lang/source per doc, run-to-run identity)"),
    ("ext: E4 corpus-prep pipeline", "pipelines.e4_corpus_prep (profile → hygiene (PII redact, repetition cap) → quality gate → decontaminate → fingerprint + MinHash/LSH text dedup ∪ optional embedding-cosine SEMANTIC dedup (operators/similarity.embedding_neardup_pairs) → split → train-only mix → token shards → optional per-split sequence-packing plan (pack_seq_len); fully deterministic composition)", "tests/test_pipelines.py (stage invariants, no surviving near-dup pair, paraphrase collapse via embeddings, run-to-run identity)"),
    ("ext: corpus hygiene (PII, repetition)", "functions/text.redact_pii / pii_counts / dup_line_fraction (scalar regexp/array passes, zero shuffle) + top_bigram_fraction (per-doc mode, two map-side-combinable shuffles) + udfs.compression_signals (zlib ratio + char entropy, Arrow-batched — no Catalyst expression exists) — Gopher-style repetition/garbage filters and pre-training PII redaction", "tests/test_hygiene.py (DuckDB differentials incl. corpus-scale; PII fixtures)"),
    ("ext: benchmark decontamination", "operators/contamination.contamination_report / decontaminate (eval n-gram set broadcast; corpus text never shuffles — only matching (doc_id, gram_hash) pairs move)", "tests/test_contamination.py (raw-gram DuckDB differential — also cross-checks the hash join; plan hygiene)"),
    ("§2.9 ext: stream-stream interval join", "streaming/joins.interval_join (watermark-bounded state; batch ≡ stream)", "tests/test_streaming.py (stream vs batch twin)"),
    ("S8 streaming twin: idempotent sink", "streaming/sinks.write_stream_idempotent (foreachBatch conflict-ignoring append)", "tests/test_layout_sinks.py (full replay inserts 0 rows)"),
    ("ext: streaming CDC (SCD2 sink)", "streaming/sinks.write_stream_scd2 / scd2_batch_fold (snapshot micro-batches folded into a stored SCD2 dimension via foreachBatch; atomic temp-and-swap rewrite, checkpoint-idempotent)", "tests/test_stream_scd2.py (two-batch fold: update/delete/insert + history + replay no-op)"),
    ("§4 storage layout", "sources/layout.write_bucketed / write_partitioned (co-located joins, partition pruning)", "tests/test_layout_sinks.py + tests/test_bucketing.py (0-Exchange join)"),
    ("ext: corpus sampling & sharding", "operators/sampling.deterministic_split / stratified_sample / pack_token_shards / weighted_domain_mix (hash-deterministic membership — stable under corpus growth; NULL-total; codegen-native; packer = 1 shuffle, rest = 0) + stratified_sample_n (exact per-stratum counts, nested under target shrink — the eval-set builder)", "tests/test_sampling.py (full-assignment DuckDB differentials + plan hygiene + randomized pack property)"),
    ("ext: append-only corpus growth", "operators/sampling.shard_manifest + pack_token_shards_incremental (resume greedy packing from a catalog-scale manifest broadcast — new batches never repack or rewrite existing shards)", "tests/test_sampling.py (increment-vs-single-pass equivalence on the corpus; oversized-tail + new-group edges)"),
    ("S5 at object-store scale", "sources/catalog.scan_landing_distributed (binaryFile listing, path-only)", "tests/test_catalog.py (parity with driver scan)"),
    ("§2.10 UDF/UDAF/UDTF trio", "functions/udfs: cosine_pandas (scalar pandas_udf), weighted_mean_pandas (grouped-agg UDAF) + native twin, ChunkDocument (Python UDTF, lateral context-window chunking) + chunk_native codegen twin", "tests/test_multimodal.py (scalar parity); tests/test_udaf_udtf.py (UDAF vs native, UDTF vs python + native twins, NULL totality)"),
    ("ext: TF-IDF top terms", "functions/text.tf_idf_top_terms (explode → 2 hash aggs → top-k window)", "tests/test_tfidf.py (DuckDB differential)"),
    ("ext: weighted sampling (A-ES)", "operators/sampling.weighted_sample_n (Efraimidis-Spirakis exponential race over hash-derived uniforms — exactly n rows, odds proportional to weight, pure function of (seed,key,weight); TakeOrderedAndProject, no global sort)", "tests/test_sampling.py (DuckDB formula replay; proportionality; bad-weight totality)"),
    ("ext: graph ops (PageRank)", "operators/graph.pagerank (fixed-iteration power method; rank-to-edges join + map-side groupBy per round, dangling mass via scalar aggregate, localCheckpoint per round) — host-rank quality weighting; CC lives in operators/dedup.connected_components", "tests/test_graph.py (Python power-iteration oracle, mass conservation, ordering)"),
    ("ext: text normalization", "functions/text.clean_text (codegen regexp chain: CRLF fold, control/format strip, whitespace collapse) + functions/udfs.normalize_unicode (NFKC/NFC pandas_udf — no Catalyst Unicode normalizer exists); E4 normalize=True runs both before any hashing", "tests/test_normalize.py (DuckDB chain differential; unicodedata parity; fingerprint-collision proof)"),
    ("ext: table profiling (Deequ-style)", "operators/quality.profile_table (per-column n/nulls/distinct/min/max from ONE wide aggregation — single scan at any column count; HLL distincts by default, exact mode for oracles)", "tests/test_profile.py (DuckDB differential + single-scan plan)"),
    ("ext: LM quality scoring (CCNet)", "operators/lm.unigram_model / score_documents / lm_quality_scores (corpus-trained add-one-smoothed unigram log-probs; model broadcast-sized by construction, scoring exchange carries partial aggregates only)", "tests/test_lm.py (DuckDB differential replaying train+score at two vocab sizes; OOV/empty-doc totality; broadcast plan)"),
    ("ext: corpus-wide line dedup (C4)", "operators/dedup.line_dedup_corpus (winner election = map-side-combinable min(struct) over line hashes — skew-safe for billion-copy boilerplate lines; full text shuffles twice)", "tests/test_line_dedup.py (DuckDB differentials + boilerplate/min_chars/empty-doc edges + no-Window plan guard)"),
    ("ext: CDC / SCD2 reconciliation", "operators/cdc.snapshot_diff / merge_upsert / latest_per_key / scd2_apply (digest-before-join: exchanges carry keys + 8-byte hashes)", "cdc_scd2 registry oracle + tests/test_cdc.py (DuckDB differentials, idempotency, NULL-key/NULL-valid_to edges)"),
    ("ext: ANN scale paths", "operators/similarity.brute_force_topk_arrow (broadcast query matrix, per-batch BLAS matmul, pair-free) + ivf_write_index / ivf_topk_from_index (inverted lists as cell_id-partitioned storage, partition-pruned probes) + kmeans_centroids_local (FAISS-style sample-to-driver training)", "tests/test_similarity_arrow.py (expression-path parity, partition-boundary, pruning plan)"),
    ("§2.9 ext: Spark 4 stateful API", "streaming/stateful.running_counts_tws (transformWithStateInPandas, named ValueState, RocksDB provider; capability-gated on protobuf)", "tests/test_streaming.py (gate + batch parity where runnable)"),
    ("ext: format coverage", "ORC / JSON-lines / CSV round trips with pushdown", "tests/test_formats.py"),
    ("ext: multimodal resize / frame-sample / audio", "operators/multimodal.resize_images (REAL for PPM; PIL-gated for codecs) + frame_sample (REAL for Y4M video) + audio_features (REAL WAV/PCM decode: RMS / peak / zero-crossing-rate via stdlib wave + numpy, one mapInPandas pass)", "tests/test_multimodal.py (incl. sine-wave physics checks)"),
    ("ext: concat-and-chunk sequence packing", "operators/sampling.pack_sequences (export_shuffle order + per-shard token prefix sum → every document's [start_off, end_off) span and seq_len training-sequence range; 1 shard exchange, int64-exact, engine-reproducible)", "layout_export_battery registry oracle (packing leg) + tests/test_sampling.py (shard-stream tiling invariants, repartition stability)"),
    ("ext: incremental dedup (at-rest index)", "operators/dedup.dedup_index_write / dedup_incremental — corpus dedup state materialized as text-free parquet (fingerprints + band keys + MinHash signatures — constant ~0.5-1.5 KB/doc, orders of magnitude below realistic document bytes); a new ingest batch dedupes against the WHOLE corpus via fingerprint hash-join (exact tier) + capped band-key equi-join with signature-agreement verification (near tier, Broder's Jaccard estimator in one codegen zip_with) — corpus text never re-read, probe cost ∝ batch; survivors append, nothing rewrites", "tests/test_incremental_dedup.py (planted exact/near dups, append-then-reprobe idempotency, no-text-scan plan guard)"),
    ("ext: BLAS index-build tier (ANN)", "operators/similarity.kmeans_centroids_numpy / pq_train_numpy (one matmul per Lloyd round, ordinal seeding — index builds at real cell counts) + ivf_assign_arrow (batch B×C cosine argmax, cell-identical to the expression path) + cell-aligned index writes (repartition on cell_id → one file per cell)", "tests/test_trainers_numpy.py (determinism, id-offset seeding, end-to-end recall) + ivf_assign parity in tests/test_similarity_arrow.py + file-count guard in tests/test_pq.py; measured decade in SCALE_ann.json"),
]


#: Round-1 registry name → where it lives now (driver cap = 50, so
#: round 2 merged entries; zero coverage was dropped).
R1_RENAMES = [
    ("p3_range_filter + p4_weekday_filter", "service_filters (tagged union)"),
    ("j2_anti_join + j3_semi_join", "join_filters (tagged union)"),
    ("set_union / set_intersect / set_except", "set_ops (tagged union)"),
    ("limit_offset", "o1_topk_orders (offset page branch)"),
    ("f1_f2_date_roundtrip", "orders_scalar_battery (d_int / event_ts columns)"),
    ("f5_regex_extract", "string_battery (regex columns)"),
    ("f10_json_extract + p2_wire_projection", "json_wire_roundtrip (parse → re-serialize chain)"),
    ("pivot_event_types + unpivot_status_counts", "pivot_unpivot_events (round trip)"),
    ("rollup_order_status + cube_status_priority + grouping_sets_revenue", "grouping_analytics (tagged union)"),
    ("ri_orphan_lineitems", "dq_check_report (ri_orphan rule)"),
    ("asof_last_purchase + asof_next_purchase", "asof_purchase_context (direction tag)"),
    ("w5_range_frame_rolling", "w2_running_revenue (rolling_7d_rev column)"),
    ("w3_sessionize", "t_session_window (same result via session_window)"),
    ("t_tumbling_window / t_sliding_window", "stream_tumbling_window / stream_sliding_window (identical oracles, REAL streaming)"),
    ("string_functions + conditional_functions + datetime_functions + deterministic_sample", "string_battery / orders_scalar_battery (battery folds; sample = battery predicate)"),
    ("array_functions", "text_profile_battery (doc_profile array columns)"),
    ("stats_functions + percentiles_exact", "stats_battery (one groupBy)"),
    ("text_quality_stats + text_langid + text_fingerprint", "text_profile_battery (per-doc profile leg)"),
    ("multimodal_binary_meta + multimodal_decode_dims", "multimodal_decode (real header parse added)"),
    ("dedup_exact + dedup_fingerprint", "dedup_exact_fingerprint (method tag)"),
    ("dedup_simhash", "dedup_exact_fingerprint (method tag: simhash collision groups, folded r4)"),
    ("sim_lsh_buckets", "sim_lsh_topk (bucketing is its first stage)"),
]


def main() -> None:
    reg = all_queries()
    print("# COVERAGE — SURVEY.md §2 → implementation map")
    print()
    print("Auto-generated by tools/gen_coverage.py from the query registry.")
    print(f"{len(reg)} registry queries; every one listed here with the §2")
    print("rows (or north-star extension) it covers and its oracle status.")
    print()
    checked = driver_rows()
    print("## Oracle-checked queries (driver gate)")
    print()
    print("The 'driver row' column is generated from CORRECTNESS_r*.json —")
    print("the latest round whose EXTERNAL driver artifact records a green")
    print("(rows+schema+hash) row under the entry's current name. 'pending'")
    print("= registered after the last driver run; the in-repo pytest gate")
    print("(tests/test_queries_oracle.py, all entries at sf0.001) plus")
    print("tools/check_correctness.py at sf0.01 covers those until the")
    print("next driver round.")
    print()
    print("| query | covers | oracle | driver row |")
    print("|---|---|---|---|")
    for name in sorted(reg):
        spec = reg[name]
        survey = " ".join(spec.survey.split())
        oracle = "DuckDB hash-match" if spec.oracle else "rows-only"
        drv = checked.get(name, "pending")
        print(f"| `{name}` | {survey} | {oracle} | {drv} |")
    print()
    print("## Non-query surface (sources / streaming / lifecycle)")
    print()
    print("| §2 row | implementation | verified by |")
    print("|---|---|---|")
    for row, impl, test in NON_QUERY_ROWS:
        print(f"| {row} | {impl} | {test} |")
    print()
    print("## Round-1 registry names (merged in round 2 to fit the 50-query driver cap)")
    print()
    print("| round-1 query | now covered by |")
    print("|---|---|")
    for old, new in R1_RENAMES:
        print(f"| {old} | {new} |")
    print()
    print("## Round-5 folds (all legs inside the 50-entry driver window)")
    print()
    print("| folded legs | battery entry |")
    print("|---|---|")
    for old, new in R5_FOLDS:
        print(f"| {old} | {new} |")
    print()
    print("## Round-7 folds (registry 60 -> 50: every entry back inside the driver window)")
    print()
    print("| folded legs | battery entry |")
    print("|---|---|")
    for old, new in R7_FOLDS:
        print(f"| {old} | {new} |")


if __name__ == "__main__":
    main()
