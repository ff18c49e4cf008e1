#!/usr/bin/env python
"""Scale-validation bench: run the headline queries (perfbench/spec.json)
PLUS the iterative / pipeline operators (dedup_clusters,
line_dedup_corpus, cdc_scd2, pagerank, E4 end-to-end) at an arbitrary
sf dir: one session, first_run + steady best-of-2, noop-format writes,
under SPARK_GRAFT_FAST_HASH=1 (the production xxhash64 path).

Usage:
    python tools/bench_scale.py SF_DIR OUT_JSON

Run at /root/testdata/sf0.1 and at a make_scale_data.py output dir,
then diff per-query times to get measured scaling factors (recorded in
PERF.md §scale). Any query scaling super-linearly in its input rows
(n·log n allowed for sorts/windows) is a scale bug.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_FAST_HASH", "1")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from vbb_data_pipeline_spark.queries import (  # noqa: E402
    all_queries,
    legacy_queries,
    load_table,
)
from vbb_data_pipeline_spark.session import get_spark  # noqa: E402

#: registry entries beyond the headline list whose scale behavior the
#: round-3 verdict asked to prove empirically
EXTRA_REGISTRY = [
    "dedup_clusters",
    "line_dedup_corpus",
    "cdc_scd2",
    "dedup_substring_spans",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "sim_ivfpq_residual_topk",
    "export_shuffle_shards",
    "graph_pagerank",
    "decontam_report",
    # round-5 additions
    "dedup_span_removal",
    "export_packing_plan",
    # round-5 TPC-H completion + retrieval/text batteries
    "subquery_battery",
    "q4_q21_exists_battery",
    "q6_q12_q17_q18_battery",
    "tokens_retrieval_battery",
    "text_token_stats",
    "quality_reports",
    "layout_export_battery",
    # round-5 late additions: SemDeDup leg + DSIR legs ride these
    "sim_embedding_neardup",
    # round-6 additions: at-rest incremental dedup probe (index build
    # + batch probe), WARC roundtrip (crawl-plane parse throughput),
    # multi-dimensional aggregation (Expand + hash agg per variant)
    "dedup_incremental_probe",
    "crawl_warc_roundtrip",
    "grouping_sets_battery",
    "text_chunking",
    "text_pii_redaction",
    "text_normalization_battery",
    "null_semantics_battery",
    "temporal_functions_battery",
    "dedup_star_clusters",
]


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-rank-style PageRank over the (supplier -> part) edge list
    derived from lineitem — edge count scales with the fact table."""
    from vbb_data_pipeline_spark.operators.graph import pagerank

    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )
    return pagerank(edges, iters=5)


def q_e4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 corpus prep with every major optional stage on: hygiene
    (NFKC normalization and corpus line dedup before E4, then the
    repetition cap and compression band), CCNet LM band, quality gate,
    decontamination, fingerprint + MinHash near-dup, split, pack."""
    from vbb_data_pipeline_spark.functions.text import clean_text
    from vbb_data_pipeline_spark.functions.udfs import normalize_unicode
    from vbb_data_pipeline_spark.operators.dedup import line_dedup_corpus
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.orderBy("doc_id").limit(100).select("text")
    docs = docs.withColumn("text", clean_text(normalize_unicode("text")))
    deduped = line_dedup_corpus(
        docs.select("doc_id", "text"), "text", "doc_id", min_chars=6
    )
    return e4_corpus_prep(
        docs.drop("text").join(deduped, "doc_id"),
        min_quality=0.2,
        lm_band=(0.05, 1.0),
        max_dup_line_frac=0.9,
        compression_bounds=(1.05, 10.0),
        eval_df=eval_df,
        shard_budget=100_000,
    )


def q_e4_spangate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_e4`` with the round-4 cross-document span gate enabled on
    top of every other optional stage (the full hygiene
    composition)."""
    from vbb_data_pipeline_spark.functions.text import clean_text
    from vbb_data_pipeline_spark.functions.udfs import normalize_unicode
    from vbb_data_pipeline_spark.operators.dedup import line_dedup_corpus
    from vbb_data_pipeline_spark.pipelines import e4_corpus_prep

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.orderBy("doc_id").limit(100).select("text")
    docs = docs.withColumn("text", clean_text(normalize_unicode("text")))
    deduped = line_dedup_corpus(
        docs.select("doc_id", "text"), "text", "doc_id", min_chars=6
    )
    return e4_corpus_prep(
        docs.drop("text").join(deduped, "doc_id"),
        min_quality=0.2,
        lm_band=(0.05, 1.0),
        max_dup_line_frac=0.9,
        max_cross_dup_span_frac=0.8,
        compression_bounds=(1.05, 10.0),
        eval_df=eval_df,
        shard_budget=100_000,
    )


def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the OPERATOR DEFAULT (since r6): centroids=None
    trains cells ∝ corpus (~128 vectors/cell, BLAS trainer, Arrow
    assignment) inside semantic_dedup itself, so the within-cell pair
    stage stays constant-sized per cell — the paper's construction
    (110k cells for LAION-440M). The registry leg deliberately pins
    n_cells=16 + expression assignment for bit-level SQL
    replayability, which is quadratic past gate scales; THIS entry
    measures what a caller gets WITHOUT tuning anything and should
    track ~linear across decades."""
    from vbb_data_pipeline_spark.operators.similarity import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, None, threshold=0.35, max_cell_size=4096,
        train_cache_key=f"{sf_dir}|semdedup|default",
    )


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    only = set(sys.argv[3:])  # optional name filter: run a chunk and
    # merge JSONs (long batteries can exceed one wrapper timeout)
    registry = {n: spec.fn for n, spec in all_queries().items()}
    registry.update(legacy_queries())
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as fh:
        headline = json.load(fh)["workloads"]["headline"]["entries"]
    names = [n for n in headline + EXTRA_REGISTRY if n in registry]
    spark = get_spark("bench-scale")
    for t in ("orders", "lineitem", "events", "customer", "documents"):
        load_table(spark, sf_dir, t).count()

    runs: list[tuple[str, object]] = [
        (n, registry[n]) for n in names
    ] + [
        ("pagerank_lineitem", q_pagerank),
        ("e4_corpus_prep", q_e4),
        ("e4_corpus_prep_spangate", q_e4_spangate),
        ("semdedup_scaled", q_semdedup_scaled),
    ]
    if only:
        runs = [(n, f) for n, f in runs if n in only]

    times: dict[str, float] = {}
    first_run: dict[str, float] = {}
    for name, fn in runs:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        first_run[name] = round(time.perf_counter() - t0, 3)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
        print(f"  {name}: steady {times[name]}s first {first_run[name]}s",
              file=sys.stderr)

    # subset runs MERGE into an existing same-sf artifact (new names
    # win) instead of clobbering the full battery
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            old = json.load(f)
        if os.path.abspath(old.get("sf_dir", "")) == os.path.abspath(sf_dir):
            times = {**old.get("queries", {}), **times}
            first_run = {**old.get("first_run", {}), **first_run}

    result = {
        "sf_dir": sf_dir,
        "queries": times,
        "first_run": first_run,
        "total_sec": round(sum(times.values()), 3),
        "first_run_total_sec": round(sum(first_run.values()), 3),
        "rows": {
            t: load_table(spark, sf_dir, t).count()
            for t in ("lineitem", "orders", "events", "documents", "embeddings")
        },
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"total_sec": result["total_sec"], "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
