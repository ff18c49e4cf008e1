#!/usr/bin/env python
"""End-to-end crawl→corpus decade runner (CRAWL_E2E.json rows).

Builds a synthetic crawl corpus — sf documents × ``reps`` perturbed
replicas, one gzip-member WARC record per document, N archives — then
runs the FULL production pipeline ``e6_crawl_corpus`` (r7 defaults:
star-edge LSH candidates + density HTML extraction) with E4 enabled,
at the default heap budget (driver 16 g / local[32] ≈ 0.5 GB per
task), and appends the run row to CRAWL_E2E.json.

Each replica gets unique ids/URLs and a one-token perturbation, and
hosts are keyed on the base doc id so per-host populations grow with
reps (the mega-family crawl shape that OOMed all-pairs mode at 1 GB).
The build fans out over a process pool (reps sliced round-robin across
archives, one worker per archive) so a 10 GB corpus builds in minutes
instead of the driver-side hour. perfbench/datagen.py reuses
``_build_one`` for the crawl_to_shards landing.

Usage:
    python tools/crawl_e2e.py [--reps 5000] [--sf /root/testdata/sf0.1]
                              [--files 32] [--keep-dir DIR]
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REP_OFFSET = 10_000_019  # prime stride keeps replica ids collision-free


def _http(body: bytes) -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _record(payload: bytes, uri: str) -> bytes:
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2024-01-02T03:04:05Z\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def _build_one(args) -> tuple[int, int]:
    """Worker: archive ``idx`` gets replica slice reps[idx::n_files]."""
    idx, out_dir, rows, reps, n_files, n_hosts = args
    n_docs = 0
    total = 0
    path = os.path.join(out_dir, f"part-{idx:04d}.warc.gz")
    with open(path, "wb") as f:
        for rep in range(idx, reps, n_files):
            for doc_id, text, _src in rows:
                did = doc_id + rep * _REP_OFFSET
                host = f"h{doc_id % n_hosts}.example"
                body = (text or "").replace("&", "&amp;").replace("<", "&lt;")
                html = (
                    "<html><head><title>doc</title><style>p{}</style></head>"
                    "<body><p>NavBar Home About</p><p>"
                    + (f"r{rep} " if rep else "")
                    + body
                    + "</p></body></html>"
                )
                rec = _record(
                    _http(html.encode()),
                    f"http://{host}/p/{did}?utm_source=x",
                )
                blob = gzip.compress(rec, compresslevel=1, mtime=0)
                f.write(blob)
                total += len(blob)
                n_docs += 1
    return n_docs, total


def build_crawl_parallel(
    spark, sf_dir: str, out_dir: str, reps: int, n_files: int
) -> dict:
    from concurrent.futures import ProcessPoolExecutor

    from vbb_data_pipeline_spark.queries import load_table

    rows = [
        (r["doc_id"], r["text"], r["source"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .collect()
    ]
    n_hosts = max(len({r[2] for r in rows}) * 4, 8)
    work = [
        (i, out_dir, rows, reps, n_files, n_hosts) for i in range(n_files)
    ]
    docs = total = 0
    with ProcessPoolExecutor(max_workers=min(n_files, os.cpu_count())) as ex:
        for d, t in ex.map(_build_one, work):
            docs += d
            total += t
    return {"docs": docs, "bytes": total, "files": n_files, "reps": reps}


def auto_shuffle_partitions(corpus_bytes: int) -> int:
    """Size shuffle partitions to the CORPUS, not the core count — the
    r9→r10 decade lesson, generalized. Validated boundary: 256
    partitions held through curation at 40M docs / 15.7 GB (61 MB of
    corpus per partition) and failed at 55M / 21.6 GB (84 MB/partition:
    map-side UNABLE_TO_ACQUIRE_MEMORY — 32 concurrent tasks' partial
    hash-agg state + shuffle sorter pages exhausted the unified pool).
    Target 48 MB/partition keeps ~25% headroom under the proven-good
    61, rounded up to a power of two; floor 256 (the r9 minimum). An
    explicit --conf spark.sql.shuffle.partitions=N always wins.
    NOTE: this count is only authoritative because CRAWL_CONF disables
    AQE partition coalescing — with coalescing on, AQE re-merges these
    to 64 MB of COMPRESSED bytes per partition, which on ~13x-
    compressible crawl text is ~850 MB raw (the 55M OOM, PERF.md r10).
    """
    return max(
        256, 1 << (max(1, corpus_bytes // (48 << 20)) - 1).bit_length()
    )


def _heap_per_task_gb(spark) -> float:
    """Driver heap GB / local task slots, the per-task memory envelope
    the decade rows are comparable across (0.5 = the original 16g/32)."""
    mem = spark.conf.get("spark.driver.memory", "16g").lower()
    gb = float(mem[:-1]) if mem.endswith("g") else float(mem[:-1]) / 1024
    master = spark.conf.get("spark.master", "local[32]")
    import re

    m = re.search(r"local\[(\d+)\]", master)
    slots = int(m.group(1)) if m else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return round(gb / slots, 2)


def main() -> None:
    # CLI-only: tests import this module (test_crawl_conf), and a
    # module-level setdefault would leak fast-hash mode into every
    # later test in the pytest process (test_dsir's md5 replay broke
    # exactly that way when the import landed before it alphabetically)
    os.environ.setdefault("SPARK_GRAFT_FAST_HASH", "1")
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5000)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--keep-dir", default=None)
    ap.add_argument("--materialize-dir", default=None)
    ap.add_argument(
        "--resume", action="store_true",
        help="restart E4 from a committed curated frame already at "
        "--materialize-dir (skips corpus build + WARC parse when the "
        "_e6_curation.json marker matches); requires --keep-dir so "
        "warc_path is stable across invocations",
    )
    ap.add_argument(
        "--reuse-corpus", action="store_true",
        help="reuse an already-built archive corpus at --keep-dir "
        "(matched against its _build_meta.json) but run the WHOLE "
        "pipeline — parse, curation, E4 — in one uninterrupted pass. "
        "Unlike --resume nothing of the previous pipeline run is "
        "reused, so the recorded sec is a true end-to-end "
        "measurement; only the synthetic archive build (which is "
        "input preparation, recorded separately as build_sec) is "
        "skipped. Requires --keep-dir.",
    )
    ap.add_argument(
        "--ranged-chunk-mb", type=int, default=None,
        help="read archives via read_warc_ranged with this chunk size "
        "(the oversized-archive tier) instead of whole-file binaryFile",
    )
    ap.add_argument(
        "--codec", default="zstd",
        help="spark.io.compression.codec (shuffle/spill/broadcast "
        "blocks). Default zstd since r9 (session.CRAWL_CONF): crawl "
        "text is highly redundant and zstd packs the URL-dedup "
        "window's full-document shuffle ~2-3x denser than lz4 — the "
        "difference between fitting and exhausting local disk at the "
        "20 GB decade (measured r8: 41 GB of lz4 shuffle blocks + "
        "20 GB input + the at-rest materialize write overran a 66 GB "
        "volume). Pass --codec lz4 to reproduce the old default.",
    )
    ap.add_argument("--out", default="CRAWL_E2E.json")
    ap.add_argument(
        "--conf", action="append", default=[], metavar="KEY=VALUE",
        help="extra Spark conf, repeatable; applied LAST so it "
        "overrides CRAWL_CONF / --codec / the auto-sized shuffle "
        "partition count (e.g. --conf spark.sql.shuffle.partitions=256 "
        "to reproduce a fixed-count run, --conf spark.ui.enabled=true "
        "to watch stages live)",
    )
    args = ap.parse_args()

    import shutil
    import tempfile

    from vbb_data_pipeline_spark.session import CRAWL_CONF, get_spark

    if args.resume and not (args.keep_dir and args.materialize_dir):
        ap.error("--resume requires --keep-dir and --materialize-dir")
    if args.reuse_corpus and not args.keep_dir:
        ap.error("--reuse-corpus requires --keep-dir")
    # start from the engine's crawl-scale conf so any future key added
    # there reaches this tool automatically; --codec only overrides
    # the codec knob
    extra = dict(CRAWL_CONF)
    if args.codec:
        extra["spark.io.compression.codec"] = args.codec
    cli_conf = dict(kv.split("=", 1) for kv in args.conf)
    extra.update(cli_conf)
    spark = get_spark("crawl-e2e", extra_conf=extra)
    tmp = args.keep_dir or tempfile.mkdtemp(prefix="crawl_e2e_")
    os.makedirs(tmp, exist_ok=True)
    # underscore prefix: invisible to Spark's file listing on fresh runs
    meta_path = os.path.join(tmp, "_build_meta.json")
    resumed = False
    if args.resume and os.path.exists(meta_path):
        from vbb_data_pipeline_spark.sources.layout import hadoop_exists

        resumed = hadoop_exists(
            spark, args.materialize_dir.rstrip("/") + "/_e6_curation.json"
        )
    if resumed:
        meta = json.load(open(meta_path))
        # the curation marker keys on the keep-dir PATH and curation
        # params only — cross-check the corpus BUILD params too, or a
        # --resume with different --sf/--reps/--files silently reuses
        # the old corpus and records the new args against it
        want = {"reps": args.reps, "files": args.files, "sf": args.sf}
        have = {k: meta.get(k) for k in want}
        if have != want:
            raise SystemExit(
                f"--resume build-param mismatch: corpus at {tmp} was "
                f"built with {have}, invocation asks {want} — drop "
                "--resume (or point --keep-dir/--materialize-dir at "
                "a fresh location) to rebuild"
            )
        build_sec = 0.0
        print(json.dumps({"resumed": True, "built": meta}), flush=True)
    elif args.reuse_corpus and os.path.exists(meta_path):
        meta = json.load(open(meta_path))
        want = {"reps": args.reps, "files": args.files, "sf": args.sf}
        have = {k: meta.get(k) for k in want}
        if have != want:
            raise SystemExit(
                f"--reuse-corpus build-param mismatch: corpus at {tmp} "
                f"was built with {have}, invocation asks {want} — drop "
                "--reuse-corpus (or fix the args) to rebuild"
            )
        build_sec = 0.0
        print(json.dumps({"reused_corpus": True, "built": meta}), flush=True)
    else:
        t0 = time.time()
        meta = build_crawl_parallel(
            spark, args.sf, tmp, args.reps, args.files
        )
        meta["sf"] = args.sf
        build_sec = round(time.time() - t0, 1)
        with open(meta_path, "w") as fh:
            json.dump(meta, fh)
        print(
            json.dumps({"built": meta, "build_sec": build_sec}), flush=True
        )

    if "spark.sql.shuffle.partitions" not in cli_conf:
        auto_parts = auto_shuffle_partitions(meta["bytes"])
        spark.conf.set("spark.sql.shuffle.partitions", str(auto_parts))
        print(
            json.dumps(
                {"auto_shuffle_partitions": auto_parts,
                 "corpus_bytes": meta["bytes"]}
            ),
            flush=True,
        )

    from vbb_data_pipeline_spark.pipelines import e6_crawl_corpus

    t0 = time.time()
    out = e6_crawl_corpus(
        spark,
        tmp,
        max_per_host=1_000_000,
        boilerplate_min_docs=3,
        run_e4=True,
        shard_budget=1_000_000,
        materialize_dir=args.materialize_dir,
        resume=args.resume,
        ranged_chunk_bytes=(
            args.ranged_chunk_mb << 20 if args.ranged_chunk_mb else None
        ),
    )
    rows_out = out.count()
    sec = round(time.time() - t0, 1)
    row = {
        "lsh_pair_mode": "star",
        "extractor": "density",
        "materialize": "parquet" if args.materialize_dir else "localCheckpoint",
        "reader": (
            f"ranged:{args.ranged_chunk_mb}MB" if args.ranged_chunk_mb
            else "binaryFile"
        ),
        "codec": args.codec,
        # record the memory-sizing knobs alongside codec so timing /
        # OOM comparisons across rounds are conf-attributable (r9
        # moved shuffle.partitions 32->256 via CRAWL_CONF; pre-r9
        # rows ran at 32)
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "memory_fraction": spark.conf.get("spark.memory.fraction", "0.6"),
        "aqe_coalesce": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled"
        ),
        "auto_broadcast": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        # computed, not assumed: the envelope moved from the fixed
        # 16g/32 (= 0.5) when the 55M decade showed 32-way unified-
        # pool contention needs headroom (see PERF.md round 10)
        "heap_per_task_gb": _heap_per_task_gb(spark),
        "resumed": resumed,
        "reused_corpus": bool(args.reuse_corpus),
        "outcome": "ok",
        "sec": sec,
        "docs_per_sec": round(meta["docs"] / sec),
        "rows_out": rows_out,
        "corpus": {
            "docs": meta["docs"],
            "bytes": meta["bytes"],
            "reps": args.reps,
        },
        "build_sec": build_sec,
    }
    print(json.dumps(row), flush=True)
    try:
        data = json.load(open(args.out))
    except (OSError, ValueError):
        data = {"runs": []}
    data.setdefault("runs", []).append(row)
    with open(args.out, "w") as fh:
        json.dump(data, fh, indent=1)
    print(f"appended to {args.out}", flush=True)
    if args.keep_dir is None:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
