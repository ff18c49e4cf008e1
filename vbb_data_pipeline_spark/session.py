"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
chosen so the same logical plans scale to a multi-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing),
shuffle partitions sized to the core count, Arrow enabled for the few
Pandas-UDF paths, and UTC session time so results are comparable with
the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session conf for crawl-scale (E6) workloads — merge into
#: ``get_spark(extra_conf=...)`` when the job shuffles full-document
#: crawl text. spark.io.compression.codec is a JVM-start knob, so it
#: lives here rather than inside e6_crawl_corpus (which receives an
#: already-built session). zstd vs the lz4 default is not a tuning
#: nicety at crawl scale: crawl text is highly redundant and the
#: URL-dedup window moves full-document rows, so the SAME shuffle is
#: ~2-3x smaller on disk — measured at the 20 GB decade as the
#: difference between finishing and exhausting the local volume
#: (CRAWL_E2E.json round-8 disk_full row; 41 GB of lz4 shuffle blocks
#: vs a zstd run that fit). Default-on for the e6 tooling since r9.
#:
#: shuffle.partitions: the engine default (= cpu count, 32 in that run)
#: sizes per-task post-shuffle state at corpus_rows/32 — at the 55M-
#: doc decade point the curation line aggregate's partial hash map
#: hit UNABLE_TO_ACQUIRE_MEMORY under the 0.5 GB/task envelope
#: (CRAWL_E2E.json round-9 OOM row; 50M had squeaked through in r8).
#: 256 puts per-task state back ~an order of magnitude under the
#: envelope and is the posture rule stated in README's sizing notes:
#: partitions are sized to the DATA, not the core count. (Measured
#: with this fix: the 40M-doc curation that OOMed at 32 partitions
#: completed in ~37 min.)
#:
#: spark.memory.fraction stays at the DEFAULT 0.6 — an 0.8
#: experiment at the 40M decade point let managed memory claim
#: 12.8 GB of the 16 GB heap and E4's pack-stage sort died with a
#: raw Java heap OOM mid-SPILL: spilling itself allocates unmanaged
#: heap (serialization + compression buffers, 32 concurrent tasks),
#: and the 0.2 fraction left for it was not enough. The unmanaged
#: slice is load-bearing at crawl scale (CRAWL_E2E.json round-9 E4
#: OOM row).
CRAWL_CONF = {
    "spark.io.compression.codec": "zstd",
    "spark.sql.shuffle.partitions": "256",
    # r10, measured at the 55M decade (PERF.md round 10): crawl text
    # compresses ~13x under zstd, so every size-STATISTIC-driven
    # planner shortcut is off by an order of magnitude on this corpus
    # class. AQE partition coalescing re-merges data-sized shuffle
    # partitions up to advisoryPartitionSizeInBytes of COMPRESSED
    # bytes (64 MB advisory -> ~850 MB raw per task: the curation
    # OOM); auto-broadcast selects multi-GB-raw builds that look tiny
    # compressed (the r7 defect class, new site). Both stay off for
    # crawl-scale sessions; explicit broadcast()/hint() calls in the
    # operators are unaffected by threshold=-1.
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _local_sizing(cpus: int | None) -> tuple[int, str]:
    """``(cores, driver heap)`` of a local session: ``cpus``, else
    ``SPARK_GRAFT_CPUS``, else every core of the host; and
    ``SPARK_GRAFT_DRIVER_MEM``, else half the host's physical memory
    in whole GiB, clamped to 1g-16g, so that two sessions on one box
    fit in its memory."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (
        os.cpu_count() or 1
    )
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{min(16, max(1, phys // 2 // 2**30))}g"
    return cpus, mem


def get_spark(
    app_name: str = "vbb-data-pipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    At cluster scale the same knobs apply; only ``master`` and memory
    sizing change. AQE handles the runtime partition-count decisions,
    so ``spark.sql.shuffle.partitions`` is an upper bound, not a tuning
    burden.
    """
    cpus, driver_mem = _local_sizing(cpus)
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
