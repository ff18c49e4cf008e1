"""Pin the crawl-scale session conf and the corpus-sized partition
formula — every key here exists because a specific decade-ladder
failure measured it (CRAWL_E2E.json rows; PERF.md rounds 8-10).
A drive-by "simplification" of CRAWL_CONF should fail loudly, with
the measurement that put the key there one grep away. The local
session's default width and driver heap follow the host.
"""
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

from vbb_data_pipeline_spark.session import CRAWL_CONF

from crawl_e2e import auto_shuffle_partitions  # noqa: E402


def test_import_does_not_flip_hash_mode():
    # r10 inherited-red: importing crawl_e2e used to setdefault
    # SPARK_GRAFT_FAST_HASH=1 at module level, silently flipping the
    # repo-wide hash mode for every later test in the pytest process
    # (test_dsir's md5 oracle replay failed only in full-suite order).
    # The flag is a CLI posture, set inside crawl_e2e.main() only.
    assert os.environ.get("SPARK_GRAFT_FAST_HASH") != "1"


def test_crawl_conf_pins_measured_keys():
    # r9: zstd packs the URL-dedup window's full-document shuffle
    # 2-3x denser than lz4 — the difference between fitting and
    # exhausting local disk at the 20 GB decade
    assert CRAWL_CONF["spark.io.compression.codec"] == "zstd"
    # r9: partitions sized to the data, not the core count (floor)
    assert int(CRAWL_CONF["spark.sql.shuffle.partitions"]) >= 256
    # r10: AQE coalescing re-merges data-sized partitions up to
    # 64 MB of COMPRESSED shuffle — ~850 MB raw at 13x zstd ratios
    assert (
        CRAWL_CONF["spark.sql.adaptive.coalescePartitions.enabled"]
        == "false"
    )
    # r10: compressed-size statistics mis-select multi-GB-raw
    # broadcast builds; explicit broadcast() hints are unaffected
    assert CRAWL_CONF["spark.sql.autoBroadcastJoinThreshold"] == "-1"
    # r9: memory.fraction must NOT be raised — 0.8 starved unmanaged
    # serializer/codec buffers (pack-stage OOM). Absence = default 0.6.
    assert "spark.memory.fraction" not in CRAWL_CONF


def test_auto_shuffle_partitions_boundaries():
    MB = 1 << 20
    GB = 1 << 30
    # floor: small corpora stay at the r9 minimum
    assert auto_shuffle_partitions(1 * GB) == 256
    assert auto_shuffle_partitions(9_809_033_472) == 256  # 25M-doc corpus
    # the measured 55M corpus (21.6 GB) must exceed the failing 256
    assert auto_shuffle_partitions(21_597_709_750) == 512
    # the r9-validated 40M point also rounds to 512 under the new rule
    assert auto_shuffle_partitions(15_700_626_069) == 512
    # power-of-two growth, monotone
    assert auto_shuffle_partitions(40 * GB) == 1024
    prev = 0
    for b in (GB, 10 * GB, 20 * GB, 40 * GB, 80 * GB, 160 * GB):
        cur = auto_shuffle_partitions(b)
        assert cur >= prev
        prev = cur
    # never below ~48 MB/partition by construction
    for b in (12 * GB, 21_597_709_750, 64 * GB):
        parts = auto_shuffle_partitions(b)
        assert b / parts <= 61 * MB  # proven-good per-partition bound


def test_local_sizing_follows_the_host(monkeypatch):
    """Unset SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM: every core, and
    half of physical memory in whole GiB clamped to 1g-16g (Spark-free;
    the host is faked)."""
    from vbb_data_pipeline_spark import session

    gib = 2**30
    phys = {"n": 0}
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    monkeypatch.setattr(
        os, "sysconf",
        lambda name: {"SC_PAGE_SIZE": 4096,
                      "SC_PHYS_PAGES": phys["n"] // 4096}[name],
    )
    for total, mem in ((15.7 * gib, "7g"), (gib, "1g"), (64 * gib, "16g")):
        phys["n"] = int(total)
        assert session._local_sizing(None) == (6, mem)
    # an explicit width, then the environment, win over the host
    assert session._local_sizing(3)[0] == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session._local_sizing(None) == (5, "2g")
