"""Run catalog: landing scan, new-run anti-join, deterministic run-id
assignment, checksum dedup (S5/S8/S9, J2, A2)."""

from __future__ import annotations

import zipfile
from pathlib import Path

import pytest

from vbb_data_pipeline_spark.sources.catalog import (
    archive_checksum,
    assign_run_ids,
    dedup_archives,
    new_runs,
    scan_landing,
    url_changed,
)


@pytest.fixture()
def landing(tmp_path: Path) -> str:
    for provider, dates in {"vbb": ["2024-01-01", "2024-02-01"], "vrs": ["2024-01-15"]}.items():
        d = tmp_path / provider
        d.mkdir()
        for date in dates:
            with zipfile.ZipFile(d / f"{date}.zip", "w") as zf:
                zf.writestr("stops.txt", f"stop_id\n{provider}-{date}\n")
    # same content as vbb/2024-01-01 → checksum duplicate
    with zipfile.ZipFile(tmp_path / "vbb" / "2024-03-01.zip", "w") as zf:
        zf.writestr("stops.txt", "stop_id\nvbb-2024-01-01\n")
    (tmp_path / "not_a_dir.txt").write_text("ignored")
    return str(tmp_path)


def test_scan_and_new_runs(spark, landing):
    avail = scan_landing(spark, landing)
    assert avail.count() == 4
    catalog = spark.createDataFrame(
        [(1, "2024-01-01", "vbb")], "run_id int, run_date string, provider_id string"
    )
    fresh = new_runs(avail, catalog)
    assert fresh.count() == 3
    assert ("vbb", "2024-01-01") not in {
        (r.provider_id, r.run_date) for r in fresh.collect()
    }


def test_assign_run_ids_deterministic(spark, landing):
    avail = scan_landing(spark, landing)
    catalog = spark.createDataFrame(
        [(5, "2024-01-01", "vbb")], "run_id int, run_date string, provider_id string"
    )
    fresh = new_runs(avail, catalog)
    a = {(r.provider_id, r.run_date): r.run_id for r in assign_run_ids(fresh, catalog).collect()}
    b = {(r.provider_id, r.run_date): r.run_id for r in assign_run_ids(fresh, catalog).collect()}
    assert a == b  # stable across invocations (SURVEY.md §7.3)
    assert min(a.values()) == 6  # offset past the catalog max
    assert len(set(a.values())) == len(a)


def test_checksum_order_independent(tmp_path: Path):
    """A2: XOR of member CRCs ignores member order."""
    p1, p2 = tmp_path / "a.zip", tmp_path / "b.zip"
    with zipfile.ZipFile(p1, "w") as zf:
        zf.writestr("x.txt", "alpha")
        zf.writestr("y.txt", "beta")
    with zipfile.ZipFile(p2, "w") as zf:
        zf.writestr("y.txt", "beta")
        zf.writestr("x.txt", "alpha")
    assert archive_checksum(str(p1)) == archive_checksum(str(p2))


def test_dedup_archives(spark, landing):
    deduped = dedup_archives(spark, scan_landing(spark, landing))
    kept = {(r.provider_id, r.run_date) for r in deduped.collect()}
    # vbb/2024-03-01 is a content-duplicate of vbb/2024-01-01 → dropped
    assert ("vbb", "2024-03-01") not in kept
    assert len(kept) == 3


def test_scan_landing_distributed_matches_driver_scan(spark, landing):
    from vbb_data_pipeline_spark.sources.catalog import scan_landing_distributed

    driver_side = {
        (r.provider_id, r.run_date, r.path)
        for r in scan_landing(spark, landing).collect()
    }
    distributed = {
        (r.provider_id, r.run_date, r.path)
        for r in scan_landing_distributed(spark, landing).collect()
    }
    assert distributed == driver_side


def test_distributed_scan_enforces_layout_depth(spark, tmp_path):
    """Zips nested deeper than <base>/<provider>/<date>.zip, or at
    the base itself, are skipped — recursiveFileLookup sees them, and
    parts[-2] used to catalog them under a nonexistent provider,
    making the two scan variants disagree."""
    import zipfile as zf

    from vbb_data_pipeline_spark.sources.catalog import (
        scan_landing,
        scan_landing_distributed,
    )

    base = tmp_path / "landing"
    (base / "vbb").mkdir(parents=True)
    (base / "vbb" / "archive").mkdir()

    def mkzip(p):
        with zf.ZipFile(p, "w") as z:
            z.writestr("agency.txt", "agency_id\n1\n")

    mkzip(base / "vbb" / "2024-01-01.zip")        # conforming
    mkzip(base / "vbb" / "archive" / "old.zip")   # too deep: skip
    mkzip(base / "stray.zip")                     # at base: skip

    drv = sorted(
        (r["provider_id"], r["run_date"])
        for r in scan_landing(spark, str(base)).collect()
    )
    dist = sorted(
        (r["provider_id"], r["run_date"])
        for r in scan_landing_distributed(spark, str(base)).collect()
    )
    assert drv == dist == [("vbb", "2024-01-01")]


def test_url_changed_compares_latest_seen_url(spark):
    catalog = spark.createDataFrame(
        [
            ("vbb", "https://vbb.de/gtfs-v1.zip", "2024-01-01 00:00:00"),
            ("vbb", "https://vbb.de/gtfs-v2.zip", "2024-02-01 00:00:00"),
        ],
        "provider_id string, url string, seen_at string",
    ).selectExpr("provider_id", "url", "cast(seen_at as timestamp) as seen_at")
    assert url_changed("https://vrs.de/gtfs.zip", catalog, "vrs")
    assert not url_changed("https://vbb.de/gtfs-v2.zip", catalog, "vbb")
    # an older row carries this URL; only the latest seen_at counts
    assert url_changed("https://vbb.de/gtfs-v1.zip", catalog, "vbb")
