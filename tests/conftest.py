"""Shared fixtures: one SparkSession per test session, plus a
synthesized GTFS corpus following FIXTURES.md §B (referential
integrity across the ★ tables, month-boundary validity windows,
>24:00:00 stop times, duplicate-PK rows across runs)."""

from __future__ import annotations

import datetime as dt
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    """local[$SPARK_GRAFT_CPUS] (8 when unset), the width the engine's
    own sessions use; the shuffle width stays 8 so partition-shaped
    test expectations do not move with the host."""
    from vbb_data_pipeline_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("tests", cpus=cpus, shuffle_partitions=8)
    yield s


def _cal(run, sid, days, start, end):
    """calendar row: days = 7-char string of 1/0 (mon..sun)."""
    flags = [c == "1" for c in days]
    return (run, "vbb", sid, *flags, start, end)


@pytest.fixture(scope="session")
def gtfs(spark):
    """Minimal-but-complete GTFS corpus (schemas.py types)."""
    from vbb_data_pipeline_spark import schemas

    calendar = spark.createDataFrame(
        [
            # weekday service, validity straddles Jan→Mar (month + leap
            # boundary — the reference's bug zone, GtfsDAO.java:75-78)
            _cal(1, "svc_wk", "1111100", 20240125, 20240305),
            # weekend-only service, tight window inside February
            _cal(1, "svc_we", "0000011", 20240201, 20240215),
            # service whose validity ends before it starts (degenerate)
            _cal(1, "svc_bad", "1111111", 20240301, 20240210),
            # second run duplicates svc_wk with a different window
            _cal(2, "svc_wk", "1111100", 20240210, 20240220),
        ],
        schemas.CALENDAR,
    )
    trips = spark.createDataFrame(
        [
            (1, "vbb", "r1", "svc_wk", "t1", "City", None, True, None, None, None, None),
            (1, "vbb", "r1", "svc_we", "t2", "Lake", None, False, None, None, None, None),
            (1, "vbb", "r2", "svc_bad", "t3", "Dead", None, True, None, None, None, None),
            (2, "vbb", "r1", "svc_wk", "t1", "City", None, True, None, None, None, None),
        ],
        schemas.TRIPS,
    )
    stop_times = spark.createDataFrame(
        [
            # normal morning arrival
            (1, "vbb", "t1", 8 * 3600, 8 * 3600 + 30, "s1", 1, None, 0, 0, None),
            # >24:00:00 service-day overflow (GTFS spec; SURVEY.md §7.1)
            (1, "vbb", "t1", 25 * 3600 + 90, 25 * 3600 + 120, "s2", 2, None, 0, 0, None),
            (1, "vbb", "t2", 12 * 3600, 12 * 3600 + 60, "s1", 1, None, 0, 0, None),
            (1, "vbb", "t3", 9 * 3600, 9 * 3600 + 10, "s2", 1, None, 0, 0, None),
            (2, "vbb", "t1", 7 * 3600, 7 * 3600 + 30, "s1", 1, None, 0, 0, None),
        ],
        schemas.STOP_TIMES,
    )
    stops = spark.createDataFrame(
        [
            (1, "vbb", "s1", None, "Alexanderplatz", None, 52.52437, 13.41053,
             None, None, False, None, None, None),
            (1, "vbb", "s2", None, "Potsdam Hbf", None, 52.39886, 13.06566,
             None, None, False, None, None, None),
            (2, "vbb", "s1", None, "Alexanderplatz", None, 52.52437, 13.41053,
             None, None, False, None, None, None),
        ],
        schemas.STOPS,
    )
    return {
        "calendar": calendar,
        "trips": trips,
        "stop_times": stop_times,
        "stops": stops,
    }


@pytest.fixture()
def window_jan_feb():
    return dt.date(2024, 1, 28), dt.date(2024, 2, 6)


@pytest.fixture(scope="session")
def shared_spark_holder(spark):
    """Session-scoped alias for hypothesis tests (function-scoped
    fixtures would re-enter the spark fixture per example)."""
    return spark
