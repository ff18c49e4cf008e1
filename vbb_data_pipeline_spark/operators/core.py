"""Core relational operators (SURVEY.md §2.2-§2.6).

Thin typed wrappers over the DataFrame API. They exist to (a) give the
reference's operator inventory an explicit, testable surface, and
(b) centralize the scale-conscious defaults (broadcast hints for dim
tables, deterministic top-k, anti-join-based set difference) so query
code stays declarative and Catalyst keeps full optimization freedom.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, *cols: Column | str) -> DataFrame:
    """P1/P2 projection (GtfsDAO.java:37-43)."""
    return df.select(*cols)


def filter_rows(df: DataFrame, predicate: Column) -> DataFrame:
    """P3-P9 predicates — deterministic predicates are pushed to the
    scan by Catalyst (verify with plans/explain.py)."""
    return df.filter(predicate)


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """J1 composite-key equi-join (GtfsDAO.java:44-46)."""
    return left.join(right, list(on), "inner")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """J2/J3 set-difference on keys — the reference's new-run detection
    (database_loader/operators.py:68-90) and ON CONFLICT DO NOTHING
    (utils/__init__.py:55-56) are both left-anti joins."""
    return left.join(right, list(on), "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """EXISTS: keep left rows with a match, no right columns."""
    return left.join(right, list(on), "left_semi")


def aggregate(
    df: DataFrame, keys: Sequence[str], *aggs: Column
) -> DataFrame:
    """A1-style grouped aggregation; partial (map-side) aggregation is
    automatic for all algebraic aggregates."""
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def topk(df: DataFrame, k: int, *order: Column | str) -> DataFrame:
    """ORDER BY + LIMIT → Spark TakeOrderedAndProject (no full sort,
    per-partition heaps + driver merge). Include a unique tiebreaker in
    ``order`` for deterministic results."""
    return df.orderBy(*order).limit(k)


def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """§2.6 set-op parity (by name, tolerant of column order)."""
    return a.unionByName(b)


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def distinct_rows(df: DataFrame) -> DataFrame:
    return df.distinct()


def pivot_counts(
    df: DataFrame, key: str, pivot_col: str, values: Sequence[str]
) -> DataFrame:
    """Pivot with an explicit value list — never let Spark run the
    distinct-scan job to discover pivot values at 100 TB."""
    return df.groupBy(key).pivot(pivot_col, list(values)).count()


def range_bucket_join(
    fact: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Range join (fact.value ∈ [range.lo, range.hi)) rewritten as a
    bucket equi-join — the 100 TB technique for interval predicates
    Spark would otherwise plan as a broadcast-nested-loop.

    Each range row is exploded into every ``bucket_width`` bucket it
    overlaps; the fact side computes its single bucket; the equi-join
    on the bucket key shuffles hash-partitioned, and the exact interval
    predicate filters residuals. Cost: |ranges| × avg_span/width extra
    rows — choose ``bucket_width`` near the median range span. Inner
    join only: the exact interval residual drops NULL-extended rows.
    """
    lo_b = F.floor(F.col(lo_col) / bucket_width).cast("long")
    # hi is exclusive: the last covered bucket is the one holding the
    # largest value strictly below hi
    hi_b = F.floor((F.col(hi_col) - F.lit(1e-9)) / bucket_width).cast("long")
    exploded = ranges.withColumn(
        "_bucket",
        F.explode(F.sequence(lo_b, F.greatest(hi_b, lo_b))),
    )
    keyed_fact = fact.withColumn(
        "_bucket", F.floor(F.col(value_col) / bucket_width).cast("long")
    )
    joined = keyed_fact.join(exploded, "_bucket", "inner")
    return joined.filter(
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    ).drop("_bucket")
