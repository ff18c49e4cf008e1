"""Data-quality operators (SURVEY.md §1.3 constraint mapping).

The reference's Postgres schema enforces CHECK constraints
(``05-create-schema.sh:154-155``) and a web of PK/FK constraints
(§1.3). Spark enforces none, so the engine exposes the CHECKs as
violation filters, next to one-pass table profiles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_range(df: DataFrame, col: str, lo: int, hi: int) -> DataFrame:
    """CHECK (col BETWEEN lo AND hi) as a violation-row filter
    (05-create-schema.sh:154-155 pickup_type/drop_off_type)."""
    c = F.col(col)
    return df.filter(~(c.between(lo, hi)) & c.isNotNull())


#: Types whose min/max stringify deterministically across engines.
_ORDERED_TYPES = ("int", "bigint", "smallint", "tinyint", "double", "float",
                  "string", "date", "timestamp", "timestamp_ntz", "decimal")


def profile_table(
    df: DataFrame,
    exact_distinct: bool = False,
) -> DataFrame:
    """One-pass column profile: ``(column, dtype, n, n_null,
    n_distinct, min_value, max_value)`` — the summary a pipeline
    writes next to every landed table (what Deequ/Great Expectations
    call a profile, reduced to the aggregates Spark computes in a
    single wide aggregation).

    One job, one reduce: all per-column aggregates evaluate in the
    same partial-aggregation pass, so profiling never rescans the
    table per column. ``exact_distinct=False`` (default) uses HLL —
    the 100 TB mode; ``True`` uses exact distinct counts (test /
    oracle mode; Spark plans one Expand over the distinct sets, still
    a single scan). min/max are emitted as strings so the result
    schema is column-count-independent; complex types (arrays,
    structs, maps, binary) profile counts only.
    """
    names = list(df.columns)
    dtypes = dict(df.dtypes)
    # Aliases and labels are indexed, not name-derived, and the
    # unpivot is built from typed Column expressions (F.stack +
    # F.lit labels), so a column name containing quotes, dots, or
    # backticks can neither break parsing nor mislabel rows.
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(names):
        # exact-name resolution: backticks doubled, whole name quoted,
        # so dots are not parsed as struct access nor backticks as
        # delimiters
        col = F.col("`" + c.replace("`", "``") + "`")
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_null_{i}")
        )
        aggs.append(
            (
                F.countDistinct(col)
                if exact_distinct
                else F.approx_count_distinct(col, 0.01)
            ).alias(f"_dist_{i}")
        )
        orderable = any(dtypes[c].startswith(t) for t in _ORDERED_TYPES)
        null_s = F.lit(None).cast("string")
        aggs.append(
            (F.min(col).cast("string") if orderable else null_s).alias(
                f"_min_{i}"
            )
        )
        aggs.append(
            (F.max(col).cast("string") if orderable else null_s).alias(
                f"_max_{i}"
            )
        )
    wide = df.agg(*aggs)
    # unpivot the single wide row into one row per column: the stack
    # happens on ONE row, so this costs nothing at any scale
    parts: list[Column] = []
    for i, c in enumerate(names):
        parts += [
            F.lit(c),
            F.lit(dtypes[c]),
            F.col("_n"),
            F.col(f"_null_{i}"),
            F.col(f"_dist_{i}"),
            F.col(f"_min_{i}"),
            F.col(f"_max_{i}"),
        ]
    return wide.select(
        F.stack(F.lit(len(names)), *parts).alias(
            "column", "dtype", "n", "n_null", "n_distinct",
            "min_value", "max_value",
        )
    )
