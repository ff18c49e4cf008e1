"""Stream-stream joins (SURVEY.md §2.9 extension).

The reference never joins two live streams (its producer replays a
precomputed join); Structured Streaming supports it natively with
watermark-bounded state. The canonical shape is the interval join —
"right events within [lower, upper] of the left event, same key" —
e.g. purchases attributed to the click they followed.

State-bound argument for 100 TB: both sides are watermarked, and the
time-range condition lets Spark expire join state past
``watermark + upper`` — state size is (input rate × window), not the
full history. Without the interval condition a stream-stream join
keeps unbounded state; this wrapper refuses that foot-gun.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: int,
    upper_seconds: int,
) -> DataFrame:
    """Event-time interval join: attach right rows with
    ``right_ts ∈ [left_ts + lower, left_ts + upper]`` per key group.

    Works identically for two batch DataFrames (the oracle twin) and
    two streaming DataFrames (1-hour watermarks applied, bounded state).
    Column-name collisions: rename before joining except the ``on``
    keys and the two timestamp columns, which are disambiguated here.
    """
    if lower_seconds > upper_seconds:
        raise ValueError("lower_seconds must be <= upper_seconds")
    lt = F.col(f"__l.{left_ts}")
    rt = F.col(f"__r.{right_ts}")
    if left.isStreaming:
        left = left.withWatermark(left_ts, "1 hour")
    if right.isStreaming:
        right = right.withWatermark(right_ts, "1 hour")
    l_ = left.alias("__l")
    r_ = right.alias("__r")
    key_cond: Column | None = None
    for k in on:
        c = F.col(f"__l.{k}") == F.col(f"__r.{k}")
        key_cond = c if key_cond is None else (key_cond & c)
    cond = (
        key_cond
        & (rt >= lt + F.expr(f"INTERVAL {lower_seconds} SECOND"))
        & (rt <= lt + F.expr(f"INTERVAL {upper_seconds} SECOND"))
    )
    return l_.join(r_, cond, "inner")
