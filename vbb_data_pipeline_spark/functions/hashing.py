"""Portable hashing helpers.

The dedup/similarity extension operators need hash functions that
produce IDENTICAL values in Spark and in the DuckDB oracle, so the
driver's value-hash comparison can verify them. md5 is the common
denominator: both engines emit the same lowercase hex digest for the
same UTF-8 string. A 15-hex-digit (60-bit) prefix fits a signed int64
in both (Spark ``conv(x,16,10)``, DuckDB ``('0x'||x)::BIGINT``).

Spark's native ``xxhash64``/``hash``/``crc32`` are faster and are used
on the non-oracle fast paths (e.g. ingest checksum A2 at scale);
``md5_long`` is the cross-engine-verifiable variant.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 15 hex digits = 60 bits, always positive in a signed 64-bit int.
_HEX_DIGITS = 15


def default_hash_mode() -> str:
    """Process-wide hash-mode switch for the dedup/similarity queries.

    ``"oracle"`` (default) = md5-derived hashing, bit-identical in
    DuckDB, so the driver's value-hash comparison verifies every stage.
    ``"fast"`` (set ``SPARK_GRAFT_FAST_HASH=1``; tools/bench_scale.py
    does) = JVM-native ``xxhash64``, the production path — no Python,
    no hex string round-trip, one codegen expression per hash.
    """
    return "fast" if os.environ.get("SPARK_GRAFT_FAST_HASH") == "1" else "oracle"


def hash_long(col: Column | str, hash_mode: str = "fast") -> Column:
    """Non-negative int64 hash of a string column; mode-switched
    between :func:`md5_long` (oracle parity) and ``xxhash64`` masked to
    63 bits (fast path)."""
    if hash_mode == "oracle":
        return md5_long(col)
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c.cast("string")).bitwiseAND(F.lit((1 << 63) - 1))


def hash_long_pair(
    col: Column | str, hash_mode: str = "fast"
) -> tuple[Column, Column]:
    """TWO independent non-negative int64 hashes of one string column —
    the primitive behind Kirsch-Mitzenmacher hash families. Oracle mode
    slices one md5 digest; fast mode is two seeded ``xxhash64`` calls
    (still cheaper than one md5: no hex conversion, pure JVM)."""
    if hash_mode == "oracle":
        return md5_long_pair(col)
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    mask = F.lit((1 << 63) - 1)
    return (
        F.xxhash64(s).bitwiseAND(mask),
        F.xxhash64(s, F.lit(1)).bitwiseAND(mask),
    )


def md5_long(col: Column | str, seed: str | int | None = None) -> Column:
    """Deterministic 60-bit integer hash of a string column.

    ``seed`` lets callers derive independent hash families (MinHash
    permutations, hyperplane components) — it is simply prefixed into
    the hashed payload.

    DuckDB twin:
    ``CAST('0x' || substr(md5(<seed> || col), 1, 15) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(c.cast("string")), 1, _HEX_DIGITS), 16, 10).cast(
        "long"
    )


def md5_long_sql(expr: str, seed: str | int | None = None) -> str:
    """The DuckDB-side twin of :func:`md5_long` as a SQL fragment."""
    payload = f"'{seed}|' || {expr}" if seed is not None else expr
    return f"CAST('0x' || substr(md5({payload}), 1, {_HEX_DIGITS}) AS BIGINT)"


def md5_long_pair(col: Column | str) -> tuple[Column, Column]:
    """TWO independent 60-bit hashes from ONE md5 evaluation — hex
    digits [1,15] and [16,30] of the same digest. The md5 evaluation
    dominates hash cost at corpus scale (observed 2× on MinHash
    signatures), so family constructions should prefer this over two
    seeded :func:`md5_long` calls.

    DuckDB twins:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`` and
    ``CAST('0x' || substr(md5(x), 16, 15) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    digest = F.md5(c.cast("string"))
    h1 = F.conv(F.substring(digest, 1, _HEX_DIGITS), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 16, _HEX_DIGITS), 16, 10).cast("long")
    return h1, h2


def md5_long_pair_sql(expr: str) -> tuple[str, str]:
    """DuckDB twin of :func:`md5_long_pair`."""
    return (
        f"CAST('0x' || substr(md5({expr}), 1, {_HEX_DIGITS}) AS BIGINT)",
        f"CAST('0x' || substr(md5({expr}), 16, {_HEX_DIGITS}) AS BIGINT)",
    )


def crc32_xor_checksum(content: Column) -> Column:
    """Aggregate building block for the reference's archive fingerprint:
    XOR of per-member CRC32s (``data_provider/operators.py:145-152``) —
    order-independent by construction. Use as
    ``df.groupBy(archive).agg(F.bit_xor(crc32_xor_checksum(col)))``.
    """
    return F.crc32(content)
