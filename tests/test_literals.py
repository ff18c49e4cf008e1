"""literal_rows_df value fidelity: the SQL inline-table path must
reproduce createDataFrame's converter semantics bit-for-bit (r10
advice items: float double-rounding midpoints, escapedStringLiterals
sessions, explicit supported-type contract)."""

from __future__ import annotations

import math
import struct

import pytest

from vbb_data_pipeline_spark.functions.literals import literal_rows_df


def _f32(x: float) -> float:
    """Python-side FloatType.toInternal twin: double -> float32."""
    return struct.unpack("f", struct.pack("f", x))[0]


def test_mixed_types_match_createdataframe(spark):
    rows = [
        (1, "it's a \\ backslash\nline", 1.5, [0.25, -0.75], True),
        (2, None, float("inf"), None, False),
        (None, "", -0.0, [], None),
    ]
    ddl = "id long, s string, d double, v array<float>, b boolean"
    got = sorted(map(tuple, literal_rows_df(spark, rows, ddl).collect()), key=repr)
    want = sorted(map(tuple, spark.createDataFrame(rows, ddl).collect()), key=repr)
    assert got == want


def test_float_midpoint_matches_toInternal(spark):
    """1 + 2^-24 is an exact float-rounding midpoint: parsing the
    decimal straight to float (Float.parseFloat) and narrowing
    double->float land on DIFFERENT floats (1 ULP). literal_rows_df
    must match createDataFrame's double->float narrowing."""
    mid = 1.0 + 2.0 ** -24
    assert _f32(mid) != mid  # really a narrowing case
    rows = [(1, [mid, 2.0 ** -150, -mid]), (2, [math.pi, 1e-45, 3.4e38])]
    ddl = "i long, v array<float>"
    got = {r["i"]: list(r["v"]) for r in literal_rows_df(spark, rows, ddl).collect()}
    want = {
        r["i"]: list(r["v"]) for r in spark.createDataFrame(rows, ddl).collect()
    }
    assert got == want


def test_escaped_string_literals_session(spark):
    """A session with spark.sql.parser.escapedStringLiterals=true
    lexes backslashes literally and quotes double-escaped; the
    generated VALUES statement must follow the conf instead of
    silently corrupting string data."""
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key, "false")
    tricky = [
        (1, r"back\slash and 'quote'"),
        (2, "a\\'b\\\\c"),
        (3, "trailing backslash\\"),
        (4, "''"),
        (5, "'"),
    ]
    try:
        for mode in ("true", "false", "TRUE"):
            spark.conf.set(key, mode)
            got = sorted(
                map(tuple, literal_rows_df(spark, tricky, "i long, s string").collect())
            )
            assert got == sorted(tricky), f"mode={mode}"
    finally:
        spark.conf.set(key, prev)


def test_unsupported_type_contract(spark):
    from decimal import Decimal

    with pytest.raises(TypeError, match="supports"):
        literal_rows_df(spark, [(Decimal("1.5"),)], "d decimal(10,2)")
