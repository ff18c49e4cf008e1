"""Pure-JVM literal DataFrames for small driver-side row sets.

``spark.createDataFrame(list_of_rows)`` wraps the rows in a Python RDD
(``applySchemaToPythonRDD`` → ``Scan ExistingRDD`` in the physical
plan). That scan is re-evaluated through a Python worker on EVERY
execution of EVERY plan subtree that references it — measured in the
r10 optimization pass at ~0.3-0.6 s of blocked (non-CPU) task time per
scan per run on the bench queries, with the adversarial-row unions and
centroid tables appearing 2-4× per plan. It also splits whole-stage
codegen around the scan and can't participate in LocalRelation
optimizations (constant propagation, broadcast-from-driver shortcuts).

:func:`literal_rows_df` builds the rows as ONE SQL inline table
(``SELECT ... FROM VALUES ...``) submitted with a single ``spark.sql``
py4j call. The first r10 formulation built the same values as a py4j
expression tree (``explode(array(struct(F.lit(...), ...)))``) — each
``F.lit``/``F.array``/``F.struct`` is a py4j round trip, and a 16×64
centroid table cost ~5-6 s of driver-side socket latency per QUERY
CONSTRUCTION (cProfile: 21k ``send_command`` calls, 6.8 s in
``recv_into``, vs 0.08 s of k-means math — the actual work). The SQL
string for the same table parses in the JVM in ~10 ms. Inline tables
also analyze straight to a ``LocalRelation`` (eager, size-known,
broadcastable), strictly better than the range+explode plan.

Value fidelity matches ``createDataFrame``'s converters: doubles are
emitted as ``CAST('<repr>' AS DOUBLE)`` — Python ``repr`` produces the
shortest round-trip decimal and Java's ``Double.parseDouble`` inverts
it bit-exactly (including Infinity/NaN spellings); ``float`` target
fields emit ``CAST(CAST('<repr>' AS DOUBLE) AS FLOAT)`` so the JVM
performs the same double→float narrowing as ``FloatType.toInternal``
(a direct string→float parse differs by 1 ULP on exact
float-rounding midpoints); ints/longs/strings/bools/NULLs are exact. Intended for MODEL/FIXTURE-scale data (tens to
a few thousand literals); anything larger belongs in a real scan.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["literal_rows_df"]


def _sql_str(s: str, escaped_literals: bool = False) -> str:
    # Spark's default lexer (escapedStringLiterals=false) interprets
    # backslash escapes, so escape the backslash itself and the quote;
    # raw newlines/tabs/unicode inside a literal pass through intact.
    # With spark.sql.parser.escapedStringLiterals=true (probed on
    # Spark 4.1) every character inside a string token is kept
    # LITERALLY — '' doubling is not an escape, '\\' stays two
    # backslashes — but the lexer still pairs backslash+next-char, so
    # a quote cannot be embedded and a trailing backslash cannot even
    # be written. literal_rows_df reads the conf and, in legacy mode,
    # emits strings containing either character as a foldable CONCAT
    # of plain single-quoted runs and CHR(39)/CHR(92) pieces; the
    # inline-table analyzer folds it back to one constant.
    if escaped_literals:
        if "'" not in s and "\\" not in s:
            return "'" + s + "'"
        args: list[str] = []
        run: list[str] = []

        def flush() -> None:
            if run:
                args.append("'" + "".join(run) + "'")
                run.clear()

        for ch in s:
            if ch == "'":
                flush()
                args.append("CHR(39)")
            elif ch == "\\":
                flush()
                args.append("CHR(92)")
            else:
                run.append(ch)
        flush()
        return "CONCAT(" + ", ".join(args) + ")"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_value(v, dt: T.DataType, escaped_literals: bool = False) -> str:
    """One SQL literal expression reproducing ``v`` at ``dt``
    bit-exactly (foldable, so inline-table analysis evaluates it).

    Supported-type contract (everything else raises TypeError):
    ``array<…>`` (nested), boolean, float/double, byte/short/int/long,
    string, binary, timestamp (datetime values), date (date values),
    and NULL at any supported type. DecimalType, MapType, StructType
    fields and string-valued timestamp/date inputs are NOT supported —
    callers needing those belong on ``spark.createDataFrame``.
    """
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.ArrayType):
        inner = ", ".join(
            _sql_value(x, dt.elementType, escaped_literals) for x in v
        )
        # empty arrays still need the element type
        return f"CAST(array({inner}) AS {dt.simpleString()})"
    if isinstance(dt, T.BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(dt, T.FloatType):
        # match FloatType.toInternal (double→float narrowing in the
        # JVM): parse to DOUBLE first, then narrow. A direct
        # CAST('<repr>' AS FLOAT) would parse the decimal straight to
        # float (Float.parseFloat, correctly rounded from the decimal
        # string) — on exact float-rounding midpoints the two differ
        # by 1 ULP (e.g. 1 + 2^-24).
        return f"CAST(CAST('{float(v)!r}' AS DOUBLE) AS FLOAT)"
    if isinstance(dt, T.DoubleType):
        # string→double cast = Double.parseDouble: exact inverse of
        # Python repr's shortest round-trip form
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return f"CAST({int(v)} AS {dt.simpleString()})"
    if isinstance(dt, T.StringType):
        return _sql_str(str(v), escaped_literals)
    if isinstance(dt, T.BinaryType):
        return f"X'{bytes(v).hex()}'"
    if isinstance(dt, T.TimestampType) and isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(dt, T.DateType) and isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    raise TypeError(
        f"unsupported literal type {type(v)} for {dt} — _sql_value "
        "supports (nested) arrays, boolean, float/double, integral "
        "types, string, binary, datetime-valued timestamp and "
        "date-valued date only"
    )


def literal_rows_df(
    spark: SparkSession,
    rows: Sequence,
    schema: str | T.StructType,
) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a pure-JVM literal plan.

    ``rows``: sequence of tuples/Rows positionally matching ``schema``
    (a DDL string like ``"vec_id long, embedding array<float>"`` or a
    StructType). Supports atomic types and (nested) arrays; NULLs and
    NULL array elements allowed. Empty ``rows`` yields an empty frame
    with the right schema (single empty JVM range, no tasks through
    Python).
    """
    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    fields = st.fields
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
        )
    # Spark parses boolean confs case-insensitively ("TRUE" is on)
    esc = (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        .strip()
        .lower()
        == "true"
    )
    values = ",\n".join(
        "("
        + ", ".join(
            _sql_value(row[i], f.dataType, esc) for i, f in enumerate(fields)
        )
        + ")"
        for row in rows
    )
    names = ", ".join(f"`{f.name}`" for f in fields)
    return spark.sql(f"SELECT * FROM VALUES\n{values}\nAS t({names})")
