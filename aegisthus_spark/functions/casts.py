"""Hex-encoded byte value -> typed columns, with the reference Pig caster's
semantics (aegisthus-pig/.../AegisthusLoadCaster.java:42-138):

- ``chararray``: hex -> bytes -> UTF-8 string
- ``int``/``long``: FIRST try parsing the decoded *string* as a decimal
  number (AegisthusLoadCaster.java:94-97,127-130), THEN fall back to
  width-based big-endian signed decode of 1/2/4/8 raw bytes
  (``getNumber``, :105-121); other widths -> null
- ``float``/``double``: IEEE-754 bit reinterpretation of 4/8 raw bytes

All decodes are pure Spark SQL expressions — the IEEE reinterpretation is
done with exact sign/exponent/mantissa arithmetic (every step representable,
so results are bit-identical to a native reinterpret). Each decode is a SQL
text template (``_*_sql``, ``_width_decode``), shared with the CQL compose
and the renders; the public functions apply one to a named column through
``sqltext.apply_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column

from .sqltext import apply_sql


def _hex_to_chararray_sql(h: str) -> str:
    # binary -> string cast never throws on invalid UTF-8 (unlike ANSI
    # decode()), matching Pig's forgiving ``new String(bytes)``
    return (
        f"CASE WHEN {h} IS NULL OR length({h}) = 0 THEN cast(NULL as string) "
        f"ELSE cast(unhex({h}) as string) END"
    )


def hex_to_chararray(col: str) -> Column:
    """hex string -> UTF-8 string (null on empty input)."""
    return apply_sql(col, _hex_to_chararray_sql)


def _width_decode(h: str) -> str:
    """SQL text: width-based big-endian signed decode of 1/2/4/8 bytes
    (2/4/8/16 hex chars) to a bigint; other widths -> NULL."""
    n = f"length({h})"
    u = f"cast(conv({h}, 16, 10) as bigint)"
    # 8-byte values can exceed bigint as unsigned; go through decimal(20,0)
    u_big = f"cast(conv({h}, 16, 10) as decimal(20,0))"
    big = (
        f"CASE WHEN {u_big} >= cast('{1 << 63}' as decimal(20,0)) "
        f"THEN cast({u_big} - cast('{1 << 64}' as decimal(21,0)) as bigint) "
        f"ELSE cast({u_big} as bigint) END"
    )

    def sext(bits: int) -> str:
        return (
            f"CASE WHEN {u} >= {1 << (bits - 1)} "
            f"THEN {u} - cast({1 << bits} as bigint) ELSE {u} END"
        )

    return (
        f"CASE WHEN {n} = 2 THEN {sext(8)} WHEN {n} = 4 THEN {sext(16)} "
        f"WHEN {n} = 8 THEN {sext(32)} WHEN {n} = 16 THEN {big} "
        "ELSE cast(NULL as bigint) END"
    )


def _hex_to_long_sql(h: str) -> str:
    s = f"cast(unhex({h}) as string)"
    as_text = f"CASE WHEN {s} RLIKE '^-?[0-9]+$' THEN try_cast({s} as bigint) END"
    return (
        f"CASE WHEN {h} IS NULL OR length({h}) = 0 THEN cast(NULL as bigint) "
        f"ELSE coalesce({as_text}, {_width_decode(h)}) END"
    )


def hex_to_long(col: str) -> Column:
    """Pig ``bytesToLong``: decimal-string parse first, then width decode."""
    return apply_sql(col, _hex_to_long_sql)


def _hex_to_int_sql(h: str) -> str:
    """SQL text: like long, then Java ``(int)`` low-32 wrap."""
    m = 1 << 32
    return f"cast((({_hex_to_long_sql(h)} + {1 << 31}) % {m} + {m}) % {m} - {1 << 31} as int)"


def hex_to_int(col: str) -> Column:
    """Pig ``bytesToInteger``: like long, then Java ``(int)`` low-32 wrap."""
    return apply_sql(col, _hex_to_int_sql)


#: IEEE-754 special values as SQL double literals
_INF = "cast('Infinity' as double)"
_NAN = "cast('NaN' as double)"


def _hex_to_float_sql(h: str) -> str:
    """SQL text: IEEE-754 binary32 reinterpretation of 4 bytes (8 hex
    chars) to a double; other widths -> NULL."""
    bits = f"cast(conv({h}, 16, 10) as bigint)"
    sign = f"CASE WHEN (shiftright({bits}, 31) & 1) = 1 THEN -1.0D ELSE 1.0D END"
    e = f"(shiftright({bits}, 23) & 255)"
    m = f"({bits} & {0x7FFFFF})"
    val = (
        f"CASE WHEN {e} = 255 THEN CASE WHEN {m} = 0 THEN {sign} * {_INF} ELSE {_NAN} END "
        f"WHEN {e} = 0 THEN {sign} * cast({m} as double) * pow(2.0D, -149) "
        f"ELSE {sign} * cast({m} + {1 << 23} as double) * pow(2.0D, cast({e} as double) - 150) END"
    )
    return f"CASE WHEN {h} IS NULL OR length({h}) != 8 THEN cast(NULL as double) ELSE {val} END"


def hex_to_float(col: str) -> Column:
    """IEEE-754 binary32 reinterpretation of 4 bytes (8 hex chars)."""
    return apply_sql(col, _hex_to_float_sql)


def _hex_to_double_sql(h: str) -> str:
    """SQL text: IEEE-754 binary64 reinterpretation of 8 bytes (16 hex
    chars); other widths -> NULL.

    The top 12 bits (sign+exponent) come from the first 3 hex chars, the
    52-bit mantissa from the remaining 13 — both fit a bigint exactly.
    """
    top12 = f"cast(conv(substring({h}, 1, 3), 16, 10) as bigint)"
    sign = f"CASE WHEN (shiftright({top12}, 11) & 1) = 1 THEN -1.0D ELSE 1.0D END"
    e = f"({top12} & {0x7FF})"
    m = f"cast(conv(substring({h}, 4, 13), 16, 10) as bigint)"
    val = (
        f"CASE WHEN {e} = {0x7FF} THEN CASE WHEN {m} = 0 THEN {sign} * {_INF} ELSE {_NAN} END "
        f"WHEN {e} = 0 THEN {sign} * cast({m} as double) * pow(2.0D, -1074) "
        f"ELSE {sign} * cast({m} + {1 << 52} as double) * pow(2.0D, cast({e} as double) - 1075) END"
    )
    return f"CASE WHEN {h} IS NULL OR length({h}) != 16 THEN cast(NULL as double) ELSE {val} END"


def hex_to_double(col: str) -> Column:
    """IEEE-754 binary64 reinterpretation of 8 bytes (16 hex chars)."""
    return apply_sql(col, _hex_to_double_sql)
