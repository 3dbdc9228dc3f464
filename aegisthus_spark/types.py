"""Cassandra comparator-type registry.

The reference types everything at the edges via Cassandra ``AbstractType``
comparator strings parsed with ``TypeParser.parse`` (reference:
aegisthus-hadoop/src/main/java/com/netflix/aegisthus/mapreduce/CassSSTableReducer.java:56-61,
io/writable/AegisthusKeySortingComparator.java:71-80,
output/JsonOutputFormat.java:49-60). This module provides, per comparator:

- ``spark_type``   — the Spark SQL type a decoded value maps to,
- ``render(b)``    — Python bytes -> display string, matching
  ``AbstractType.getString`` (used by the aeg-JSON golden formatter),
- ``sort_key(b)``  — Python bytes -> bytes whose unsigned-lexicographic order
  equals the comparator's logical order (used so Spark's plain binary
  ordering reproduces Cassandra's comparator ordering),
- ``compose(b)``   — bytes -> typed Python value (CQL export path,
  reference: org/coursera/CQLMapper.java:159-189).

Everything here is pure Python (driver/UDF-side); Spark-expression
equivalents for the hot paths live in ``functions/``.
"""

from __future__ import annotations

import struct as _struct
import uuid as _uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import Decimal
from typing import Callable

from pyspark.sql import types as T

_LONG_MIN = -(1 << 63)


# ---------------------------------------------------------------------------
# parsing comparator strings, e.g.
#   "org.apache.cassandra.db.marshal.UTF8Type"
#   "CompositeType(Int32Type,UTF8Type)"
#   "ReversedType(LongType)"
# ---------------------------------------------------------------------------

def _strip_pkg(name: str) -> str:
    return name.rsplit(".", 1)[-1]


def parse_comparator(spec: str) -> "Comparator":
    """Parse a Cassandra comparator string into a Comparator instance."""
    spec = spec.strip()
    base, args = spec, None
    if "(" in spec:
        base, rest = spec.split("(", 1)
        if not rest.endswith(")"):
            raise ValueError(f"unbalanced comparator spec: {spec}")
        args = _split_top_level(rest[:-1])
    base = _strip_pkg(base.strip())
    if base == "ReversedType":
        inner = parse_comparator(args[0])
        return ReversedComparator(inner)
    if base == "CompositeType":
        return CompositeComparator([parse_comparator(a) for a in args])
    try:
        return _SIMPLE[base]
    except KeyError:
        raise ValueError(f"unsupported comparator type: {spec}") from None


def _split_top_level(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [x.strip() for x in out]


# ---------------------------------------------------------------------------
# comparator implementations
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Comparator:
    name: str
    spark_type: T.DataType
    _render: Callable[[bytes], str] = field(repr=False, default=None)
    _sort_key: Callable[[bytes], bytes] = field(repr=False, default=None)
    _compose: Callable[[bytes], object] = field(repr=False, default=None)

    def render(self, b: bytes | None) -> str:
        """bytes -> display string (AbstractType.getString semantics);
        falls back to hex on decode error, mirroring the reference's
        MarshalException fallback (JsonOutputFormat.java:92-106)."""
        if b is None:
            return ""
        try:
            return self._render(b)
        except Exception:
            return b.hex()

    def sort_key(self, b: bytes | None) -> bytes:
        if b is None:
            return b""
        return self._sort_key(b) if self._sort_key else b

    def compose(self, b: bytes | None):
        if b is None:
            return None
        return self._compose(b) if self._compose else bytes(b)


def _render_hex(b: bytes) -> str:
    return b.hex()


def _render_utf8(b: bytes) -> str:
    return b.decode("utf-8")


def _render_ascii(b: bytes) -> str:
    return b.decode("ascii")


def _int_of(b: bytes) -> int:
    # Cassandra integer types are big-endian two's-complement of fixed width
    return int.from_bytes(b, "big", signed=True)


def _render_long(b: bytes) -> str:
    if len(b) != 8:
        raise ValueError("not a long")
    return str(_int_of(b))


def _render_int32(b: bytes) -> str:
    if len(b) != 4:
        raise ValueError("not an int")
    return str(_int_of(b))


def _render_bool(b: bytes) -> str:
    return "false" if len(b) == 0 or b[0] == 0 else "true"


def _render_float(b: bytes) -> str:
    # Java Float.toString form — the reference's actual rendering
    # (FloatType.getString -> String.valueOf(float)); Python repr was the
    # old divergent spec (e.g. 0.1f: '0.10000000149011612' vs Java '0.1')
    from .functions.javafloat import java_float_to_string

    return java_float_to_string(_struct.unpack(">f", b)[0])


def _render_double(b: bytes) -> str:
    from .functions.javafloat import java_double_to_string

    return java_double_to_string(_struct.unpack(">d", b)[0])


def _render_uuid(b: bytes) -> str:
    return str(_uuid.UUID(bytes=bytes(b)))


def _render_timestamp(b: bytes) -> str:
    # Cassandra TimestampType stores epoch millis as 8-byte big-endian
    millis = _int_of(b)
    dt = datetime.fromtimestamp(millis / 1000.0, tz=timezone.utc)
    return dt.strftime("%Y-%m-%d %H:%M:%S%z")


def _render_decimal(b: bytes) -> str:
    """Java BigDecimal.toString (Cowlishaw to-scientific-string, the
    exact algorithm behind DecimalType.getString in the reference):
    plain notation when scale >= 0 and adjusted exponent >= -6, else
    scientific. Pure int/string ops — Decimal.scaleb would ROUND wide
    unscaled values at the 28-digit context precision and raise on
    extreme i32 scales (beyond the context Emax)."""
    scale = int.from_bytes(b[:4], "big", signed=True)
    unscaled = int.from_bytes(b[4:], "big", signed=True)
    s = str(abs(unscaled))
    sign = "-" if unscaled < 0 else ""
    adjusted = (len(s) - 1) - scale
    if scale >= 0 and adjusted >= -6:
        if scale == 0:
            return sign + s
        if len(s) > scale:
            return f"{sign}{s[:-scale]}.{s[-scale:]}"
        return f"{sign}0.{'0' * (scale - len(s))}{s}"
    mant = s[0] + (f".{s[1:]}" if len(s) > 1 else "")
    return f"{sign}{mant}E{'+' if adjusted >= 0 else ''}{adjusted}"


def _sk_signed_fixed(b: bytes) -> bytes:
    # flip the sign bit: two's-complement big-endian becomes unsigned-sortable
    if not b:
        return b
    return bytes([b[0] ^ 0x80]) + bytes(b[1:])


def _sk_float(b: bytes) -> bytes:
    # IEEE754 total order trick: positive -> flip sign bit, negative -> flip all
    if not b:
        return b
    if b[0] & 0x80:
        return bytes(x ^ 0xFF for x in b)
    return bytes([b[0] | 0x80]) + bytes(b[1:])


def _sk_varint(b: bytes) -> bytes:
    """Order-preserving key for Cassandra IntegerType (varint): variable-
    length big-endian two's-complement, compared numerically (reference
    comparator: sign, then length, then unsigned bytes — i.e. numeric order).
    Raw bytes do NOT sort numerically (0xFF = -1 > 0x01 = 1 in raw order).

    Layout: 1 sign byte (0x00 neg / 0x01 zero / 0x02 pos) + fixed 8-byte
    magnitude length (complemented for negatives: longer = more negative =
    smaller) + magnitude bytes (complemented for negatives).
    """
    n = _int_of(b)
    if n == 0:
        return b"\x01"
    mag = abs(n).to_bytes((abs(n).bit_length() + 7) // 8, "big")
    if n > 0:
        return b"\x02" + len(mag).to_bytes(8, "big") + mag
    return (
        b"\x00"
        + ((1 << 64) - 1 - len(mag)).to_bytes(8, "big")
        + bytes(x ^ 0xFF for x in mag)
    )


def _sk_decimal(b: bytes) -> bytes:
    """Order-preserving key for Cassandra DecimalType (4-byte scale +
    varint unscaled; compared as BigDecimal, i.e. numerically). Raw bytes
    lead with the scale and never sort numerically.

    Layout: sign byte + sign-flipped 8-byte adjusted exponent + normalized
    mantissa digits (complemented for negatives) + terminator so a shorter
    mantissa orders correctly against its extensions.
    """
    scale = int.from_bytes(b[:4], "big", signed=True)
    unscaled = int.from_bytes(b[4:], "big", signed=True)
    if unscaled == 0:
        return b"\x01"
    # exact digit extraction — Decimal.normalize() rounds to the context
    # precision (28 digits by default), which silently collapsed wide
    # unscaled values (10^40 vs 10^40+1) onto one key
    s = str(abs(unscaled))
    adjusted = (len(s) - 1) - scale
    mant = s.rstrip("0").encode("ascii")
    if unscaled > 0:
        return (
            b"\x02" + (adjusted + (1 << 63)).to_bytes(8, "big") + mant + b"\x00"
        )
    return (
        b"\x00"
        + ((1 << 64) - 1 - (adjusted + (1 << 63))).to_bytes(8, "big")
        + bytes(0x39 - x + 0x30 for x in mant)
        + b"\xff"
    )


def _sk_uuid(b: bytes) -> bytes:
    # UUIDType.compareCustom: version nibble first, v1s by embedded
    # timestamp, otherwise unsigned byte order; empty sorts smallest
    # (legal per Cassandra — same guard as _sk_signed_fixed/_sk_float)
    if not b:
        return bytes(b)
    if len(b) != 16:
        # malformed width: deterministic + injective (0x10 is disjoint
        # from the 0x00-0x0F version-nibble lead of well-formed keys),
        # mirroring the JVM _malformed_guard's degrade-not-crash posture.
        # NOTE the relative placement differs (JVM's '.' prefix sorts
        # malformed BELOW well-formed, this sorts them above) — fine,
        # since one compact() uses exactly one of the two key paths.
        return b"\x10" + bytes(b)
    ver = (b[6] >> 4) & 0x0F
    ts = _uuid.UUID(bytes=bytes(b)).time.to_bytes(8, "big") if ver == 1 else b""
    return bytes([ver]) + ts + bytes(b)


def _sk_lexuuid(b: bytes) -> bytes:
    # LexicalUUIDType compares via UUID.compareTo: most-significant then
    # least-significant 64 bits as SIGNED longs — so flip the sign bit of
    # byte 0 and byte 8 (raw bytes would misplace UUIDs whose MSB/LSB
    # sign bits differ). Malformed widths keep raw bytes (injective).
    if len(b) != 16:
        return bytes(b)
    return bytes([b[0] ^ 0x80]) + bytes(b[1:8]) + bytes([b[8] ^ 0x80]) + bytes(b[9:])


def _sk_timeuuid(b: bytes) -> bytes:
    # TimeUUID sorts by its 60-bit timestamp: time_hi(12 bits sans version),
    # time_mid, time_low, then the raw bytes as tiebreak; empty smallest
    if not b:
        return bytes(b)
    u = _uuid.UUID(bytes=bytes(b))
    return u.time.to_bytes(8, "big") + bytes(b)


def _compose_long(b: bytes):
    return _int_of(b)


def _compose_timestamp(b: bytes):
    millis = _int_of(b)
    return datetime.fromtimestamp(millis / 1000.0, tz=timezone.utc)


_SIMPLE = {
    "BytesType": Comparator("BytesType", T.BinaryType(), _render_hex, None, None),
    "UTF8Type": Comparator("UTF8Type", T.StringType(), _render_utf8, None, lambda b: b.decode("utf-8")),
    "AsciiType": Comparator("AsciiType", T.StringType(), _render_ascii, None, lambda b: b.decode("ascii")),
    "LongType": Comparator("LongType", T.LongType(), _render_long, _sk_signed_fixed, _compose_long),
    "Int32Type": Comparator("Int32Type", T.IntegerType(), _render_int32, _sk_signed_fixed, _compose_long),
    "IntegerType": Comparator("IntegerType", T.DecimalType(38, 0), lambda b: str(_int_of(b)), _sk_varint, _compose_long),
    "BooleanType": Comparator("BooleanType", T.BooleanType(), _render_bool, None, lambda b: bool(b and b[0])),
    "FloatType": Comparator("FloatType", T.FloatType(), _render_float, _sk_float, lambda b: _struct.unpack(">f", b)[0]),
    "DoubleType": Comparator("DoubleType", T.DoubleType(), _render_double, _sk_float, lambda b: _struct.unpack(">d", b)[0]),
    "UUIDType": Comparator("UUIDType", T.StringType(), _render_uuid, _sk_uuid, lambda b: str(_uuid.UUID(bytes=bytes(b)))),
    "TimeUUIDType": Comparator("TimeUUIDType", T.StringType(), _render_uuid, _sk_timeuuid,
                               lambda b: str(_uuid.UUID(bytes=bytes(b)))),
    "TimestampType": Comparator("TimestampType", T.TimestampType(), _render_timestamp, _sk_signed_fixed,
                                _compose_timestamp),
    "DateType": Comparator("DateType", T.TimestampType(), _render_timestamp, _sk_signed_fixed, _compose_timestamp),
    "DecimalType": Comparator(
        "DecimalType", T.StringType(), _render_decimal, _sk_decimal,
        # string construction is EXACT — .scaleb() rounds to the context
        # precision (28 digits) and raises past the context Emax
        lambda b: Decimal(
            f"{int.from_bytes(b[4:], 'big', signed=True)}"
            f"E{-int.from_bytes(b[:4], 'big', signed=True)}"
        ),
    ),
    "LexicalUUIDType": Comparator("LexicalUUIDType", T.StringType(), _render_uuid,
                                  _sk_lexuuid,
                                  lambda b: str(_uuid.UUID(bytes=bytes(b)))),
}


#: fallback comparator for composite components past the declared list
_BYTES = _SIMPLE["BytesType"]


class ReversedComparator(Comparator):
    """ReversedType(inner): same rendering, inverted order
    (reference: unwrapped at CQLMapper.java:168-170)."""

    def __init__(self, inner: Comparator):
        object.__setattr__(self, "name", f"ReversedType({inner.name})")
        object.__setattr__(self, "spark_type", inner.spark_type)
        object.__setattr__(self, "_render", inner._render)
        object.__setattr__(self, "_compose", inner._compose)
        object.__setattr__(self, "_sort_key", None)
        object.__setattr__(self, "inner", inner)

    def sort_key(self, b: bytes | None) -> bytes:
        k = self.inner.sort_key(b)
        # invert every byte; append 0xFF sentinel so prefixes invert correctly
        return bytes(x ^ 0xFF for x in k) + b"\xff"


class CompositeComparator(Comparator):
    """CompositeType(c1, c2, ...): cell names are
    ``(<2-byte len><component><eoc byte>)*`` (Cassandra composite encoding).

    The end-of-component byte (eoc) participates in ordering: -1 (0xFF)
    sorts before the component's successors, +1 after — used by range
    tombstone bounds.
    """

    def __init__(self, components: list[Comparator]):
        object.__setattr__(self, "name", f"CompositeType({','.join(c.name for c in components)})")
        object.__setattr__(self, "spark_type", T.StructType(
            [T.StructField(f"c{i}", c.spark_type) for i, c in enumerate(components)]))
        object.__setattr__(self, "_render", None)
        object.__setattr__(self, "_compose", None)
        object.__setattr__(self, "_sort_key", None)
        object.__setattr__(self, "components", components)

    @staticmethod
    def is_static(b: bytes) -> bool:
        """0xFFFF static prefix (CompositeType.STATIC_MARKER): static cell
        names sort before every non-static name regardless of components."""
        return len(b) >= 2 and b[0] == 0xFF and b[1] == 0xFF

    def _component_at(self, i: int) -> "Comparator":
        # trailing components past the declared list (CQL column name,
        # collection cell path) compare as raw bytes
        return self.components[i] if i < len(self.components) else _BYTES

    def split(self, b: bytes) -> list[bytes]:
        """CompositeType.split equivalent (reference: CQLMapper.java:97-100)."""
        out, mv, i = [], memoryview(b), 0
        if self.is_static(b):
            i = 2
        while i < len(mv):
            ln = int.from_bytes(mv[i:i + 2], "big")
            i += 2
            out.append(bytes(mv[i:i + ln]))
            i += ln + 1  # skip end-of-component byte
        return out

    def split_with_eoc(self, b: bytes) -> list[tuple[bytes, int]]:
        out, mv, i = [], memoryview(b), 0
        if self.is_static(b):
            i = 2
        while i < len(mv):
            ln = int.from_bytes(mv[i:i + 2], "big")
            i += 2
            comp = bytes(mv[i:i + ln])
            i += ln
            eoc = mv[i] if i < len(mv) else 0
            if eoc >= 128:
                eoc -= 256
            i += 1
            out.append((comp, eoc))
        return out

    def render(self, b: bytes | None) -> str:
        if b is None:
            return ""
        parts = self.split(b)
        return ":".join(
            self._component_at(i).render(p) for i, p in enumerate(parts)
        )

    def sort_key(self, b: bytes | None) -> bytes:
        """Order-preserving flat encoding of a composite name.

        Lead byte 0x00 for the 0xFFFF static prefix (statics first, like
        CompositeType's STATIC_MARKER rule), 0x01 otherwise. Then per
        component: 0x01 <escaped sort key> 0x00 <eoc+1 byte>, where the
        escape maps 0x00 -> 0x00 0x01 so the terminator (0x00 0x00-ish)
        sorts below any continuation. eoc -1/0/+1 -> 0/1/2 keeps Cassandra's
        bound ordering. Components past the declared list (CQL column name,
        collection cell path) compare as raw bytes.
        """
        if b is None or len(b) == 0:
            return b""
        out = bytearray(b"\x00" if self.is_static(b) else b"\x01")
        comps = self.split_with_eoc(b)
        for i, (comp, eoc) in enumerate(comps):
            k = self._component_at(i).sort_key(comp)
            out.append(0x01)
            for byte in k:
                if byte == 0x00:
                    out += b"\x00\x01"
                else:
                    out.append(byte)
            out += b"\x00\x00"
            out.append(eoc + 1)
        return bytes(out)

    def compose(self, b: bytes | None):
        if b is None:
            return None
        parts = self.split(b)
        return tuple(
            self._component_at(i).compose(p) for i, p in enumerate(parts)
        )


def get(spec: str) -> Comparator:
    return parse_comparator(spec)


def register_comparator(name: str, comparator: Comparator) -> None:
    """Register a custom comparator under its short class name.

    The reference instantiates ANY ``AbstractType`` subclass by reflection
    (AegisthusKeySortingComparator.java:71-80, JsonOutputFormat.java:49-60)
    — users with custom marshal classes pass the class name and it just
    works. This is the Python-side equivalent: a registered comparator is
    picked up by :func:`get`/:func:`parse_comparator` everywhere the
    Python twins run (render_row_json, CQL compose, sort twins). It does
    NOT add a JVM template: ``output.to_aeg_json``,
    ``output.sort_columns_by_display_name`` and ``job.compact_snapshot``
    raise ValueError naming a class with none, so render and sort-key
    templates for it go in ``functions/render.py`` and
    ``functions/sortkeys.py`` (or, for the sort key, a SQL function
    registered with ``spark.udf.register`` and passed to ``compact``).
    """
    _SIMPLE[_strip_pkg(name.strip())] = comparator
