"""JVM-side comparator sort keys (functions/sortkeys.py) vs the Python
types.Comparator encodings and vs first-principles type order.

The JVM and Python encodings differ byte-wise by design; what must agree
is the ORDER they induce. Reference semantics: Cassandra's
AbstractType.compare / AbstractCompositeType.compareCustom (the
reference engine delegated to these via the configured comparator,
CassSSTableReducer.java:142-153).
"""

from __future__ import annotations

import itertools
import struct
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aegisthus_spark import types as aegtypes
from aegisthus_spark.functions.sortkeys import (
    comparator_sort_key,
    composite_sort_key,
    supported,
    type_sort_key_hex,
)
from aegisthus_spark.sstable.modern import composite


def _jvm_keys(spark, values: list[bytes], col_fn) -> list[str]:
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "i int, b binary"
    )
    rows = df.select("i", F.expr(col_fn("b")).alias("k")).collect()
    return [r.k for r in sorted(rows, key=lambda r: r.i)]


def _assert_same_order(keys_a, keys_b, values, label):
    for (i, x), (j, y) in itertools.combinations(enumerate(keys_a), 2):
        cmp_a = (x > y) - (x < y)
        cmp_b = (keys_b[i] > keys_b[j]) - (keys_b[i] < keys_b[j])
        assert cmp_a == cmp_b, (
            f"{label}: order diverges for {values[i]!r} vs {values[j]!r}: "
            f"jvm {cmp_a} python {cmp_b}"
        )


# ---------------------------------------------------------------------------
# simple-type transforms vs logical order
# ---------------------------------------------------------------------------

_LONGS = [-(1 << 63), -1_000_000, -1, 0, 1, 42, 1 << 40, (1 << 63) - 1]
_INTS = [-(1 << 31), -7, 0, 3, (1 << 31) - 1]
_DOUBLES = [float("-inf"), -1e300, -2.5, -0.0, 0.0, 1.5, 3.14, 1e300, float("inf")]


@pytest.mark.parametrize(
    "marshal,values,logical",
    [
        ("LongType", [struct.pack(">q", v) for v in _LONGS], _LONGS),
        ("Int32Type", [struct.pack(">i", v) for v in _INTS], _INTS),
        ("DoubleType", [struct.pack(">d", v) for v in _DOUBLES], _DOUBLES),
        ("FloatType", [struct.pack(">f", v) for v in [-1e30, -2.5, 0.0, 7.25, 1e30]],
         [-1e30, -2.5, 0.0, 7.25, 1e30]),
        ("UTF8Type", [b"", b"a", b"ab", b"b", b"ba"], [b"", b"a", b"ab", b"b", b"ba"]),
    ],
)
def test_simple_type_key_matches_logical_order(spark, marshal, values, logical):
    keys = _jvm_keys(spark, values, lambda c: type_sort_key_hex(c, marshal))
    ranked = [v for _, v in sorted(zip(keys, logical))]
    assert ranked == sorted(logical), (marshal, keys)


def test_timeuuid_key_orders_by_embedded_time(spark):
    us = [uuid.UUID(fields=(t & 0xFFFFFFFF, (t >> 32) & 0xFFFF,
                            0x1000 | ((t >> 48) & 0x0FFF), 0x80, 0x01,
                            0xDEADBEEF0000 + t))
          for t in (5, 1, 99, 40)]
    raw = [u.bytes for u in us]
    keys = _jvm_keys(spark, raw, lambda c: type_sort_key_hex(c, "TimeUUIDType"))
    times = [u.time for u in us]
    ranked = [t for _, t in sorted(zip(keys, times))]
    assert ranked == sorted(times)


def test_reversed_type_inverts_order(spark):
    values = [b"a", b"ab", b"b"]
    keys = _jvm_keys(
        spark, values, lambda c: type_sort_key_hex(c, "ReversedType(UTF8Type)")
    )
    ranked = [v for _, v in sorted(zip(keys, values))]
    assert ranked == [b"b", b"ab", b"a"]


def test_unsupported_types_raise_with_guidance():
    with pytest.raises(ValueError, match="sort_key"):
        type_sort_key_hex(F.lit(b""), "SomeCustomType")
    assert not supported("SomeCustomType")
    assert supported("IntegerType")
    assert supported("DecimalType")
    assert supported("ReversedType(LongType)")
    assert supported("ReversedType(DecimalType)")


def _enc_varint(n: int) -> bytes:
    """Minimal big-endian two's complement (BigInteger.toByteArray)."""
    if n == 0:
        return b"\x00"
    return n.to_bytes((n.bit_length() + 8) // 8, "big", signed=True)


def _enc_decimal(unscaled: int, scale: int) -> bytes:
    w = max(1, (unscaled.bit_length() + 8) // 8)
    return struct.pack(">i", scale) + unscaled.to_bytes(w, "big", signed=True)


def _exact_ctx():
    """Exact-precision Decimal context for the numeric reference values:
    the default 28-digit precision makes scaleb ROUND wide unscaled
    values (10**40 + 1 -> 1E+40), corrupting the order oracle."""
    import decimal

    return decimal.localcontext(decimal.Context(prec=500))


def test_varint_key_matches_numeric_and_python_order(spark):
    """IntegerType (varint) JVM key: numeric order at any width, equal
    keys for numerically-equal NON-minimal encodings (redundant
    sign-extension bytes), same order as the Python types.sort_key."""
    vals = [-(10 ** 30), -65536, -256, -255, -129, -128, -1, 0, 1, 127,
            128, 255, 256, 10 ** 30]
    raw = [_enc_varint(v) for v in vals]
    raw += [b"\x00" + _enc_varint(127), b"\xff" + _enc_varint(-200)]
    vals += [127, 200 * -1]
    keys = _jvm_keys(spark, raw, lambda c: type_sort_key_hex(c, "IntegerType"))
    py = [aegtypes.get("IntegerType").sort_key(b) for b in raw]
    _assert_same_order(keys, py, raw, "varint-python")
    ranked = [v for _, v in sorted(zip(keys, range(len(vals))))]
    assert [vals[i] for i in ranked] == sorted(vals)
    # non-minimal encodings collapse to the minimal key (LWW contract)
    assert keys[raw.index(b"\x00" + _enc_varint(127))] == \
        keys[raw.index(_enc_varint(127))]


def test_decimal_key_matches_numeric_and_python_order(spark):
    """DecimalType JVM key: BigDecimal numeric order (scale-independent
    equality, negative scales, mantissa-prefix cases, unscaled values far
    wider than 8 bytes), same order as the Python types.sort_key."""
    from decimal import Decimal

    cases = [(0, 0), (0, 5), (1, 0), (1, 2), (-1, 2), (5, 1), (50, 2),
             (51, 2), (-50, 2), (-51, 2), (123456789012345678, 9),
             (-123456789012345678, 9), (1, -10), (-1, -10), (99, -3),
             (10, 0), (100, 1),
             # wide unscaled (>8 bytes): pre-round-9 these raise_error'd
             (10 ** 40, 0), (-(10 ** 40), 0), (10 ** 40 + 1, 0),
             (10 ** 40, 45), (-(10 ** 40), 45), (3 ** 200, 17)]
    raw = [_enc_decimal(u, s) for u, s in cases]
    with _exact_ctx():
        dvals = [Decimal(u).scaleb(-s) for u, s in cases]
    keys = _jvm_keys(spark, raw, lambda c: type_sort_key_hex(c, "DecimalType"))
    py = [aegtypes.get("DecimalType").sort_key(b) for b in raw]
    _assert_same_order(keys, py, raw, "decimal-python")
    for (i, x), (j, y) in itertools.combinations(enumerate(keys), 2):
        assert ((x > y) - (x < y)) == (
            (dvals[i] > dvals[j]) - (dvals[i] < dvals[j])
        ), (dvals[i], dvals[j])
    # equal values at different scales collapse to one key (5e1 == 50)
    k = _jvm_keys(spark, [_enc_decimal(5, -1), _enc_decimal(50, 0),
                          _enc_decimal(5000, 2)],
                  lambda c: type_sort_key_hex(c, "DecimalType"))
    assert len(set(k)) == 1


@settings(max_examples=25, deadline=None)
@given(cases=st.lists(
    st.tuples(st.integers(min_value=-(10 ** 45), max_value=10 ** 45),
              st.integers(min_value=-1000, max_value=1000)),
    min_size=2, max_size=5))
def test_wide_decimal_hypothesis_parity(spark, cases):
    """VERDICT r7 item 6: hypothesis parity vs types.sort_key on values
    past the old 8-byte conv bound (±10^40 and beyond)."""
    from decimal import Decimal

    raw = [_enc_decimal(u, s) for u, s in cases]
    with _exact_ctx():
        dvals = [Decimal(u).scaleb(-s) for u, s in cases]
    keys = _jvm_keys(spark, raw, lambda c: type_sort_key_hex(c, "DecimalType"))
    py = [aegtypes.get("DecimalType").sort_key(b) for b in raw]
    _assert_same_order(keys, py, raw, "wide-decimal-fuzz")
    for (i, x), (j, y) in itertools.combinations(enumerate(keys), 2):
        assert ((x > y) - (x < y)) == (
            (dvals[i] > dvals[j]) - (dvals[i] < dvals[j])
        ), (dvals[i], dvals[j])


def test_reversed_decimal_inverts_mantissa_prefix_pairs(spark):
    """Round-7 review regression: ReversedType(DecimalType) must invert
    order for mantissa-PREFIX pairs (5 vs 5.1, 500 vs 510 — same
    adjusted exponent, one mantissa extending the other). The decimal
    key's '!'/'Z' terminators must swap under the ReversedType
    complement; left fixed, DESC order silently kept such pairs
    ascending while the Python byte-inverting twin flipped them."""
    from decimal import Decimal

    cases = [(500, 0), (510, 0), (5, 0), (51, 1), (-50, 1), (-51, 1),
             (0, 0), (123, 2), (-5, 0), (7, 0), (100, 0)]
    raw = [_enc_decimal(u, s) for u, s in cases]
    with _exact_ctx():
        dvals = [Decimal(u).scaleb(-s) for u, s in cases]
    keys = _jvm_keys(spark, raw,
                     lambda c: type_sort_key_hex(c, "ReversedType(DecimalType)"))
    py = [aegtypes.get("ReversedType(DecimalType)").sort_key(b) for b in raw]
    _assert_same_order(keys, py, raw, "reversed-decimal-python")
    for (i, x), (j, y) in itertools.combinations(enumerate(keys), 2):
        assert ((x > y) - (x < y)) == (
            (dvals[j] > dvals[i]) - (dvals[j] < dvals[i])
        ), ("reversed numeric", dvals[i], dvals[j])


def test_reversed_varint_and_lexuuid_parity(spark):
    """ReversedType over the other round-7 additions keeps JVM/Python
    order parity (the complement map must behave for every key
    alphabet, not just hex digits)."""
    ints = [-(10 ** 20), -255, -1, 0, 1, 127, 128, 10 ** 20]
    raw = [_enc_varint(v) for v in ints]
    keys = _jvm_keys(spark, raw,
                     lambda c: type_sort_key_hex(c, "ReversedType(IntegerType)"))
    py = [aegtypes.get("ReversedType(IntegerType)").sort_key(b) for b in raw]
    _assert_same_order(keys, py, raw, "reversed-varint-python")
    ranked = [v for _, v in sorted(zip(keys, ints))]
    assert ranked == sorted(ints, reverse=True)

    uuids = [(m % (1 << 64)).to_bytes(8, "big") + (l % (1 << 64)).to_bytes(8, "big")
             for m, l in [(-5, 0), (-1, 2), (0, -1), (0, 5), (7, 1)]]
    keys = _jvm_keys(spark, uuids,
                     lambda c: type_sort_key_hex(c, "ReversedType(LexicalUUIDType)"))
    py = [aegtypes.get("ReversedType(LexicalUUIDType)").sort_key(b) for b in uuids]
    _assert_same_order(keys, py, uuids, "reversed-lexuuid-python")


@settings(max_examples=25, deadline=None)
@given(cases=st.lists(
    st.tuples(st.integers(min_value=-(2 ** 62), max_value=2 ** 62),
              st.integers(min_value=-1000, max_value=1000)),
    min_size=2, max_size=5))
def test_reversed_decimal_hypothesis_parity(spark, cases):
    raw = [_enc_decimal(u, s) for u, s in cases]
    keys = _jvm_keys(spark, raw,
                     lambda c: type_sort_key_hex(c, "ReversedType(DecimalType)"))
    py = [aegtypes.get("ReversedType(DecimalType)").sort_key(b) for b in raw]
    _assert_same_order(keys, py, raw, "reversed-decimal-fuzz")


def test_decimal_nonminimal_unscaled_normalizes(spark):
    """A decimal whose unscaled varint carries redundant sign-extension
    padding (9 bytes encoding a value that fits 8) must digitize to the
    same key as the minimal encoding, not abort with the width raise."""
    import struct as _s

    minimal = _enc_decimal(5, 1)
    padded = _s.pack(">i", 1) + b"\x00" * 5 + (5).to_bytes(4, "big")
    assert len(padded) - 4 == 9
    neg_min = _enc_decimal(-5, 1)
    neg_pad = _s.pack(">i", 1) + b"\xff" * 5 + (-5).to_bytes(4, "big", signed=True)
    keys = _jvm_keys(spark, [minimal, padded, neg_min, neg_pad],
                     lambda c: type_sort_key_hex(c, "DecimalType"))
    assert keys[0] == keys[1]
    assert keys[2] == keys[3]


@settings(max_examples=25, deadline=None)
@given(ints=st.lists(st.integers(min_value=-(10 ** 25), max_value=10 ** 25),
                     min_size=2, max_size=6))
def test_varint_hypothesis_parity(spark, ints):
    raw = [_enc_varint(v) for v in ints]
    keys = _jvm_keys(spark, raw, lambda c: type_sort_key_hex(c, "IntegerType"))
    py = [aegtypes.get("IntegerType").sort_key(b) for b in raw]
    _assert_same_order(keys, py, raw, "varint-fuzz")


@settings(max_examples=25, deadline=None)
@given(cases=st.lists(
    st.tuples(st.integers(min_value=-(2 ** 62), max_value=2 ** 62),
              st.integers(min_value=-1000, max_value=1000)),
    min_size=2, max_size=6))
def test_decimal_hypothesis_parity(spark, cases):
    raw = [_enc_decimal(u, s) for u, s in cases]
    keys = _jvm_keys(spark, raw, lambda c: type_sort_key_hex(c, "DecimalType"))
    py = [aegtypes.get("DecimalType").sort_key(b) for b in raw]
    _assert_same_order(keys, py, raw, "decimal-fuzz")


def test_truncated_composites_stay_injective(spark):
    """Structurally broken composites (dangling byte after a component,
    a length prefix claiming past the end, a missing eoc byte, extra
    components beyond the unroll) must each get a DISTINCT key — LWW
    dedups on the sort key, so a collision merges distinct corrupt
    names. Broken shapes take the '.' + full-hex fallback, which also
    never collides with a well-formed key ('.' < '0'/'1' leads)."""
    base = composite([b"ab"])
    names = [
        base,                                   # well-formed
        base + b"\x07",                         # dangling byte (value 7)
        base + b"\x09",                         # dangling byte (value 9)
        composite([b"ab"])[:-1],                # missing eoc byte
        b"\x00\x05" + b"ab",                    # length 5, only 2 bytes
        b"\x00\x09" + b"ab",                    # length 9, only 2 bytes
        composite([b"ab", b"c", b"d", b"e"]),   # beyond 1 + n_extra levels
        composite([b"ab", b"c", b"d", b"f"]),
    ]
    keys = _jvm_keys(
        spark, names, lambda c: composite_sort_key(c, ["UTF8Type"], n_extra=2)
    )
    assert len(set(keys)) == len(names), keys
    assert keys[0][0] in "01"          # well-formed key unchanged
    for k in keys[1:]:
        assert k.startswith("."), k    # every broken shape is guarded


def test_sk_uuid_malformed_widths_degrade_not_crash():
    """Python-UDF fallback parity with the JVM _malformed_guard posture:
    non-16-byte UUID bytes must produce a deterministic, injective key
    instead of IndexError/ValueError mid-job."""
    sk = aegtypes.get("UUIDType").sort_key
    short = sk(b"\x01\x02")
    other = sk(b"\x01\x03")
    assert short != other
    assert sk(b"") == b""
    well = sk(uuid.uuid4().bytes)
    assert short != well


def test_integer_clustered_compact_stays_jvm_side(spark, tmp_path):
    """An IntegerType-clustered 3.x table compacts through the
    header-derived sort key with NO BatchEvalPython in the plan (the old
    Python-UDF fallback is gone) and applies an RT over varint order
    that raw bytes would miss (-5 covered by [-10..0] despite 0xFB
    sorting above 0x0A raw)."""
    from aegisthus_spark.compact import compact, compacted_to_cells
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        name_sort_key_for_header,
    )
    from aegisthus_spark.sstable.modern_writer import write_sstable_ma

    INTEGER = "org.apache.cassandra.db.marshal.IntegerType"
    UTF8 = "org.apache.cassandra.db.marshal.UTF8Type"
    path = write_sstable_ma(
        str(tmp_path / "t"),
        [{"key": b"p", "rows": [
            {"marker": 1, "clustering": [_enc_varint(-10)],
             "deletion": (4000, 1_500_000_000)},
            {"clustering": [_enc_varint(-5)], "liveness": (100,),
             "cells": [{"column": b"v", "value": b"doomed"}]},
            {"marker": 6, "clustering": [_enc_varint(0)],
             "deletion": (4000, 1_500_000_000)},
            {"clustering": [_enc_varint(10)], "liveness": (200,),
             "cells": [{"column": b"v", "value": b"keep"}]},
        ]}],
        clustering_types=[INTEGER], regular_columns=[(b"v", UTF8)],
    )
    sk = name_sort_key_for_header(header_for_data_file(path))
    cells = read_sstable_cells(spark, [str(tmp_path / "t")])
    out = compacted_to_cells(compact(cells, name_sort_key=sk))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    vals = {bytes(r.value) for r in out.collect()
            if r.value not in (None, b"") and r.kind == "c"}
    assert vals == {b"keep"}


# ---------------------------------------------------------------------------
# composite keys: JVM vs Python CompositeComparator, and bound semantics
# ---------------------------------------------------------------------------

def test_composite_jvm_matches_python_order_utf8(spark):
    names = [
        composite([b"a"], eoc=0),
        composite([b"a"], eoc=1),
        composite([b"a"]) + b"\x00\x03col\x00",
        composite([b"ab"]) + b"\x00\x03col\x00",
        composite([b"c"], eoc=0),
        composite([b"c"], eoc=1),
        composite([b"c"]) + b"\x00\x03col\x00",
        composite([b""], static=True) + b"\x00\x05owner\x00",
        composite([b"a", b"x"]) + b"\x00\x01q\x00",
    ]
    jvm = _jvm_keys(
        spark, names, lambda c: composite_sort_key(c, ["UTF8Type"], n_extra=2)
    )
    comp = aegtypes.CompositeComparator([aegtypes.get("UTF8Type")])
    py = [comp.sort_key(n) for n in names]
    _assert_same_order(jvm, py, names, "composite-utf8")


def test_composite_jvm_matches_python_order_typed(spark):
    longs = [-5, -1, 0, 3, 1 << 40]
    names = [
        composite([struct.pack(">q", v)]) + b"\x00\x03col\x00" for v in longs
    ] + [
        composite([struct.pack(">q", 0)], eoc=1),
        composite([struct.pack(">q", -1)], eoc=0),
    ]
    jvm = _jvm_keys(
        spark, names, lambda c: composite_sort_key(c, ["LongType"], n_extra=2)
    )
    comp = aegtypes.CompositeComparator([aegtypes.get("LongType")])
    py = [comp.sort_key(n) for n in names]
    _assert_same_order(jvm, py, names, "composite-long")
    # and the logical order: negative clustering sorts below positive
    cell_keys = jvm[: len(longs)]
    ranked = [v for _, v in sorted(zip(cell_keys, longs))]
    assert ranked == sorted(longs)


@settings(max_examples=20, deadline=None)
@given(
    comps=st.lists(
        st.tuples(
            st.binary(min_size=0, max_size=6).filter(
                lambda b: b[:2] != b"\xff\xff"
            ),
            st.sampled_from([0, 1, 0xFF]),
        ),
        min_size=1,
        max_size=3,
    ),
    static=st.booleans(),
)
def test_composite_hypothesis_parity_bytes(spark, comps, static):
    """Random composites (BytesType components, random eocs, optional
    static prefix): JVM string key and Python byte key induce the same
    total order — this drives the real Spark expression, not an
    emulation. The session-scoped spark fixture is stable across
    hypothesis examples."""
    name = bytearray()
    if static:
        name += b"\xff\xff"
    for i, (v, eoc) in enumerate(comps):
        name += len(v).to_bytes(2, "big") + v
        name.append(eoc if i == len(comps) - 1 else 0)
    name = bytes(name)
    others = [
        composite([b"a"]) + b"\x00\x03col\x00",
        composite([b"\x00"], eoc=1),
        composite([b""], static=True) + b"\x00\x01s\x00",
        composite([b"a", b"b"]) + b"\x00\x01q\x00",
    ]
    names = [name] + others
    jvm = _jvm_keys(
        spark, names, lambda c: composite_sort_key(c, ["BytesType"], n_extra=2)
    )
    comp = aegtypes.CompositeComparator([aegtypes.get("BytesType")])
    py = [comp.sort_key(n) for n in names]
    _assert_same_order(jvm, py, names, "composite-fuzz")


def test_comparator_sort_key_full_spec(spark):
    spec = "CompositeType(LongType,UTF8Type)"
    names = [
        composite([struct.pack(">q", v), b"x"]) for v in (-2, 0, 9)
    ]
    keys = _jvm_keys(spark, names, lambda c: comparator_sort_key(c, spec))
    assert keys == sorted(keys)


def test_python_composite_static_sorts_first():
    comp = aegtypes.CompositeComparator([aegtypes.get("UTF8Type")])
    static = composite([b""], static=True) + b"\x00\x05owner\x00"
    regular = composite([b"a"]) + b"\x00\x03col\x00"
    assert comp.sort_key(static) < comp.sort_key(regular)
    # extra components past the declared list render/compose as bytes
    assert comp.split(static) == [b"", b"owner"]


# ---------------------------------------------------------------------------
# review-pass regressions
# ---------------------------------------------------------------------------

_MARSHAL = "org.apache.cassandra.db.marshal."


def test_fully_qualified_parameterized_types(spark):
    """_strip_pkg must not split inside parentheses: a real 3.x header
    stores fully-qualified ReversedType(inner) strings for DESC
    clustering columns."""
    fq = f"{_MARSHAL}ReversedType({_MARSHAL}Int32Type)"
    assert supported(fq)
    values = [struct.pack(">i", v) for v in (-2, 0, 9)]
    keys = _jvm_keys(spark, values, lambda c: type_sort_key_hex(c, fq))
    ranked = [v for _, v in sorted(zip(keys, [-2, 0, 9]))]
    assert ranked == [9, 0, -2]


def test_comparator_sort_key_keeps_extra_components(spark):
    """Cell names with components beyond the declared CompositeType spec
    (CQL column name, collection path) must keep DISTINCT sort keys —
    collapsing them would LWW away whole columns in compact()."""
    spec = "CompositeType(UTF8Type)"
    names = [
        composite([b"ck"]) + b"\x00\x04col1\x00",
        composite([b"ck"]) + b"\x00\x04col2\x00",
    ]
    keys = _jvm_keys(spark, names, lambda c: comparator_sort_key(c, spec))
    assert keys[0] != keys[1]
    assert keys[0] < keys[1]  # col1 < col2 in byte order


def test_reversed_empty_value_sorts_last(spark):
    """Under ReversedType the EMPTY value is the LARGEST (Cassandra swaps
    operands; empty is smallest forward). Python and JVM must agree."""
    values = [b"", b"a", b"zz"]
    jvm = _jvm_keys(
        spark, values, lambda c: type_sort_key_hex(c, "ReversedType(UTF8Type)")
    )
    ranked = [v for _, v in sorted(zip(jvm, values))]
    assert ranked == [b"zz", b"a", b""], ranked
    py = [aegtypes.get("ReversedType(UTF8Type)").sort_key(v) for v in values]
    _assert_same_order(jvm, py, values, "reversed-empty")


def test_uuid_sort_keys_accept_empty():
    """Empty values are legal for every Cassandra type; the UUID sort
    keys must not crash on them (they sort smallest, like the fixed-width
    guards)."""
    assert aegtypes.get("UUIDType").sort_key(b"") == b""
    assert aegtypes.get("TimeUUIDType").sort_key(b"") == b""
    u = uuid.uuid4().bytes
    assert aegtypes.get("UUIDType").sort_key(b"") < aegtypes.get(
        "UUIDType"
    ).sort_key(u)


def test_collection_paths_order_by_path_comparator(spark):
    """List cell paths are TimeUUIDs: with path_types_by_column the list
    elements order by embedded time, not raw bytes; a set<int> orders
    paths numerically; non-collection columns stay raw."""
    import uuid as _uuid

    def tu(t):
        return _uuid.UUID(fields=(t & 0xFFFFFFFF, (t >> 32) & 0xFFFF,
                                  0x1000 | ((t >> 48) & 0x0FFF), 0x80, 0x01,
                                  0xABCDEF)).bytes

    # two timeuuids where RAW byte order != time order: time_low is
    # serialized first, so a SMALL time_low with a LARGE time_mid gives
    # small raw bytes but a late embedded time
    early, late = tu(0x0000000100000002), tu(0x0000000F00000001)
    assert early > late  # raw bytes disagree with time order
    name = lambda col, path: (
        composite([b"ck"]) + struct.pack(">H", len(col)) + col + b"\x00"
        + struct.pack(">H", len(path)) + path + b"\x00"
    )
    names = [
        name(b"tags", early), name(b"tags", late),
        name(b"nums", struct.pack(">i", -5)), name(b"nums", struct.pack(">i", 3)),
        name(b"blob", b"\x01"), name(b"blob", b"\x02"),
    ]
    pt = {b"tags": "TimeUUIDType", b"nums": "Int32Type"}
    keys = _jvm_keys(
        spark, names,
        lambda c: composite_sort_key(c, ["UTF8Type"], n_extra=2,
                                     path_types_by_column=pt),
    )
    k = dict(zip(["tags_early", "tags_late", "neg", "pos", "b1", "b2"], keys))
    # list: early-TIME uuid sorts first despite larger raw bytes
    assert k["tags_early"] < k["tags_late"]
    # set<int>: negative before positive (raw bytes would invert)
    assert k["neg"] < k["pos"]
    # untyped column: raw order
    assert k["b1"] < k["b2"]


def test_header_sort_key_types_list_paths(tmp_path, spark):
    """name_sort_key_for_header wires the collection path types from the
    header: a list column's cells order by embedded-time paths through
    compact()'s A3 sort."""
    import uuid as _uuid

    from aegisthus_spark.compact import compact
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        name_sort_key_for_header,
    )
    from aegisthus_spark.sstable.modern_writer import write_sstable_ma

    def tu(t):
        return _uuid.UUID(fields=(t & 0xFFFFFFFF, (t >> 32) & 0xFFFF,
                                  0x1000 | ((t >> 48) & 0x0FFF), 0x80, 0x01,
                                  0xABCDEF)).bytes

    early, late = tu(0x0000000100000002), tu(0x0000000F00000001)
    assert early > late  # raw order disagrees
    UTF8_T = "org.apache.cassandra.db.marshal.UTF8Type"
    LIST_T = f"org.apache.cassandra.db.marshal.ListType({UTF8_T})"
    d1 = tmp_path / "g1"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"c"], "liveness": (100,),
             "cells": [
                 {"column": b"tags", "value": b"second", "path": late},
                 {"column": b"tags", "value": b"first", "path": early},
             ]},
        ]}],
        clustering_types=[UTF8_T], regular_columns=[(b"tags", LIST_T)],
        generation=1,
    )
    sk = name_sort_key_for_header(
        header_for_data_file(str(d1 / "ma-1-big-Data.db"))
    )
    rows = compact(
        read_sstable_cells(spark, [str(d1)]), name_sort_key=sk
    ).collect()
    vals = [bytes(c.value) for c in rows[0].columns
            if c.value not in (None, b"")]
    assert vals == [b"first", b"second"], vals
