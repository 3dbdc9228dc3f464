"""Unit tests for the JVM-side expression library (casts, naming) and the
aeg-JSON reader surface (Pig-loader equivalent)."""

import math
import struct

import pytest
from pyspark.sql import functions as F


def _roundtrip(spark, hexes, fn):
    df = spark.createDataFrame([(h,) for h in hexes], "h string")
    return [r.v for r in df.select(fn("h").alias("v")).collect()]


def test_hex_to_long_widths(spark):
    from aegisthus_spark.functions import hex_to_long

    cases = {
        struct.pack(">b", -5).hex(): -5,
        struct.pack(">h", -300).hex(): -300,
        struct.pack(">i", 70000).hex(): 70000,
        struct.pack(">q", -(1 << 62)).hex(): -(1 << 62),
        struct.pack(">q", (1 << 62)).hex(): 1 << 62,
        b"123".hex(): 123,          # decimal-text parse wins (Pig parity)
        b"-42".hex(): -42,
        "ffffffffffffffff": -1,     # 8-byte all-ones = -1
        "abcdef": None,             # 3 bytes: no width match
    }
    got = _roundtrip(spark, list(cases), hex_to_long)
    assert got == list(cases.values())


def test_hex_to_int_wraps_like_java(spark):
    from aegisthus_spark.functions import hex_to_int

    # Java (int) of an 8-byte long takes the low 32 bits
    h = struct.pack(">q", (1 << 40) + 7).hex()
    assert _roundtrip(spark, [h], hex_to_int) == [7]
    assert _roundtrip(spark, [struct.pack(">i", -9).hex()], hex_to_int) == [-9]


def test_hex_to_chararray(spark):
    from aegisthus_spark.functions import hex_to_chararray

    assert _roundtrip(spark, [b"hello".hex(), ""], hex_to_chararray) == ["hello", None]


@pytest.mark.parametrize("v", [0.0, 1.5, -2.25, 3.4e38, 1.4e-45, float("inf")])
def test_hex_to_float_exact(spark, v):
    from aegisthus_spark.functions import hex_to_float

    h = struct.pack(">f", v).hex()
    expected = struct.unpack(">f", bytes.fromhex(h))[0]
    assert _roundtrip(spark, [h], hex_to_float) == [expected]


@pytest.mark.parametrize(
    "v", [0.0, -0.0, 1.5, -2.25, 1.7976931348623157e308, 5e-324, 2.2250738585072014e-308,
          float("inf"), -math.pi]
)
def test_hex_to_double_exact(spark, v):
    from aegisthus_spark.functions import hex_to_double

    h = struct.pack(">d", v).hex()
    got = _roundtrip(spark, [h], hex_to_double)
    assert got == [v]


def test_hex_to_double_nan(spark):
    from aegisthus_spark.functions import hex_to_double

    got = _roundtrip(spark, [struct.pack(">d", float("nan")).hex()], hex_to_double)
    assert math.isnan(got[0])


def test_legacy_column_name_format(spark):
    from aegisthus_spark.functions import legacy_column_name_format

    df = spark.createDataFrame([('a\tb\\c"d\x01e',)], "s string")
    got = df.select(legacy_column_name_format("s").alias("v")).collect()[0].v
    # java: whitespace/control -> ' ', then \ -> \\, then " -> \"
    assert got == 'a b\\\\c\\"d e'


def test_read_aeg_json_loader_shape(spark):
    from aegisthus_spark.sources.aeg_json import parse_aeg_json

    lines = [
        # live + deleted + expiring + counter cells
        '6b31\t{"6b31":{"deletedAt":-9223372036854775808,"columns":['
        '["6e31","7631",100],["6e32","7632",90,"d"],'
        '["6e33","7633",80,"e",10,123],["6e34","7634",70,"c",5]]}}',
        # row-tombstoned: deletedAt shadows the one cell
        '6b32\t{"6b32":{"deletedAt":500,"columns":[["6e31","7631",100]]}}',
    ]
    df = parse_aeg_json(spark.createDataFrame([(l,) for l in lines], "value string"))
    rows = {r.key: r for r in df.collect()}
    assert set(rows) == {"6b31", "6b32"}
    r1 = rows["6b31"]
    assert r1.deletedat == -(1 << 63)
    assert [c.name for c in r1.bag_columns] == ["6e31", "6e32", "6e33", "6e34"]
    assert r1.map_columns["6e32"].status == "d"
    assert r1.map_columns["6e33"].ttl == 10
    assert r1.map_columns["6e33"].local_deletion_time == 123
    assert r1.map_columns["6e34"].ts_of_last_delete == 5

    cleaned = parse_aeg_json(
        spark.createDataFrame([(l,) for l in lines], "value string"), clean=True
    )
    crows = {r.key: r for r in cleaned.collect()}
    # 6b32's only cell is shadowed (500 > 100) -> row dropped entirely
    assert set(crows) == {"6b31"}
    assert [c.name for c in crows["6b31"].bag_columns] == ["6e31", "6e33", "6e34"]


def test_read_aeg_json_roundtrip_with_writer(spark, tmp_path, jb_input_dir):
    """Full surface loop: fixtures -> compact -> aeg-JSON write -> read back."""
    from aegisthus_spark.job import compact_snapshot, write_snapshot_json
    from aegisthus_spark.sources.aeg_json import read_aeg_json
    from tests.conftest import JB_KEYS

    out = str(tmp_path / "snap")
    rows = compact_snapshot(spark, [jb_input_dir])
    n = write_snapshot_json(rows, out)
    df = read_aeg_json(spark, out)
    assert df.count() == n == JB_KEYS
    schema = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert schema["deletedat"] == "bigint"
    assert schema["bag_columns"].startswith("array<struct<name:string")


def _tc(n: int) -> bytes:
    """minimal big-endian two's-complement encoding (Cassandra varint)"""
    ln = max(1, (n.bit_length() + 8) // 8)
    return n.to_bytes(ln, "big", signed=True)


def test_integer_type_sort_key_numeric_order():
    from aegisthus_spark import types as aegtypes

    comp = aegtypes.get("IntegerType")
    vals = [-(1 << 100), -65536, -256, -255, -129, -128, -2, -1, 0,
            1, 2, 127, 128, 255, 256, 65535, 1 << 100]
    keys = [comp.sort_key(_tc(v)) for v in vals]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)


def test_decimal_type_sort_key_numeric_order():
    from decimal import Decimal

    from aegisthus_spark import types as aegtypes

    comp = aegtypes.get("DecimalType")

    def enc(scale: int, unscaled: int) -> bytes:
        return scale.to_bytes(4, "big", signed=True) + _tc(unscaled)

    # (scale, unscaled) pairs listed in ascending numeric order; mixed scales
    cases = [
        (0, -1230), (1, -1234), (1, -1230), (3, -1234), (3, -1230), (3, -123),
        (5, -1), (0, 0), (5, 1), (3, 123), (3, 1230), (3, 1234), (1, 1230),
        (1, 1234), (0, 1230),
    ]
    vals = [Decimal(u).scaleb(-s) for s, u in cases]
    assert vals == sorted(vals)
    keys = [comp.sort_key(enc(s, u)) for s, u in cases]
    assert keys == sorted(keys)
    # equal values with different scales must encode equal
    assert comp.sort_key(enc(3, 1230)) == comp.sort_key(enc(2, 123))


def test_decimal_integer_sort_key_hypothesis():
    from decimal import Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aegisthus_spark import types as aegtypes

    icomp = aegtypes.get("IntegerType")
    dcomp = aegtypes.get("DecimalType")

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=-(10 ** 40), max_value=10 ** 40),
           st.integers(min_value=-(10 ** 40), max_value=10 ** 40))
    def check_int(a, b):
        ka, kb = icomp.sort_key(_tc(a)), icomp.sort_key(_tc(b))
        assert (ka < kb) == (a < b) and (ka == kb) == (a == b)

    @settings(max_examples=300, deadline=None)
    @given(st.integers(-(10 ** 25), 10 ** 25), st.integers(-20, 20),
           st.integers(-(10 ** 25), 10 ** 25), st.integers(-20, 20))
    def check_dec(u1, s1, u2, s2):
        def enc(scale, unscaled):
            return scale.to_bytes(4, "big", signed=True) + _tc(unscaled)

        v1, v2 = Decimal(u1).scaleb(-s1), Decimal(u2).scaleb(-s2)
        k1, k2 = dcomp.sort_key(enc(s1, u1)), dcomp.sort_key(enc(s2, u2))
        assert (k1 < k2) == (v1 < v2) and (k1 == k2) == (v1 == v2)

    check_int()
    check_dec()
