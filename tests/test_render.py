"""JVM display-string renders (functions/render.py) vs the Python
types.Comparator.render twins — BYTE parity, including the hex fallback
on malformed widths / invalid encodings / out-of-range timestamps
(reference: AbstractType.getString with MarshalException fallback,
JsonOutputFormat.java:92-106) — and the round-9 no-Python-UDF plan
guarantees for typed snapshots (the round-7 verdict's off-registry
fallback list)."""

from __future__ import annotations

import json
import random
import struct
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aegisthus_spark import types as aegtypes
from aegisthus_spark.functions.render import (
    comparator_render,
    json_escape,
    type_render,
)

RENDER_TYPES = [
    "BytesType", "UTF8Type", "AsciiType", "LongType", "Int32Type",
    "BooleanType", "UUIDType", "TimeUUIDType", "LexicalUUIDType",
    "TimestampType", "DateType", "IntegerType", "DecimalType",
    "FloatType", "DoubleType",
    "ReversedType(LongType)", "ReversedType(DecimalType)",
    "ReversedType(FloatType)",
]


def _corpus() -> list[bytes]:
    rng = random.Random(11)
    vals = [
        b"", b"\x00", b"\xff", b"\x00\x00", b"hello", "unié中".encode(),
        b"\xc3\x28",  # invalid UTF-8
        b'"quo\\te\x01\x1f\n\t"', bytes(16), uuid.uuid4().bytes,
        uuid.uuid1().bytes, struct.pack(">q", 123456789),
        struct.pack(">q", -1), struct.pack(">i", -42),
        struct.pack(">q", 1700000000123), struct.pack(">q", 10 ** 17),
        b"\x01" * 9, b"\x00" * 9, b"\xff" * 9,  # wide / non-minimal
        struct.pack(">i", 3) + (10 ** 40).to_bytes(18, "big"),
        struct.pack(">i", -7) + (-(10 ** 40)).to_bytes(18, "big", signed=True),
        struct.pack(">i", 2) + b"\x7b", b"\x01\x02", b"\x80",
        struct.pack(">i", 0) + b"\x00",
        struct.pack(">q", -(1 << 63)), struct.pack(">q", (1 << 63) - 1),
        # timestamp range edges: year 999, year 1 boundary, year 9999
        # boundary, first out-of-range ms
        struct.pack(">q", -30610224000001), struct.pack(">q", -62135596800000),
        struct.pack(">q", -62135596800001), struct.pack(">q", 253402300799999),
        struct.pack(">q", 253402300800000),
    ]
    vals += [
        bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 24)))
        for _ in range(120)
    ]
    return vals


@pytest.mark.parametrize("marshal", RENDER_TYPES)
def test_type_render_byte_parity(spark, marshal):
    vals = _corpus()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, b binary"
    )
    got = {
        r.i: r.s
        for r in df.select(
            "i", F.expr(type_render("b", marshal)).alias("s")
        ).collect()
    }
    comp = aegtypes.get(marshal)
    for i, v in enumerate(vals):
        assert got[i] == comp.render(v), (marshal, v)


@settings(max_examples=20, deadline=None)
@given(
    data=st.lists(st.binary(min_size=0, max_size=24), min_size=1, max_size=8),
    marshal=st.sampled_from(RENDER_TYPES),
)
def test_type_render_hypothesis_parity(spark, data, marshal):
    """Fresh-seed fuzz every run: arbitrary bytes through every JVM
    render must equal the Python twin byte-for-byte (hypothesis finds
    NEW counterexamples across rounds — the repo's experience is that a
    'suddenly failing' parity test here is a real latent divergence)."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(data)], "i int, b binary"
    )
    got = {
        r.i: r.s
        for r in df.select(
            "i", F.expr(type_render("b", marshal)).alias("s")
        ).collect()
    }
    comp = aegtypes.get(marshal)
    for i, v in enumerate(data):
        assert got[i] == comp.render(v), (marshal, v)


def test_type_render_null_is_empty(spark):
    df = spark.createDataFrame([(1, None)], "i int, b binary")
    got = df.select(F.expr(type_render("b", "LongType")).alias("s")).collect()
    assert got[0].s == ""


def test_float_double_render_jvm_parity(spark):
    """Float/Double render through cast(... as string) — Java toString —
    and the Python twin is the FloatingDecimal port: byte parity over the
    historical trouble classes (non-shortest 9.999...E22 digits, subnormal
    4.9E-324, the long-path b+m overflow truncation, pow-2 mantissas,
    E-form thresholds), plus width-mismatch hex fallback."""
    import struct as s

    doubles = [0.0, -0.0, 2.5, 0.1, 1e7, 9999999.0, 1e-3, 1e-4, 1e23,
               5e-324, 1.7976931348623157e308, float("inf"), float("-inf"),
               float("nan"), 2.0 ** 60, 123456.789,
               s.unpack(">d", bytes.fromhex("c53abe1c9df0eb45"))[0]]
    floats = [s.unpack(">f", s.pack(">f", v))[0] for v in
              (2.5, 0.1, 1e7, 16777216.0, 1e-4, 3.4028235e38, 1.4e-45)]
    floats.append(s.unpack(">f", bytes.fromhex("6a5d0634"))[0])  # b+m wrap
    rows = ([(s.pack(">d", v), "DoubleType") for v in doubles]
            + [(s.pack(">f", v), "FloatType") for v in floats]
            + [(b"\x00" * 3, "FloatType"), (b"\x00" * 7, "DoubleType")])
    for b, t in rows:
        df = spark.createDataFrame([(b,)], "b binary")
        got = df.select(F.expr(type_render("b", t)).alias("s")).collect()[0].s
        assert got == aegtypes.get(t).render(b), (t, b.hex(), got)
    assert comparator_render(
        "b", "CompositeType(LongType,DoubleType)"
    ) is not None


def test_float_double_render_jvm_parity_fuzz(spark):
    """Seeded random-BIT-PATTERN fuzz of the FloatingDecimal port against
    the JVM itself (cast(x as string) IS Java toString): 3000 doubles +
    3000 floats per run, uniform over raw bits — so subnormals, extreme
    exponents, NaN payloads and both infinities all occur — checked in
    ONE batched Spark query per width. The round-10 verdict's 183k-value
    sweep was run out-of-repo; this pins a standing 6k-value regression
    net in-tree (ADVICE round 10: the committed net was ~25 fixed
    vectors for a byte-parity-critical component)."""
    import struct as s

    import numpy as np

    from aegisthus_spark.functions.javafloat import (
        java_double_to_string,
        java_float_to_string,
    )

    rng = np.random.default_rng(4217)
    n = 3000

    bits64 = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
    doubles = [s.unpack(">d", s.pack(">Q", int(b)))[0] for b in bits64]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(doubles)], "i long, d double"
    )
    jvm = {r.i: r.s for r in
           df.selectExpr("i", "cast(d as string) AS s").collect()}
    for i, v in enumerate(doubles):
        assert java_double_to_string(v) == jvm[i], (
            f"double bits {int(bits64[i]):016x}: "
            f"port={java_double_to_string(v)!r} jvm={jvm[i]!r}")

    bits32 = rng.integers(0, 1 << 32, size=n, dtype=np.uint64)
    floats = [s.unpack(">f", s.pack(">I", int(b)))[0] for b in bits32]
    # createDataFrame would round-trip through double; build exact floats
    # with a binary column + JVM-side IEEE reinterpret (the render path)
    df = spark.createDataFrame(
        [(i, s.pack(">f", v)) for i, v in enumerate(floats)],
        "i long, b binary",
    )
    # two's-complement wrap explicitly (ANSI mode errors on overflow casts)
    jvm = {r.i: r.s for r in df.selectExpr(
        "i",
        "cast(java_method('java.lang.Float', 'intBitsToFloat', cast("
        "  if(cast(conv(hex(b), 16, 10) as bigint) >= 2147483648, "
        "     cast(conv(hex(b), 16, 10) as bigint) - 4294967296, "
        "     cast(conv(hex(b), 16, 10) as bigint)) as int)) as string) AS s",
    ).collect()}
    for i, v in enumerate(floats):
        assert java_float_to_string(v) == jvm[i], (
            f"float bits {int(bits32[i]):08x}: "
            f"port={java_float_to_string(v)!r} jvm={jvm[i]!r}")


def _enc_composite(parts: list[bytes], static: bool = False) -> bytes:
    out = b"\xff\xff" if static else b""
    for p in parts:
        out += len(p).to_bytes(2, "big") + p + b"\x00"
    return out


def test_composite_render_byte_parity(spark):
    """':'-joined typed component renders, static prefix skipped, and
    UNLIMITED extras past the declared list (the aggregate-loop tail) —
    parity with CompositeComparator.render."""
    spec = "CompositeType(LongType,UTF8Type)"
    ccomp = aegtypes.get(spec)
    vals = [
        _enc_composite([struct.pack(">q", 5), b"abc"]),
        _enc_composite([struct.pack(">q", -1)]),  # RT-bound prefix
        _enc_composite([struct.pack(">q", 7), b"x", b"e1", b"e2", b"e3",
                        b"d4", b"d5"]),  # 5 extras > unrolled 2
        _enc_composite([], static=True),
        _enc_composite([struct.pack(">q", 2), b"y"], static=True),
        b"",
        _enc_composite([struct.pack(">q", 1), b"", b""]),  # empty comps
        # DANGLING trailing byte: the Python split reads it as a short
        # length and emits one more empty component (review-caught)
        _enc_composite([struct.pack(">q", 3), b"abc"]) + b"\x00",
        _enc_composite([struct.pack(">q", 3), b"abc"]) + b"\x05",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, b binary"
    )
    got = {
        r.i: r.s
        for r in df.select(
            "i", F.expr(comparator_render("b", spec)).alias("s")
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == ccomp.render(v), v


def test_json_escape_matches_json_dumps(spark):
    strs = ['a"b\\c', "ctl\x01\x1f\x0b\x0e\x0f\x1a", "ok", "",
            "unié\n\t\r\x08\x0c", "\\u0001 literal text"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)], "i int, s string")
    got = {r.i: r.e for r in df.select("i", F.expr(json_escape("s")).alias("e")).collect()}
    for i, s in enumerate(strs):
        want = json.dumps(s, ensure_ascii=False, separators=(",", ":"))[1:-1]
        assert got[i] == want, s


# ---------------------------------------------------------------------------
# typed aeg-JSON output: byte parity with the Python twin + JVM-only plan
# ---------------------------------------------------------------------------

def _typed_rows(spark):
    from tests.conftest import CELLS_SCHEMA

    def cell(name, value, ts, kind="c", ttl=None, ldt=None, tsld=None):
        return ("f", 1, struct.pack(">q", 42), -(1 << 63), kind, name,
                None, value, ts, ttl, ldt, tsld)

    rows = [
        cell(struct.pack(">q", 2), 'va"l\x01ue'.encode(), 1),
        cell(struct.pack(">q", 10), None, 2, kind="d"),
        cell(struct.pack(">q", 9), b"x", 3, kind="e", ttl=60, ldt=1000),
    ]
    from aegisthus_spark.compact import compact

    return compact(spark.createDataFrame(rows, CELLS_SCHEMA))


def test_typed_aeg_json_matches_python_twin(spark):
    from aegisthus_spark.output import render_row_json, to_aeg_json

    rows = _typed_rows(spark)
    for legacy in (False, True):
        lines = [
            r.value
            for r in to_aeg_json(
                rows, key_type="LongType", name_type="LongType",
                value_type="UTF8Type", legacy_formatting=legacy,
            ).collect()
        ]
        kc, nc, vc = (aegtypes.get(t) for t in ("LongType", "LongType", "UTF8Type"))
        want = [
            render_row_json(
                bytes(row.partition_key), row.deleted_at,
                [
                    {"name": bytes(c["name"]) if c["name"] is not None else None,
                     "value": bytes(c["value"]) if c["value"] is not None else None,
                     "ts": c["ts"], "kind": c["kind"], "ttl": c["ttl"],
                     "local_deletion_time": c["local_deletion_time"],
                     "ts_of_last_delete": c["ts_of_last_delete"]}
                    for c in row.columns
                ],
                key_conv=kc, name_conv=nc, value_conv=vc,
                legacy_formatting=legacy,
            )
            for row in rows.collect()
        ]
        assert sorted(lines) == sorted(want)


def test_typed_aeg_json_max_col_size_marker(spark):
    from aegisthus_spark.output import to_aeg_json

    line = to_aeg_json(
        _typed_rows(spark), key_type="LongType", name_type="LongType",
        value_type="UTF8Type", max_col_size=10,
    ).collect()[0].value
    assert '["error","row too large:' in line


def test_typed_snapshot_plan_has_no_python_udf(spark, jb_input_dir):
    """VERDICT r7 item 2 'done' criterion: DecimalType column_type with
    sort_columns_by_name stays JVM-only end-to-end (compact sort key +
    display re-sort + aeg-JSON render)."""
    from aegisthus_spark.job import compact_snapshot
    from aegisthus_spark.output import to_aeg_json
    from aegisthus_spark.plans import physical_plan

    rows = compact_snapshot(
        spark,
        [jb_input_dir],
        column_type="DecimalType",
        sort_columns_by_name=True,
    )
    lines = to_aeg_json(rows, name_type="DecimalType")
    plan = physical_plan(lines, "simple")
    assert "BatchEvalPython" not in plan, "typed snapshot fell off the JVM path"
    assert "ArrowEvalPython" not in plan


def test_float_double_snapshot_plan_has_no_python_udf(spark):
    """Round-10 'done' criterion: Float/Double-typed snapshots stay
    JVM-only end-to-end — the last render UDFs are gone (outputs checked
    against the Python FloatingDecimal twin, plan checked for UDF nodes)."""
    import struct as s

    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import sort_columns_by_display_name, to_aeg_json
    from aegisthus_spark.plans import physical_plan
    from tests.conftest import CELLS_SCHEMA

    cells = spark.createDataFrame(
        [("f", 1, s.pack(">d", 0.1), -(1 << 63), "c", s.pack(">f", v), None,
          s.pack(">d", v * 3), 10 + i, None, None, None)
         for i, v in enumerate([2.5, 1e7, 0.1, -0.0])],
        CELLS_SCHEMA,
    )
    rows = sort_columns_by_display_name(compact(cells), name_type="FloatType")
    lines = to_aeg_json(
        rows, key_type="DoubleType", name_type="FloatType",
        value_type="DoubleType",
    )
    plan = physical_plan(lines, "simple")
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan
    out = lines.collect()[0].value
    from aegisthus_spark.output import render_row_json

    # the line must equal the Python spec twin byte-for-byte
    crows = compact(cells).collect()[0]
    cols = sorted(
        [{k: (bytes(c[k]) if isinstance(c[k], (bytes, bytearray)) else c[k])
          for k in ("name", "value", "ts", "kind", "ttl",
                    "local_deletion_time", "ts_of_last_delete")}
         for c in crows["columns"]],
        key=lambda c: aegtypes.get("FloatType").render(c["name"]),
    )
    want = render_row_json(
        bytes(crows["partition_key"]), crows["deleted_at"], cols,
        key_conv=aegtypes.get("DoubleType"),
        name_conv=aegtypes.get("FloatType"),
        value_conv=aegtypes.get("DoubleType"),
    )
    assert out == want


def test_typed_display_sort_matches_python_render_order(spark):
    """sort_columns_by_display_name on a typed comparator (JVM path) uses
    the same rendered-string order as the Python converter."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import sort_columns_by_display_name
    from tests.conftest import CELLS_SCHEMA

    def cell(u, s, ts):
        name = struct.pack(">i", s) + u.to_bytes(
            max(1, (u.bit_length() + 8) // 8), "big", signed=True
        )
        return ("f", 1, b"k", -(1 << 63), "c", name, None, b"v", ts,
                None, None, None)

    # decimal names whose numeric order differs from rendered-string order
    rows = [cell(5, 0, 1), cell(45, 1, 2), cell(123, 2, 3), cell(-2, 0, 4)]
    cells = spark.createDataFrame(rows, CELLS_SCHEMA)
    out = sort_columns_by_display_name(
        compact(cells), name_type="DecimalType"
    ).collect()[0]["columns"]
    comp = aegtypes.get("DecimalType")
    rendered = [comp.render(bytes(c["name"])) for c in out]
    assert rendered == sorted(rendered)
    from aegisthus_spark.plans import physical_plan

    plan = physical_plan(
        sort_columns_by_display_name(compact(cells), name_type="DecimalType"),
        "simple",
    )
    assert "BatchEvalPython" not in plan


def test_typed_display_sort_is_stable_on_rendered_ties(spark):
    """Distinct encodings that RENDER identically (a sign-padded 9-byte
    timestamp vs its minimal 8-byte form) must keep INPUT order, matching
    the stable Python sorted() twin — not fall through to the cell
    struct's binary fields."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import sort_columns_by_display_name
    from tests.conftest import CELLS_SCHEMA

    ms = 1700000000123
    padded = b"\x00" + struct.pack(">q", ms)   # 9-byte sign-padded
    minimal = struct.pack(">q", ms)            # canonical 8-byte
    comp = aegtypes.get("TimestampType")
    assert comp.render(padded) == comp.render(minimal)
    # comparator order (name_sort_key) would put minimal/padded one way;
    # give them DIFFERENT cell values so the old full-struct tie-break
    # would reorder them, and check input (comparator) order survives
    def cell(name, value, ts):
        return ("f", 1, b"k", -(1 << 63), "c", name, None, value, ts,
                None, None, None)

    spark.udf.register(
        "ts_sk", lambda b: comp.sort_key(bytes(b)) if b is not None else None, "binary"
    )

    for first, second in ((padded, minimal), (minimal, padded)):
        cells = spark.createDataFrame(
            [cell(first, b"\xff", 1), cell(second, b"\x00", 2)], CELLS_SCHEMA
        )
        compacted = compact(cells, name_sort_key=lambda c: f"ts_sk({c})")
        base = [bytes(c["name"]) for c in compacted.collect()[0]["columns"]]
        out = sort_columns_by_display_name(
            compacted, name_type="TimestampType"
        ).collect()[0]["columns"]
        assert [bytes(c["name"]) for c in out] == base  # ties keep input order


def test_cql_decimal_compose_jvm_and_wide(spark):
    """CQL decimal compose: JVM-side (no Python UDF), exact for wide
    unscaled values the old Decimal.scaleb fallback would have rounded."""
    from decimal import Decimal

    from aegisthus_spark.cql import compose_value
    from aegisthus_spark.plans import physical_plan

    cases = [
        (struct.pack(">i", 2) + (12345).to_bytes(2, "big"), Decimal("123.45")),
        (struct.pack(">i", 0) + (-7).to_bytes(1, "big", signed=True), Decimal("-7")),
        # unscaled 10^21+1 needs 10 bytes — past the 8-byte conv bound
        (struct.pack(">i", 2) + (10 ** 21 + 1).to_bytes(10, "big"),
         Decimal("10000000000000000000.01")),
        (struct.pack(">i", -2) + (5).to_bytes(1, "big"), Decimal("500")),
    ]
    df = spark.createDataFrame([(i, b) for i, (b, _) in enumerate(cases)],
                               "i int, d binary")
    sel = df.select("i", compose_value("d", "decimal").alias("v"))
    got = {r.i: r.v for r in sel.collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)
    assert "BatchEvalPython" not in physical_plan(sel, "simple")
