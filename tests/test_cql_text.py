"""cql_rows builds its projections as SQL text: column names enter as
quoted identifiers and as escaped string literals, so reserved words,
mixed case and quote characters in a schema compose like any other name."""

import datetime
import struct
import uuid
from decimal import Decimal

from pyspark.sql import Row

from tests.conftest import CELLS_SCHEMA

DDL = """
CREATE TABLE "Events" (
    "order" text,
    end int,
    timestamp timestamp,
    "MixedCase" varchar,
    v_ascii ascii,
    v_bigint bigint,
    v_counter counter,
    v_uuid uuid,
    v_timeuuid timeuuid,
    v_double double,
    v_float float,
    v_boolean boolean,
    v_blob blob,
    v_decimal decimal,
    v_text text,
    l list<int>,
    s set<text>,
    m map<text, bigint>,
    fl frozen<list<int>>,
    tp tuple<int, text>,
    PRIMARY KEY ("order", end)
)
"""

#: names no DDL identifier can spell: quote, backslash and backtick
ODD = "it's a\\b`c"


def _comp(*parts):
    return b"".join(struct.pack(">H", len(p)) + p + b"\x00" for p in parts)


def _timeuuid(t):
    return uuid.UUID(fields=(t & 0xFFFFFFFF, (t >> 32) & 0xFFFF,
                             ((t >> 48) & 0x0FFF) | 0x1000, 0x80, 0, 0xC0FFEE)).bytes


def test_cql_rows_quotes_names_and_composes_every_type(spark):
    from aegisthus_spark.compact import compact
    from aegisthus_spark.cql import CQL_TYPES, cql_rows, parse_create_table

    schema = parse_create_table(DDL)
    # the DDL covers every scalar type, with reserved words and mixed case
    assert {c.cql_type for c in schema.columns} >= set(CQL_TYPES)
    assert [c.name for c in schema.columns[:4]] == ["order", "end", "timestamp", "MixedCase"]
    next(c for c in schema.columns if c.name == "v_text").name = ODD
    schema.clustering[0].name = "e`nd"  # a sort key name

    u = uuid.UUID("c87e15e2-d9e5-11ee-8c90-a58e8cb5c9fd")
    ck = struct.pack(">i", -3)
    values = {
        b"timestamp": struct.pack(">q", 1700000000123),
        b"MixedCase": "Grüße".encode(),
        b"v_ascii": b"abc",
        b"v_bigint": struct.pack(">q", 1 << 40),
        b"v_uuid": u.bytes,
        b"v_timeuuid": _timeuuid(7),
        b"v_double": struct.pack(">d", -2.5),
        b"v_float": struct.pack(">f", 1.5),
        b"v_boolean": b"\x01",
        b"v_blob": b"\x00\xff",
        b"v_decimal": struct.pack(">i", 2) + (12345).to_bytes(2, "big"),
        ODD.encode(): b"odd",
        b"fl": struct.pack(">iii", 2, 4, 3) + struct.pack(">ii", 4, 4),
        b"tp": struct.pack(">ii", 4, 7) + struct.pack(">i", 1) + b"t",
    }
    cells = [(_comp(ck, name), value, "c") for name, value in values.items()]
    cells += [
        (_comp(ck, b"v_counter"), struct.pack(">q", 5), "x"),
        # list values order by their timeuuid's time, not by byte order
        (_comp(ck, b"l", _timeuuid(2 << 40)), struct.pack(">i", 2), "c"),
        (_comp(ck, b"l", _timeuuid(1)), struct.pack(">i", 1), "c"),
        (_comp(ck, b"s", b"b"), b"", "c"),
        (_comp(ck, b"s", b"a"), b"", "c"),
        (_comp(ck, b"m", b"k"), struct.pack(">q", 9), "c"),
    ]
    rows = [("f", 1, b"p'1", None, kind, name, None, value, 10, None, None,
             9 if kind == "x" else None)
            for name, value, kind in cells]
    df = spark.createDataFrame(rows, CELLS_SCHEMA)
    wide = cql_rows(compact(df), schema)
    assert wide.columns == [c.name for c in schema.columns]
    assert wide.collect() == [Row(**{
        "order": "p'1",
        "e`nd": -3,
        "timestamp": datetime.datetime.fromtimestamp(1700000000).replace(microsecond=123000),
        "MixedCase": "Grüße",
        "v_ascii": "abc",
        "v_bigint": 1 << 40,
        "v_counter": 5,
        "v_uuid": str(u),
        "v_timeuuid": str(uuid.UUID(bytes=_timeuuid(7))),
        "v_double": -2.5,
        "v_float": 1.5,
        "v_boolean": True,
        "v_blob": bytearray(b"\x00\xff"),
        "v_decimal": Decimal("123.45"),
        ODD: "odd",
        "l": [1, 2],
        "s": ["a", "b"],
        "m": {"k": 9},
        "fl": [3, 4],
        "tp": Row(f0=7, f1="t"),
    })]
