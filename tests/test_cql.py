"""CQL export tests: DDL parsing, composite split, typed compose, and
end-to-end cql_rows() over the reference fixtures (CQLMapper parity, run on
merged cells — stronger than the reference's single-generation map job)."""

import re
import struct

import pytest
from pyspark.sql import functions as F

from tests.conftest import needs_reference
from tests.test_golden import data_files

RANDOMTABLE_DDL = """
CREATE TABLE randomtable (
    key blob PRIMARY KEY,
    guid uuid,
    name text,
    email text,
    words text,
    smallnumber int,
    rfc2822formatteddate timestamp,
    latlong list<blob>
)
"""

RANGETOMBSTONE_DDL = """
CREATE TABLE rangetombstone (
    key text,
    a int,
    columna int,
    columnb int,
    columnc int,
    PRIMARY KEY (key, a)
)
"""


def _compacted(spark, case):
    from aegisthus_spark.compact import cleanse, compact
    from aegisthus_spark.sstable import scan_file
    from tests.conftest import CELLS_SCHEMA

    fields = ("source_path", "generation", "partition_key", "row_deleted_at",
              "kind", "cell_name", "cell_name_max", "value", "ts", "ttl",
              "local_deletion_time", "ts_of_last_delete")
    rows = [
        tuple(c[k] for k in fields)
        for f in data_files(case)
        for c in scan_file(f)
    ]
    return cleanse(compact(spark.createDataFrame(rows, CELLS_SCHEMA)))


def test_split_composite_expr(spark):
    from aegisthus_spark.cql import _split_expr

    # two components: ("ab", int 7) in CompositeType layout
    name = b"\x00\x02ab\x00" + b"\x00\x04" + struct.pack(">i", 7) + b"\x00"
    df = spark.createDataFrame([(name,)], "n binary")
    comps = df.select(F.expr(_split_expr("n", 3)).alias("c")).collect()[0].c
    assert len(comps) == 2
    assert bytes(comps[0]) == b"ab"
    assert struct.unpack(">i", bytes(comps[1]))[0] == 7


def test_compose_values(spark):
    from aegisthus_spark.cql import compose_value

    df = spark.createDataFrame(
        [(struct.pack(">q", 1700000000123), struct.pack(">i", -7),
          bytes.fromhex("c87e15e2d9e511ee8c90a58e8cb5c9fd"), struct.pack(">d", 2.5))],
        "ts binary, i binary, u binary, d binary",
    )
    row = df.select(
        compose_value("ts", "timestamp").alias("ts"),
        compose_value("i", "int").alias("i"),
        compose_value("u", "uuid").alias("u"),
        compose_value("d", "double").alias("d"),
    ).collect()[0]
    assert row.i == -7
    assert row.u == "c87e15e2-d9e5-11ee-8c90-a58e8cb5c9fd"
    assert row.d == 2.5
    assert row.ts.year == 2023


def test_compose_decimal(spark):
    from decimal import Decimal

    from aegisthus_spark.cql import compose_value

    b = struct.pack(">i", 2) + (12345).to_bytes(2, "big")  # scale 2, 12345
    df = spark.createDataFrame([(b,)], "d binary")
    got = df.select(compose_value("d", "decimal").alias("v")).collect()[0].v
    assert got == Decimal("123.45")


def test_compose_decimal_degenerate_payloads_are_null(spark):
    """Payloads without at least one magnitude byte compose to NULL: an
    empty blob matches Cassandra DecimalSerializer's null-for-empty; a
    1-3-byte blob (short scale prefix) and the exactly-4-byte shape
    (scale + EMPTY magnitude — BigInteger(byte[0]) throws) map to NULL
    like the other composes' malformed-width behavior — never a silent
    0."""
    from aegisthus_spark.cql import compose_value

    df = spark.createDataFrame(
        [(b"", b"\x01", b"\x00\x00\x02", struct.pack(">i", 2),
          struct.pack(">i", 1) + b"\x0a")],
        "e binary, one binary, three binary, four binary, ok binary",
    )
    row = df.select(
        *[compose_value(c, "decimal").alias(c)
          for c in ("e", "one", "three", "four", "ok")]
    ).collect()[0]
    assert row.e is None and row.one is None and row.three is None
    assert row.four is None  # scale present but zero-length magnitude
    from decimal import Decimal

    assert row.ok == Decimal("1.0")


@needs_reference
def test_cql_rows_randomtable(spark):
    from aegisthus_spark.cql import cql_rows

    rows = cql_rows(_compacted(spark, "2.0.10/randomtable"), RANDOMTABLE_DDL)
    got = rows.collect()
    assert len(got) == 90  # non-fully-deleted keys (cleanse drops 10)
    types = dict((f.name, f.dataType.simpleString()) for f in rows.schema.fields)
    assert types["key"] == "binary"
    assert types["guid"] == "string"
    assert types["smallnumber"] == "int"
    assert types["rfc2822formatteddate"].startswith("timestamp")
    assert types["latlong"] == "array<binary>"
    uuid_re = re.compile(r"^[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}$")
    for r in got:
        if r.guid is not None:
            assert uuid_re.match(r.guid), r.guid
        if r.latlong is not None:
            assert len(r.latlong) >= 1
    # every row has at least name or words populated text
    assert sum(1 for r in got if r.name) > 0


@needs_reference
def test_cql_rows_rangetombstone(spark):
    from aegisthus_spark.cql import cql_rows

    rows = cql_rows(_compacted(spark, "2.0.10/rangetombstone"), RANGETOMBSTONE_DDL)
    got = rows.collect()
    assert got, "no CQL rows"
    # clustering column decoded as int; range-tombstoned columnb is gone
    for r in got:
        assert isinstance(r.a, int)
        assert r.columnb is None, "columnb should be removed by the range tombstone"
        assert r.columna is not None and r.columnc is not None


def test_cql_rows_static_columns(spark):
    """Synthetic static column: 0xFFFF-prefixed composite name is broadcast
    onto every clustered row of the partition (CQLMapper.java:102-111)."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.cql import cql_rows
    from tests.conftest import CELLS_SCHEMA

    def comp_name(*parts):
        out = b""
        for p in parts:
            out += struct.pack(">H", len(p)) + p + b"\x00"
        return out

    static_name = b"\xff\xff" + comp_name(b"", b"s")  # static marker + empty ck
    rows_in = [
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(struct.pack(">i", 1), b"v"),
         None, struct.pack(">q", 10), 1, None, None, None),
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(struct.pack(">i", 2), b"v"),
         None, struct.pack(">q", 20), 1, None, None, None),
        ("f", 1, b"pk", -(1 << 63), "c", static_name, None, b"stat", 1, None, None, None),
    ]
    cells = spark.createDataFrame(rows_in, CELLS_SCHEMA)
    ddl = "CREATE TABLE t (key blob, ck int, v bigint, s text static, PRIMARY KEY (key, ck))"
    got = cql_rows(compact(cells), ddl).collect()
    assert len(got) == 2
    assert [r.ck for r in got] == [1, 2]
    assert [r.v for r in got] == [10, 20]
    assert all(r.s == "stat" for r in got)


def test_cql_rows_map_and_set_typed(spark):
    """map<text,int>: both keys AND values composed to their declared types
    (reference throws on collections, CQLMapper.java:149-153 — ours types
    them); set<int> elements decoded from the collection key component."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.cql import cql_rows
    from tests.conftest import CELLS_SCHEMA

    def comp_name(*parts):
        out = b""
        for p in parts:
            out += struct.pack(">H", len(p)) + p + b"\x00"
        return out

    ck = struct.pack(">i", 1)
    rows_in = [
        # map m: {'a': 7, 'b': 42}
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"m", b"a"),
         None, struct.pack(">i", 7), 1, None, None, None),
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"m", b"b"),
         None, struct.pack(">i", 42), 1, None, None, None),
        # set s: {5, 9} (element in the collection key, empty value)
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"s", struct.pack(">i", 5)),
         None, b"", 1, None, None, None),
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"s", struct.pack(">i", 9)),
         None, b"", 1, None, None, None),
    ]
    cells = spark.createDataFrame(rows_in, CELLS_SCHEMA)
    ddl = ("CREATE TABLE t (key blob, ck int, m map<text,int>, s set<int>, "
           "PRIMARY KEY (key, ck))")
    rows = cql_rows(compact(cells), ddl)
    types = {f.name: f.dataType.simpleString() for f in rows.schema.fields}
    assert types["m"] == "map<string,int>"
    assert types["s"] == "array<int>"
    got = rows.collect()
    assert len(got) == 1
    assert dict(got[0].m) == {"a": 7, "b": 42}
    assert sorted(got[0].s) == [5, 9]


@pytest.mark.parametrize("version", ["ic", "jb"])
def test_cql_collections_statics_from_real_sstables(spark, tmp_path, version):
    """End-to-end beats-reference feature (CQLMapper.java:149-153 THROWS on
    collections; single-generation only): write two REAL SSTable generations
    with a static column and map/set/list cells, read through the full
    distributed pipeline (source -> compact -> cleanse -> cql_rows), and
    check gen-2 overwrites won inside the typed collections."""
    import uuid as uuidlib

    from aegisthus_spark.compact import cleanse, compact
    from aegisthus_spark.cql import cql_rows
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.writer import serialize_row

    def comp_name(*parts):
        out = b""
        for p in parts:
            out += struct.pack(">H", len(p)) + p + b"\x00"
        return out

    def tuuid(t):
        u = uuidlib.UUID(fields=(
            t & 0xFFFFFFFF, (t >> 32) & 0xFFFF,
            ((t >> 48) & 0x0FFF) | 0x1000, 0x80, 0, 0xC0FFEE))
        return u.bytes

    ck = struct.pack(">i", 1)

    def cell(name, value, ts):
        return {"name": name, "value": value, "ts": ts, "kind": "c",
                "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}

    static_name = b"\xff\xff" + comp_name(b"", b"st")
    gen1 = [
        cell(static_name, b"old-static", 10),
        cell(comp_name(ck, b"m", b"a"), struct.pack(">i", 7), 10),
        cell(comp_name(ck, b"m", b"b"), struct.pack(">i", 42), 10),
        cell(comp_name(ck, b"s", struct.pack(">i", 5)), b"", 10),
        cell(comp_name(ck, b"l", tuuid(1)), struct.pack(">q", 10), 10),
        cell(comp_name(ck, b"l", tuuid(2)), struct.pack(">q", 20), 10),
    ]
    gen2 = [
        cell(static_name, b"new-static", 20),            # static overwrite
        cell(comp_name(ck, b"m", b"b"), struct.pack(">i", 43), 20),  # map overwrite
        cell(comp_name(ck, b"s", struct.pack(">i", 9)), b"", 20),    # set add
    ]
    d = tmp_path / "sst"
    d.mkdir()
    # one real Data.db per generation (distinct generation in the filename)
    for gen, cols in ((1, gen1), (2, gen2)):
        name = f"keyspace-dataset-{version}-{gen}-Data.db"
        with open(d / name, "wb") as f:
            f.write(serialize_row(b"pk1", -(1 << 63), cols, version=version))

    cells = read_sstable_cells(spark, [str(d)])
    rows = cleanse(compact(cells))
    ddl = ("CREATE TABLE t (key blob, ck int, m map<text,int>, s set<int>, "
           "l list<bigint>, st text static, PRIMARY KEY (key, ck))")
    got = cql_rows(rows, ddl).collect()
    assert len(got) == 1
    r = got[0]
    assert bytes(r.key) == b"pk1" and r.ck == 1
    assert dict(r.m) == {"a": 7, "b": 43}       # gen2 value won LWW
    assert sorted(r.s) == [5, 9]                # merged across generations
    assert list(r.l) == [10, 20]                # timeuuid order preserved
    assert r.st == "new-static"                 # static LWW across gens


def test_parse_frozen_and_tuple_ddl():
    """frozen<...> and tuple<...> parse (the reference accepts them via
    Cassandra's QueryProcessor, CFMetadataUtility.java:12-38)."""
    from aegisthus_spark.cql import parse_create_table

    ddl = ("CREATE TABLE t (key blob, fl frozen<list<int>>, fm frozen<map<text,int>>, "
           "fs frozen<set<bigint>>, tp tuple<text, int, double>, fz frozen<int>, "
           "PRIMARY KEY (key))")
    s = parse_create_table(ddl)
    by = {c.name: c for c in s.columns}
    assert by["fl"].frozen and by["fl"].collection == "list" and by["fl"].element_type == "int"
    assert by["fm"].frozen and by["fm"].collection == "map" and by["fm"].value_type == "int"
    assert by["fs"].frozen and by["fs"].collection == "set"
    assert by["tp"].frozen and by["tp"].collection == "tuple"
    assert by["tp"].tuple_types == ["text", "int", "double"]
    assert by["fz"].frozen and by["fz"].collection is None and by["fz"].cql_type == "int"

    with pytest.raises(ValueError, match="unsupported tuple component"):
        parse_create_table("CREATE TABLE t (key blob PRIMARY KEY, x tuple<text, wat>)")


def _frozen_list_blob(elems):
    out = struct.pack(">i", len(elems))
    for e in elems:
        out += struct.pack(">i", len(e)) + e
    return out


def _frozen_map_blob(entries):
    out = struct.pack(">i", len(entries))
    for k, v in entries:
        out += struct.pack(">i", len(k)) + k + struct.pack(">i", len(v)) + v
    return out


def _tuple_blob(comps):
    out = b""
    for c in comps:
        out += struct.pack(">i", -1) if c is None else struct.pack(">i", len(c)) + c
    return out


def test_cql_rows_frozen_collections_and_tuple(spark):
    """frozen collections / tuples arrive as ONE cell blob (v3 wire format:
    i32 count + i32 lengths) and decode JVM-side; LWW picks the newest blob."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.cql import cql_rows
    from tests.conftest import CELLS_SCHEMA

    def comp_name(*parts):
        out = b""
        for p in parts:
            out += struct.pack(">H", len(p)) + p + b"\x00"
        return out

    ck = struct.pack(">i", 1)
    fl_old = _frozen_list_blob([struct.pack(">i", 1)])
    fl_new = _frozen_list_blob([struct.pack(">i", 7), struct.pack(">i", 9)])
    fm = _frozen_map_blob([(b"a", struct.pack(">i", 5)), (b"bc", struct.pack(">i", 6))])
    tp = _tuple_blob([b"hi", struct.pack(">i", 3), None])
    rows_in = [
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"fl"), None, fl_old, 1, None, None, None),
        ("f", 2, b"pk", -(1 << 63), "c", comp_name(ck, b"fl"), None, fl_new, 2, None, None, None),
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"fm"), None, fm, 1, None, None, None),
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"tp"), None, tp, 1, None, None, None),
    ]
    cells = spark.createDataFrame(rows_in, CELLS_SCHEMA)
    ddl = ("CREATE TABLE t (key blob, ck int, fl frozen<list<int>>, "
           "fm frozen<map<text,int>>, tp tuple<text, int, double>, "
           "PRIMARY KEY (key, ck))")
    rows = cql_rows(compact(cells), ddl)
    types = {f.name: f.dataType.simpleString() for f in rows.schema.fields}
    assert types["fl"] == "array<int>"
    assert types["fm"] == "map<string,int>"
    assert types["tp"].startswith("struct<f0:string,f1:int,f2:double")
    got = rows.collect()
    assert len(got) == 1
    r = got[0]
    assert r.fl == [7, 9]  # LWW kept the ts=2 blob
    assert dict(r.fm) == {"a": 5, "bc": 6}
    assert r.tp.f0 == "hi" and r.tp.f1 == 3 and r.tp.f2 is None


def test_cql_rows_frozen_empty_and_null(spark):
    """count=0 frozen blob -> empty collection; absent column -> NULL."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.cql import cql_rows
    from tests.conftest import CELLS_SCHEMA

    def comp_name(*parts):
        out = b""
        for p in parts:
            out += struct.pack(">H", len(p)) + p + b"\x00"
        return out

    ck = struct.pack(">i", 1)
    rows_in = [
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"fl"), None,
         _frozen_list_blob([]), 1, None, None, None),
        # v regular column so the row exists even without fm
        ("f", 1, b"pk", -(1 << 63), "c", comp_name(ck, b"v"), None,
         struct.pack(">q", 5), 1, None, None, None),
    ]
    cells = spark.createDataFrame(rows_in, CELLS_SCHEMA)
    ddl = ("CREATE TABLE t (key blob, ck int, fl frozen<list<int>>, "
           "fm frozen<map<text,int>>, v bigint, PRIMARY KEY (key, ck))")
    got = cql_rows(compact(cells), ddl).collect()
    assert len(got) == 1
    assert got[0].fl == []
    assert got[0].fm is None
    assert got[0].v == 5


def test_parse_with_clause_and_quoted_identifiers():
    """Review regressions: a WITH clause containing parens must parse
    (body extraction is paren-matched, not greedy-regex), and quoted
    identifiers keep case while unquoted ones lowercase."""
    from aegisthus_spark.cql import parse_create_table

    s = parse_create_table(
        'CREATE TABLE t (key blob, ck int, v bigint, PRIMARY KEY (key, ck)) '
        'WITH CLUSTERING ORDER BY (ck DESC) AND compaction = '
        "{'class': 'SizeTieredCompactionStrategy'}"
    )
    assert [c.name for c in s.partition_keys] == ["key"]
    assert [c.name for c in s.clustering] == ["ck"]

    q = parse_create_table(
        'CREATE TABLE t ("Key" blob, "Val" int, other text, PRIMARY KEY ("Key"))'
    )
    names = [c.name for c in q.columns]
    assert names == ["Key", "Val", "other"]  # quoted keep case
    assert [c.name for c in q.partition_keys] == ["Key"]


def test_cql_rows_counter_cells(spark):
    """Counter cells (kind 'x') are live data: a counter column must
    surface its 8-byte total, not silently NULL."""
    import struct

    from pyspark.sql import functions as F

    from aegisthus_spark.cql import cql_rows
    from tests.conftest import CELLS_SCHEMA
    from aegisthus_spark.compact import compact

    name = struct.pack(">H", 4) + b"hits" + b"\x00"  # 1-component composite
    cells = spark.createDataFrame(
        [("f", 1, b"7", -(1 << 63), "x", name, None,
          struct.pack(">q", 42), 100, None, None, 0)],
        CELLS_SCHEMA,
    )
    out = cql_rows(compact(cells), "CREATE TABLE t (key blob PRIMARY KEY, hits counter)")
    row = out.collect()[0]
    assert row.hits == 42
