"""Cassandra 3.x ("ma") big-format decode tests.

The decode path is pinned three ways so a writer/decoder co-bug cannot
self-certify:

1. HAND-WRITTEN Data.db bytes (built field-by-field in the test from the
   public format spec, not via modern_writer) decode to exact cells;
2. writer -> decoder golden roundtrips over every atom kind (markers,
   row/partition/complex deletions, statics, TTLs, collection paths);
3. the decoded cells flow through the UNCHANGED 2.x pipeline
   (read_sstable_cells -> compact -> to_aeg_json) and honor LWW +
   tombstone semantics — the point of the composite-name mapping.
"""

import os
import struct

import pytest

from aegisthus_spark.sstable.modern import (
    DELETION_TIME_EPOCH,
    KIND_EXCL_END_INCL_START_BOUNDARY,
    KIND_INCL_END_BOUND,
    KIND_INCL_START_BOUND,
    LONG_MIN,
    NO_DELETION_LDT,
    SerializationHeader,
    composite,
    parse_serialization_header,
    read_unsigned_vint,
    read_vint,
    scan_data_buffer_rows_modern,
    write_unsigned_vint,
    write_vint,
)
from aegisthus_spark.sstable.modern_writer import (
    UTF8,
    _serialize_header_component,
    write_sstable_ma,
    write_statistics_db,
)

LONG = "org.apache.cassandra.db.marshal.LongType"
INT32 = "org.apache.cassandra.db.marshal.Int32Type"
LIST_UTF8 = f"org.apache.cassandra.db.marshal.ListType({UTF8})"


# ---------------------------------------------------------------------------
# vint codec
# ---------------------------------------------------------------------------

def test_vint_known_encodings():
    # spec: leading-one count of the first byte = number of extra bytes
    assert write_unsigned_vint(0) == b"\x00"
    assert write_unsigned_vint(127) == b"\x7f"
    assert write_unsigned_vint(128) == b"\x80\x80"
    assert write_unsigned_vint(0x3FFF) == b"\xbf\xff"  # 14 bits max in 2 bytes
    assert write_unsigned_vint(0x4000) == b"\xc0\x40\x00"
    assert write_unsigned_vint((1 << 64) - 1) == b"\xff" + b"\xff" * 8
    # negative longs ride the unsigned encoding as their 2^64 complement
    assert write_unsigned_vint(-1) == b"\xff" + b"\xff" * 8


@pytest.mark.parametrize("v", [0, 1, 127, 128, 255, 256, 0x3FFF, 0x4000,
                               1 << 20, 1 << 42, (1 << 56) - 1, 1 << 56,
                               (1 << 63) - 1])
def test_unsigned_vint_roundtrip(v):
    b = write_unsigned_vint(v)
    got, n = read_unsigned_vint(b, 0)
    assert (got, n) == (v, len(b))


@pytest.mark.parametrize("v", [0, -1, 1, -64, 63, 64, -65, 1 << 40, -(1 << 40)])
def test_signed_vint_roundtrip(v):
    b = write_vint(v)
    got, n = read_vint(b, 0)
    assert (got, n) == (v, len(b))


def test_vint_hypothesis_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=0, max_value=(1 << 64) - 1))
    def check(v):
        got, _ = read_unsigned_vint(write_unsigned_vint(v), 0)
        assert got == v

    check()


# ---------------------------------------------------------------------------
# hand-written bytes (independent of modern_writer)
# ---------------------------------------------------------------------------

def test_hand_built_partition_decodes():
    """One partition, one row (pk liveness ts=1000), one UTF8 cell
    ('v' -> 'hi', ts=1001), serialized by hand per the public format."""
    h = SerializationHeader(
        min_timestamp=1000,
        min_local_deletion_time=DELETION_TIME_EPOCH,
        min_ttl=0,
        key_type=UTF8,
        clustering_types=(),
        static_columns=(),
        regular_columns=((b"v", UTF8),),
    )
    body = bytes([
        0x00,              # liveness ts delta (1000 - 1000)
        0x00,              # cell flags: live, has value, own ts
        0x01,              # cell ts delta (1001 - 1000)
        0x02, 0x68, 0x69,  # value: uvint len 2 + "hi"
    ])
    data = (
        struct.pack(">H", 1) + b"k"                       # partition key
        + struct.pack(">i", NO_DELETION_LDT)              # live partition
        + struct.pack(">q", LONG_MIN)
        + bytes([0x24])                                   # HAS_TIMESTAMP|HAS_ALL_COLUMNS
        + bytes([len(body) + 1])                          # body size (+ prev vint)
        + bytes([0x00])                                   # prev size
        + body
        + bytes([0x01])                                   # END_OF_PARTITION
    )
    rows = list(scan_data_buffer_rows_modern(data, source_path="x", header=h))
    assert rows == [
        ("x", 0, b"k", LONG_MIN, "c", b"\x00\x00\x00", None, b"", 1000,
         None, None, None),                               # 2.x row marker
        ("x", 0, b"k", LONG_MIN, "c", b"\x00\x01v\x00", None, b"hi", 1001,
         None, None, None),
    ]


def test_hand_built_statistics_header_parses():
    """Statistics.db TOC + HEADER component built by hand."""
    comp = (
        write_unsigned_vint(5)          # minTimestamp = EPOCH + 5
        + write_unsigned_vint(7)        # minLDT = EPOCH + 7
        + write_unsigned_vint(0)        # minTTL = 0
        + write_unsigned_vint(len(UTF8)) + UTF8.encode()
        + write_unsigned_vint(1)        # one clustering type
        + write_unsigned_vint(len(LONG)) + LONG.encode()
        + write_unsigned_vint(0)        # no statics
        + write_unsigned_vint(1)        # one regular
        + write_unsigned_vint(1) + b"c"
        + write_unsigned_vint(len(UTF8)) + UTF8.encode()
    )
    toc = struct.pack(">i", 2) + struct.pack(">ii", 2, 999) + struct.pack(
        ">ii", 3, 4 + 16
    )
    h = parse_serialization_header(toc + comp)
    assert h.min_timestamp == 1442880000 * 1_000_000 + 5
    assert h.min_local_deletion_time == 1442880000 + 7
    assert h.key_type == UTF8
    assert h.clustering_types == (LONG,)
    assert h.regular_columns == ((b"c", UTF8),)


# ---------------------------------------------------------------------------
# writer -> decoder roundtrips
# ---------------------------------------------------------------------------

def _decode_dir(path):
    from aegisthus_spark.sstable.modern import header_for_data_file

    with open(path, "rb") as f:
        data = f.read()
    return list(
        scan_data_buffer_rows_modern(
            data, source_path=path, generation=1,
            header=header_for_data_file(path),
        )
    )


def test_roundtrip_all_atom_kinds(tmp_path):
    parts = [
        {"key": b"alice", "rows": [
            {"clustering": [b"2020"], "liveness": (1000,),
             "cells": [{"column": b"name", "value": b"Alice"},
                       {"column": b"score",
                        "value": (42).to_bytes(8, "big"), "ts": 1001}]},
            {"clustering": [b"2021"], "liveness": (2000, 600, 1442880600),
             "cells": [{"column": b"name", "value": b"A2"}]},
        ]},
        {"key": b"bob", "deletion": (500, 1442880100), "rows": []},
        {"key": b"carol", "rows": [
            {"marker": KIND_INCL_START_BOUND, "clustering": [b"2019"],
             "deletion": (1500, 1442880200)},
            {"marker": KIND_INCL_END_BOUND, "clustering": [b"2020"],
             "deletion": (1500, 1442880200)},
            {"clustering": [b"2022"], "deletion": (1700, 1442880300),
             "cells": []},
            {"clustering": [b"2023"], "liveness": (1800,),
             "cells": [{"column": b"name", "value": b"", "deleted": 1442880400,
                        "ts": 1801}]},
        ]},
    ]
    path = write_sstable_ma(
        str(tmp_path), parts, clustering_types=[UTF8],
        regular_columns=[(b"name", UTF8), (b"score", LONG)],
    )
    rows = _decode_dir(path)
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r[4], []).append(r)
    # alice 2020: marker + 2 cells, all carrying the right composites
    assert rows[0][5] == composite([b"2020", b""])
    assert rows[1][5] == composite([b"2020", b"name"]) and rows[1][7] == b"Alice"
    assert rows[2][5] == composite([b"2020", b"score"]) and rows[2][8] == 1001
    # TTL'd row marker
    e = by_kind["e"][0]
    assert (e[8], e[9], e[10]) == (2000, 600, 1442880600)
    # empty partition with deletion survives as 'r' with the tombstone
    r_row = by_kind["r"][0]
    assert (r_row[2], r_row[3]) == (b"bob", 500)
    # RT marker pair and 3.x row tombstone both land as 't' ranges
    rts = by_kind["t"]
    assert (rts[0][5], rts[0][6]) == (
        composite([b"2019"], eoc=0x00), composite([b"2020"], eoc=0x01))
    assert (rts[0][8], rts[0][10]) == (1500, 1442880200)
    assert (rts[1][5], rts[1][6]) == (
        composite([b"2022"], eoc=0x00), composite([b"2022"], eoc=0x01))
    # deleted cell: 2.x DeletedColumn value payload = i32 ldt
    d = by_kind["d"][0]
    assert d[5] == composite([b"2023", b"name"])
    assert d[7] == struct.pack(">i", 1442880400) and d[10] == 1442880400


def test_roundtrip_static_and_complex(tmp_path):
    parts = [
        {"key": b"k1", "rows": [
            {"static": True, "cells": [
                {"column": b"s", "value": b"static-v", "ts": 100}]},
            {"clustering": [b"c1"], "liveness": (200,),
             "cells": [
                 {"column": b"tags", "path": b"p1", "value": b"x", "ts": 201},
                 {"column": b"tags", "path": b"p2", "value": b"y", "ts": 202,
                  "complex_deletion": (199, 1442880050)},
             ]},
        ]},
    ]
    path = write_sstable_ma(
        str(tmp_path), parts, clustering_types=[UTF8],
        static_columns=[(b"s", UTF8)],
        regular_columns=[(b"tags", LIST_UTF8)],
    )
    rows = _decode_dir(path)
    kinds = [r[4] for r in rows]
    assert kinds == ["c", "c", "t", "c", "c"]  # static, marker, cplx del, 2 cells
    static_cell = rows[0]
    # static composites keep an empty slot per clustering column
    assert static_cell[5] == composite([b"", b"s"], static=True)
    assert static_cell[5][:2] == b"\xff\xff"
    assert static_cell[7] == b"static-v"
    rt = rows[2]
    assert rt[5] == composite([b"c1", b"tags"], eoc=0x00)
    assert rt[6] == composite([b"c1", b"tags"], eoc=0x01)
    assert (rt[8], rt[10]) == (199, 1442880050)
    p1 = rows[3]
    assert p1[5] == composite([b"c1", b"tags", b"p1"]) and p1[7] == b"x"
    # complex deletion RANGE covers both path cells (inclusive byte range)
    for cell in (rows[3], rows[4]):
        assert rt[5] <= cell[5] <= rt[6]


def test_roundtrip_boundary_marker(tmp_path):
    parts = [
        {"key": b"k", "rows": [
            {"marker": KIND_INCL_START_BOUND, "clustering": [b"a"],
             "deletion": (10, 1442880001)},
            {"marker": KIND_EXCL_END_INCL_START_BOUNDARY, "clustering": [b"m"],
             "deletion": (10, 1442880001), "deletion2": (20, 1442880002)},
            {"marker": KIND_INCL_END_BOUND, "clustering": [b"z"],
             "deletion": (20, 1442880002)},
        ]},
    ]
    path = write_sstable_ma(
        str(tmp_path), parts, clustering_types=[UTF8],
        regular_columns=[(b"v", UTF8)],
    )
    rows = _decode_dir(path)
    assert [r[4] for r in rows] == ["t", "t"]
    # the EXCL_END half of the boundary closes at the BARE prefix
    # (eoc 0x00: below every m-cell name), the INCL_START half opens
    # inclusively at the same prefix
    assert (rows[0][5], rows[0][6], rows[0][8]) == (
        composite([b"a"], eoc=0x00), composite([b"m"], eoc=0x00), 10)
    assert (rows[1][5], rows[1][6], rows[1][8]) == (
        composite([b"m"], eoc=0x00), composite([b"z"], eoc=0x01), 20)


def test_fixed_size_types_and_column_subset(tmp_path):
    """Fixed-width values serialize raw (no length prefix); a row holding
    a strict column subset exercises the missing-column bitmap."""
    parts = [
        {"key": b"k", "rows": [
            {"clustering": [(7).to_bytes(8, "big")], "liveness": (100,),
             "cells": [{"column": b"a", "value": (1).to_bytes(4, "big")}]},
            {"clustering": [(8).to_bytes(8, "big")], "liveness": (100,),
             "cells": [{"column": b"a", "value": (2).to_bytes(4, "big")},
                       {"column": b"b", "value": b"bb"}]},
        ]},
    ]
    path = write_sstable_ma(
        str(tmp_path), parts, clustering_types=[LONG],
        regular_columns=[(b"a", INT32), (b"b", UTF8)],
    )
    rows = _decode_dir(path)
    cells = [r for r in rows if r[5] and len(r[5]) > len(composite([b"x" * 8, b""]))
             or (r[7] not in (b"", None))]
    # row 7: marker + a only; row 8: marker + a + b
    names = [r[5] for r in rows]
    assert composite([(7).to_bytes(8, "big"), b"a"]) in names
    assert composite([(8).to_bytes(8, "big"), b"b"]) in names
    a7 = next(r for r in rows if r[5] == composite([(7).to_bytes(8, "big"), b"a"]))
    assert a7[7] == (1).to_bytes(4, "big")


# ---------------------------------------------------------------------------
# through the Spark source + 2.x pipeline
# ---------------------------------------------------------------------------

def _fixture_dir(tmp_path, n_keys=40, gen=1, ts=1000, val=b"v1"):
    parts = [
        {"key": f"k{i:04d}".encode(), "rows": [
            {"clustering": [b"c1"], "liveness": (ts,),
             "cells": [{"column": b"val", "value": val, "ts": ts + 1}]},
        ]}
        for i in range(n_keys)
    ]
    return write_sstable_ma(
        str(tmp_path), parts, clustering_types=[UTF8],
        regular_columns=[(b"val", UTF8)], generation=gen,
    )


def test_spark_source_reads_ma(spark, tmp_path):
    from aegisthus_spark.sources import read_sstable_cells

    _fixture_dir(tmp_path)
    cells = read_sstable_cells(spark, [str(tmp_path)])
    assert cells.count() == 80  # marker + cell per key
    got = {bytes(r.partition_key) for r in cells.select("partition_key").distinct().collect()}
    assert got == {f"k{i:04d}".encode() for i in range(40)}


def test_ma_split_planning_covers_all_rows(tmp_path):
    """Index.db (vint entries) drives split planning; the union of split
    decodes equals the whole-file decode."""
    from aegisthus_spark.sources.sstable_source import _plan_one
    from aegisthus_spark.sstable.modern import scan_data_buffer_rows_modern

    path = _fixture_dir(tmp_path, n_keys=60)
    whole = list(scan_data_buffer_rows_modern(
        open(path, "rb").read(), version="ma", source_path=path))
    size = os.path.getsize(path)
    splits = _plan_one(path, target_bytes=max(128, size // 5))
    assert len(splits) > 1, "fixture too small to split"
    data = open(path, "rb").read()
    pieces = []
    for (_p, s, e, version, _g, _c) in splits:
        assert version == "ma"
        pieces += list(scan_data_buffer_rows_modern(
            data, version="ma", start=s, end=e, source_path=path))
    assert pieces == whole


def test_ma_multi_generation_lww_compacts(spark, tmp_path):
    """Two ma generations merge under 2.x LWW compaction untouched."""
    from aegisthus_spark.compact import compact, compacted_to_cells
    from aegisthus_spark.sources import read_sstable_cells

    d1 = tmp_path / "g1"
    d2 = tmp_path / "g2"
    _fixture_dir(d1, n_keys=10, gen=1, ts=1000, val=b"old")
    _fixture_dir(d2, n_keys=10, gen=2, ts=2000, val=b"new")
    cells = read_sstable_cells(spark, [str(d1), str(d2)])
    out = compacted_to_cells(compact(cells))
    vals = {
        bytes(r.value)
        for r in out.filter("cell_name like '%val%'").collect()
        if r.value is not None
    }
    assert vals == {b"new"}


def test_ma_row_tombstone_shadows_older_cells(spark, tmp_path):
    """A 3.x row deletion (mapped to a 2.x RT) drops older cells of that
    clustering through the unchanged compact() J2 logic."""
    from aegisthus_spark.compact import compact, compacted_to_cells
    from aegisthus_spark.sources import read_sstable_cells

    d1 = tmp_path / "g1"
    d2 = tmp_path / "g2"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"c1"], "liveness": (1000,),
             "cells": [{"column": b"val", "value": b"doomed"}]},
            {"clustering": [b"c2"], "liveness": (1000,),
             "cells": [{"column": b"val", "value": b"survivor"}]},
        ]}],
        clustering_types=[UTF8], regular_columns=[(b"val", UTF8)], generation=1,
    )
    write_sstable_ma(
        str(d2),
        [{"key": b"k", "rows": [
            {"clustering": [b"c1"], "deletion": (5000, 1442880500), "cells": []},
        ]}],
        clustering_types=[UTF8], regular_columns=[(b"val", UTF8)], generation=2,
    )
    cells = read_sstable_cells(spark, [str(d1), str(d2)])
    out = compacted_to_cells(compact(cells))
    vals = {bytes(r.value) for r in out.collect() if r.value not in (None, b"")}
    assert b"survivor" in vals and b"doomed" not in vals


def test_ma_corrupt_skip_sentinel(spark, tmp_path):
    from aegisthus_spark.sources import read_sstable_cells

    path = _fixture_dir(tmp_path)
    with open(path, "r+b") as f:
        # +7 lands mid-partition (the fixture's partitions are identically
        # sized, so an exact half would be a clean partition boundary)
        f.truncate(os.path.getsize(path) // 2 + 7)
    cells = read_sstable_cells(spark, [str(tmp_path)], skip_corrupt=True)
    kinds = {r.kind for r in cells.select("kind").distinct().collect()}
    assert "!" in kinds


def test_descriptor_and_header_sidecar(tmp_path):
    from aegisthus_spark.sstable.descriptor import parse_filename, version_of
    from aegisthus_spark.sstable.modern import header_for_data_file

    path = _fixture_dir(tmp_path)
    assert version_of(path) == "ma"
    d = parse_filename(path)
    assert d.generation == 1
    assert d.sibling("Statistics.db") == "ma-1-big-Statistics.db"
    h = header_for_data_file(path)
    assert h.regular_columns == ((b"val", UTF8),)
    assert h.clustering_types == (UTF8,)


def test_infer_cql_schema_from_header(tmp_path):
    """3.x headers are self-describing: CqlSchema without user DDL."""
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        infer_cql_schema,
        parse_marshal,
    )

    path = _fixture_dir(tmp_path)
    s = infer_cql_schema(header_for_data_file(path))
    by_name = {c.name: c for c in s.columns}
    assert by_name["key"].kind == "partition_key"
    assert by_name["key"].cql_type == "text"
    assert by_name["ck0"].kind == "clustering"
    assert by_name["val"].kind == "regular" and by_name["val"].cql_type == "text"
    # collection + frozen + composite-key handling
    assert parse_marshal(LIST_UTF8) == ("ListType", [UTF8])
    comp_key = f"org.apache.cassandra.db.marshal.CompositeType({UTF8},{LONG})"
    from aegisthus_spark.sstable.modern import SerializationHeader

    h = SerializationHeader(
        min_timestamp=0, min_local_deletion_time=0, min_ttl=0,
        key_type=comp_key, clustering_types=(),
        regular_columns=(
            (b"tags", LIST_UTF8),
            (b"frozen_tags",
             f"org.apache.cassandra.db.marshal.FrozenType({LIST_UTF8})"),
        ),
    )
    s2 = infer_cql_schema(h)
    by2 = {c.name: c for c in s2.columns}
    assert [c.name for c in s2.partition_keys] == ["pk0", "pk1"]
    assert by2["pk1"].cql_type == "bigint"
    assert by2["tags"].collection == "list" and not by2["tags"].frozen
    assert by2["frozen_tags"].frozen


def test_cql_rows_from_inferred_schema(spark, tmp_path):
    """Full no-DDL path: ma files -> typed rows, statics broadcast."""
    from aegisthus_spark.compact import cleanse, compact
    from aegisthus_spark.cql import cql_rows
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        infer_cql_schema,
    )

    path = write_sstable_ma(
        str(tmp_path),
        [{"key": b"p1", "rows": [
            {"static": True, "cells": [
                {"column": b"owner", "value": b"zoe", "ts": 5}]},
            {"clustering": [b"c1"], "liveness": (10,),
             "cells": [{"column": b"n", "value": (7).to_bytes(8, "big")}]},
        ]}],
        clustering_types=[UTF8], static_columns=[(b"owner", UTF8)],
        regular_columns=[(b"n", LONG)],
    )
    schema = infer_cql_schema(header_for_data_file(path))
    cells = read_sstable_cells(spark, [str(tmp_path)])
    rows = cql_rows(cleanse(compact(cells)), schema).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.key, r.ck0, r.n, r.owner) == ("p1", "c1", 7, "zoe")


def test_ma_compressed_matches_uncompressed(spark, tmp_path):
    """Deflate-chunked ma Data.db + CompressionInfo.db decodes to exactly
    the uncompressed cells through the distributed source (3.x clusters
    compress by default, so this is the realistic on-disk shape)."""
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.compression import find_compression_sidecar

    plain_dir = tmp_path / "plain"
    comp_dir = tmp_path / "comp"
    parts = [
        {"key": f"k{i:03d}".encode(), "rows": [
            {"clustering": [b"c1"], "liveness": (1000 + i,),
             "cells": [{"column": b"val", "value": (b"v%d" % i) * 30}]},
        ]}
        for i in range(50)
    ]
    kw = dict(clustering_types=[UTF8], regular_columns=[(b"val", UTF8)])
    _fixture = write_sstable_ma(str(plain_dir), parts, **kw)
    comp_path = write_sstable_ma(
        str(comp_dir), parts, compress=True, chunk_length=512, **kw
    )
    assert find_compression_sidecar(comp_path) is not None

    def rows(d):
        return sorted(
            (bytes(r.partition_key), bytes(r.cell_name) if r.cell_name else None,
             bytes(r.value) if r.value is not None else None, r.ts)
            for r in read_sstable_cells(spark, [str(d)]).collect()
        )

    assert rows(comp_dir) == rows(plain_dir)
    assert len(rows(comp_dir)) == 100  # marker + cell per key


def test_nb_zstd_compressed_matches_uncompressed(spark, tmp_path):
    """Zstd-chunked 4.0 (nb) Data.db + CompressionInfo.db decodes to
    exactly the uncompressed cells through the distributed source —
    Cassandra >= 4.0 ships ZstdCompressor, so the na/nb decode claim has
    to hold for it; each chunk is a standard zstd frame. Small chunks
    force MANY chunks so row-spanning chunk boundaries and the chunk-map
    random access are really exercised."""
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.compression import (
        CompressionInfo,
        decompress_chunk,
        find_compression_sidecar,
    )

    plain_dir = tmp_path / "plain"
    comp_dir = tmp_path / "comp"
    parts = [
        {"key": f"k{i:03d}".encode(), "rows": [
            {"clustering": [b"c1"], "liveness": (1000 + i,),
             "cells": [{"column": b"val", "value": (b"v%d" % i) * 30}]},
        ]}
        for i in range(50)
    ]
    kw = dict(clustering_types=[UTF8], regular_columns=[(b"val", UTF8)],
              version="nb")
    write_sstable_ma(str(plain_dir), parts, **kw)
    comp_path = write_sstable_ma(
        str(comp_dir), parts, compress=True, chunk_length=512,
        compressor="ZstdCompressor", **kw
    )
    sidecar = find_compression_sidecar(comp_path)
    assert sidecar is not None
    info = CompressionInfo.read_path(sidecar)
    assert info.compressor == "ZstdCompressor"
    assert len(info.chunk_offsets) > 3  # multi-chunk by construction
    # chunk-level: a single frame round-trips through decompress_chunk
    off, clen = info.chunk_ranges(os.path.getsize(comp_path))[0]
    with open(comp_path, "rb") as f:
        f.seek(off)
        frame = f.read(clen)
    assert len(decompress_chunk("ZstdCompressor", frame,
                                info.chunk_length)) == info.chunk_length

    def rows(d):
        return sorted(
            (bytes(r.partition_key), bytes(r.cell_name) if r.cell_name else None,
             bytes(r.value) if r.value is not None else None, r.ts)
            for r in read_sstable_cells(spark, [str(d)]).collect()
        )

    assert rows(comp_dir) == rows(plain_dir)
    assert len(rows(comp_dir)) == 100  # marker + cell per key


def test_mb_mc_version_variants_decode(spark, tmp_path):
    """mb/mc (3.0.7+/3.0.8+) change only Statistics metadata the scan
    doesn't read; the row format is ma's, so renamed components decode
    identically through version-gated dispatch. na/nb/nc (4.0/4.1) keep
    the 3.0 row format but CHECKSUM the Statistics metadata
    (MetadataSerializer hasMetadataChecksum), and oa (5.0) additionally
    switches partition DeletionTime to the unsigned-int encoding — those
    are written per-version by the writer, exercising the real layouts
    (no real Cassandra-written 4.x/5.0 file exists in this environment,
    so 4.x/5.0 coverage is format-analysis + layout round-trip plus the
    hand-placed external fixtures, not a Cassandra golden)."""
    import shutil

    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.descriptor import version_of

    src = tmp_path / "ma"
    _fixture_dir(src, n_keys=10)
    for version in ("mb", "mc"):
        d = tmp_path / version
        d.mkdir()
        for comp in ("Data", "Index", "Statistics"):
            shutil.copy(
                src / f"ma-1-big-{comp}.db", d / f"{version}-1-big-{comp}.db"
            )
        path = str(d / f"{version}-1-big-Data.db")
        assert version_of(path) == version
        assert read_sstable_cells(spark, [str(d)]).count() == 20
    for version in ("na", "nb", "nc", "oa"):
        d = tmp_path / version
        parts = [
            {"key": f"k{i:04d}".encode(), "rows": [
                {"clustering": [b"c1"], "liveness": (1000,),
                 "cells": [{"column": b"val", "value": b"v1", "ts": 1001}]},
            ]}
            for i in range(10)
        ]
        path = write_sstable_ma(
            str(d), parts, clustering_types=[UTF8],
            regular_columns=[(b"val", UTF8)], version=version,
        )
        assert version_of(path) == version
        assert read_sstable_cells(spark, [str(d)]).count() == 20


def test_na_statistics_checksums_validated(tmp_path):
    """A flipped byte anywhere in a checksummed (4.0+) Statistics.db must
    fail CRC validation — and the same bytes parsed as 'ma' (no
    checksums) must NOT accidentally parse, proving the layout really is
    version-gated rather than sniffed."""
    import pytest

    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        parse_serialization_header,
    )

    path = _fixture_dir(tmp_path, n_keys=3)
    import os
    import shutil

    d = tmp_path / "na"
    d.mkdir()
    for comp in ("Data", "Index"):
        shutil.copy(
            tmp_path / f"ma-1-big-{comp}.db", d / f"na-1-big-{comp}.db"
        )
    from aegisthus_spark.sstable.modern_writer import write_statistics_db

    h = header_for_data_file(path)
    stats_na = d / "na-1-big-Statistics.db"
    write_statistics_db(str(stats_na), h, version="na")
    assert header_for_data_file(str(d / "na-1-big-Data.db")) == h

    raw = bytearray(stats_na.read_bytes())
    for pos in (2, 9, len(raw) - 2):  # count, TOC, component body
        mut = bytearray(raw)
        mut[pos] ^= 0xFF
        stats_na.write_bytes(bytes(mut))
        with pytest.raises(ValueError, match="CRC mismatch"):
            header_for_data_file(str(d / "na-1-big-Data.db"))
    stats_na.write_bytes(bytes(raw))

    # ma-layout stats under an na name: CRC validation rejects it (the
    # pre-4.0 layout has TOC ints where the checksums would sit)
    shutil.copy(tmp_path / "ma-1-big-Statistics.db", stats_na)
    with pytest.raises(ValueError):
        header_for_data_file(str(d / "na-1-big-Data.db"))


def test_oa_post_2038_ldt_saturates(tmp_path):
    """5.0 deletion times past 2038 (the whole point of CASSANDRA-14227)
    decode with exact mfda and an int32-saturated ldt in the canonical
    cell schema; a live partition's 0xFFFFFFFF sentinel reads as live."""
    from aegisthus_spark.sstable.modern import (
        INT32_MAX,
        LONG_MIN,
        header_for_data_file,
        scan_data_buffer_rows_modern,
    )

    ldt_2100 = 4_102_444_800  # 2100-01-01 UTC, > INT32_MAX
    ts = 4_102_444_800_000_000
    parts = [
        {"key": b"k1", "deletion": (ts, ldt_2100), "rows": []},
        {"key": b"k2", "rows": [
            {"clustering": [b"a"], "deletion": (ts + 1, ldt_2100 + 5),
             "cells": []},
            {"clustering": [b"b"], "liveness": (ts + 2,),
             "cells": [{"column": b"val", "value": b"x", "ts": ts + 3,
                        "deleted": ldt_2100 + 9}]},
        ]},
    ]
    path = write_sstable_ma(
        str(tmp_path), parts, clustering_types=[UTF8],
        regular_columns=[(b"val", UTF8)], version="oa",
    )
    rows = list(scan_data_buffer_rows_modern(
        open(path, "rb").read(), source_path=path,
        header=header_for_data_file(path), version="oa",
    ))
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r[4], []).append(r)
    # deleted empty partition: exact mfda
    (p1,) = by_kind["r"]
    assert p1[2] == b"k1" and p1[3] == ts
    # row tombstone: exact mfda, saturated ldt
    (rt,) = by_kind["t"]
    assert rt[8] == ts + 1 and rt[10] == INT32_MAX
    # cell tombstone: saturated ldt in both the field and the i32 value
    (dc,) = by_kind["d"]
    assert dc[8] == ts + 3 and dc[10] == INT32_MAX
    assert dc[7] == (INT32_MAX).to_bytes(4, "big")
    # live rows from the k2 partition carry no partition deletion
    assert all(r[3] == LONG_MIN for r in by_kind["c"])


# ---------------------------------------------------------------------------
# property fuzzing: random partitions survive writer -> decoder -> compact
# ---------------------------------------------------------------------------

def test_ma_roundtrip_hypothesis(tmp_path):
    """Random partition sets (mixed liveness/TTL/deletions/statics/paths)
    round-trip through writer -> decoder with per-cell field fidelity."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    key_st = st.binary(min_size=1, max_size=12)
    ck_st = st.binary(min_size=0, max_size=8)
    ts_st = st.integers(min_value=1_500_000_000_000_000,
                        max_value=1_700_000_000_000_000)
    ldt_st = st.integers(min_value=1_500_000_000, max_value=1_600_000_000)

    cell_st = st.fixed_dictionaries(
        {"column": st.sampled_from([b"a", b"b"]),
         "value": st.binary(max_size=16),
         "ts": ts_st},
        optional={"deleted": ldt_st,
                  "expiring": st.tuples(st.integers(1, 1 << 20), ldt_st)},
    )

    def clean_cell(c):
        c = dict(c)
        if "deleted" in c and "expiring" in c:
            del c["expiring"]  # a cell is deleted OR expiring, not both
        return c

    row_st = st.fixed_dictionaries(
        {"clustering": st.lists(ck_st, min_size=1, max_size=1),
         "cells": st.lists(cell_st.map(clean_cell), max_size=3,
                           unique_by=lambda c: c["column"])},
        optional={"liveness": st.tuples(ts_st),
                  "deletion": st.tuples(ts_st, ldt_st)},
    )

    part_st = st.fixed_dictionaries(
        {"key": key_st,
         # unique clustering per partition: duplicate clusterings would
         # make the per-cell fidelity lookup below ambiguous
         "rows": st.lists(row_st, max_size=3,
                          unique_by=lambda r: r["clustering"][0])},
        optional={"deletion": st.tuples(ts_st, ldt_st)},
    )

    counter = [0]

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(part_st, min_size=1, max_size=4,
                    unique_by=lambda p: p["key"]))
    def check(parts):
        counter[0] += 1
        d = tmp_path / f"case{counter[0]}"
        path = write_sstable_ma(
            str(d), parts, clustering_types=[UTF8],
            regular_columns=[(b"a", UTF8), (b"b", UTF8)],
        )
        rows = _decode_dir(path)
        # every partition is represented
        assert {r[2] for r in rows} == {p["key"] for p in parts}
        for p in parts:
            prows = [r for r in rows if r[2] == p["key"]]
            want_deleted = p.get("deletion", (LONG_MIN,))[0]
            assert all(r[3] == want_deleted for r in prows)
            n_cells = sum(len(r.get("cells", [])) for r in p["rows"])
            n_markers = sum(1 for r in p["rows"] if r.get("liveness"))
            n_rowdel = sum(1 for r in p["rows"] if r.get("deletion"))
            if n_cells + n_markers + n_rowdel == 0:
                assert [r[4] for r in prows] == ["r"]
            else:
                assert len(prows) == n_cells + n_markers + n_rowdel
                # field fidelity for plain live cells with explicit ts
                for row in p["rows"]:
                    for c in row["cells"]:
                        if "deleted" in c or "expiring" in c or not c["value"]:
                            continue
                        name = composite(
                            [row["clustering"][0], c["column"]])
                        got = [r for r in prows if r[5] == name]
                        assert got and got[0][7] == c["value"]
                        assert got[0][8] == c["ts"]

    check()


def test_ma_feeds_incremental_snapshot(spark, tmp_path):
    """3.x decode composes with the streaming incremental snapshot: two
    ma generations arriving as cell batches converge to the one-shot
    compaction (format-agnostic cells are the contract)."""
    from pyspark.sql import functions as F

    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import to_aeg_json
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.streaming.incremental import (
        read_snapshot,
        start_incremental_snapshot,
        strip_range_tombstones,
    )

    d1, d2 = tmp_path / "g1", tmp_path / "g2"
    _fixture_dir(d1, n_keys=8, gen=1, ts=1000, val=b"old")
    _fixture_dir(d2, n_keys=8, gen=2, ts=2000, val=b"new")
    cells_dir = tmp_path / "cells"
    for i, d in enumerate((d1, d2)):
        read_sstable_cells(spark, [str(d)]).coalesce(1).write.parquet(
            str(cells_dir / f"batch{i}.parquet")
        )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = start_incremental_snapshot(
            spark, str(cells_dir), str(tmp_path / "snap"),
            str(tmp_path / "ckpt"), max_files_per_trigger=1,
            available_now=True,
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    final = strip_range_tombstones(read_snapshot(spark, str(tmp_path / "snap")))
    got = sorted(r.value for r in to_aeg_json(final).collect())
    oneshot = sorted(
        r.value
        for r in to_aeg_json(
            compact(read_sstable_cells(spark, [str(d1), str(d2)]))
        ).collect()
    )
    assert got == oneshot


def test_job_cli_runs_on_ma_dir(spark, tmp_path):
    """The reference-shaped CLI ingests a 3.x directory end-to-end."""
    import json

    from aegisthus_spark import job

    _fixture_dir(tmp_path / "in", n_keys=5)
    out = tmp_path / "out"
    job.main([
        "--input-dir", str(tmp_path / "in"),
        "--output", str(out),
    ])
    lines = []
    for p in out.glob("part-*"):
        lines += p.read_text().splitlines()
    assert len(lines) == 5
    for ln in lines:
        key_hex, js = ln.split("\t", 1)
        assert key_hex in json.loads(js)


def test_cparse_ma_parity_fixture():
    """C scanner output is table-identical to the Python decoder on the
    checked-in fixture (statics, TTLs, lists, tombstones, markers)."""
    import pyarrow as pa

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import (
        scan_data_buffer_batches as py_scan,
    )

    if not cparse.available():
        pytest.skip("no C compiler on host")
    for gen in (1, 2):
        path = f"tests/fixtures/ma/gen{gen}/ma-{gen}-big-Data.db"
        data = open(path, "rb").read()
        c_tab = pa.Table.from_batches(list(cparse.scan_data_buffer_batches(
            data, version="ma", source_path=path, generation=gen)))
        p_tab = pa.Table.from_batches(list(py_scan(
            data, version="ma", source_path=path, generation=gen)))
        assert c_tab.equals(p_tab), f"gen{gen} C/Python divergence"


def test_cparse_ma_parity_hypothesis(tmp_path):
    """Random writer outputs: C == Python, cell for cell."""
    import pyarrow as pa
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import (
        scan_data_buffer_batches as py_scan,
    )

    if not cparse.available():
        pytest.skip("no C compiler on host")

    ts_st = st.integers(min_value=1_500_000_000_000_000,
                        max_value=1_700_000_000_000_000)
    ldt_st = st.integers(min_value=1_500_000_000, max_value=1_600_000_000)
    cell_st = st.fixed_dictionaries(
        {"column": st.sampled_from([b"a", b"b", b"tags"]),
         "value": st.binary(max_size=20),
         "ts": ts_st},
        optional={"deleted": ldt_st,
                  "expiring": st.tuples(st.integers(1, 1 << 20), ldt_st)},
    )

    def clean(c):
        c = dict(c)
        if "deleted" in c and "expiring" in c:
            del c["expiring"]
        if c["column"] == b"tags":
            c["path"] = c["value"][:8] or b"\x01"
        return c

    row_st = st.fixed_dictionaries(
        {"clustering": st.lists(st.binary(max_size=6), min_size=1, max_size=1),
         "cells": st.lists(cell_st.map(clean), max_size=4,
                           unique_by=lambda c: (c["column"], c.get("path")))},
        optional={"liveness": st.tuples(ts_st),
                  "deletion": st.tuples(ts_st, ldt_st)},
    )
    part_st = st.fixed_dictionaries(
        {"key": st.binary(min_size=1, max_size=10),
         "rows": st.lists(row_st, max_size=3,
                          unique_by=lambda r: r["clustering"][0])},
        optional={"deletion": st.tuples(ts_st, ldt_st)},
    )

    counter = [0]

    @settings(max_examples=30, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(part_st, min_size=1, max_size=3,
                    unique_by=lambda p: p["key"]))
    def check(parts):
        counter[0] += 1
        d = tmp_path / f"p{counter[0]}"
        path = write_sstable_ma(
            str(d), parts, clustering_types=[UTF8],
            regular_columns=[(b"a", UTF8), (b"b", UTF8),
                             (b"tags", LIST_UTF8)],
        )
        data = open(path, "rb").read()
        c_tab = pa.Table.from_batches(list(cparse.scan_data_buffer_batches(
            data, version="ma", source_path=path)))
        p_tab = pa.Table.from_batches(list(py_scan(
            data, version="ma", source_path=path)))
        assert c_tab.equals(p_tab)

    check()


def test_cparse_ma_truncation_detects(tmp_path):
    """Truncated ma input: both engines flag corruption (the C path drops
    the broken partition whole, the Python path may keep its decoded
    prefix — both end with the sentinel under skip_corrupt)."""
    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import (
        scan_data_buffer_batches as py_scan,
    )

    if not cparse.available():
        pytest.skip("no C compiler on host")
    path = _fixture_dir(tmp_path, n_keys=10)
    data = open(path, "rb").read()
    part = len(data) // 10  # identical partitions; cut INSIDE one (a cut
    # on a boundary with a <2-byte tail is clean EOF in both engines)
    for cut in (part * 2 + part // 2, part * 5 + 3, len(data) - 3):
        chopped = data[:cut]
        for scan in (cparse.scan_data_buffer_batches, py_scan):
            batches = list(scan(chopped, version="ma", source_path=path,
                                skip_corrupt=True))
            kinds = [k for b in batches for k in b.column("kind").to_pylist()]
            assert kinds.count("!") == 1, (scan, cut)


def test_cparse_ma_parity_static_complex(tmp_path):
    """C == Python on the shapes the fixture lacks: static rows, complex
    (list) cells with paths, complex deletion, boundary markers."""
    import pyarrow as pa

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import (
        scan_data_buffer_batches as py_scan,
    )

    if not cparse.available():
        pytest.skip("no C compiler on host")
    parts = [
        {"key": b"k1", "rows": [
            {"static": True, "cells": [
                {"column": b"s", "value": b"static-v", "ts": 100}]},
            {"clustering": [b"c1"], "liveness": (200,),
             "cells": [
                 {"column": b"tags", "path": b"p1", "value": b"x", "ts": 201},
                 {"column": b"tags", "path": b"p2", "value": b"y", "ts": 202,
                  "complex_deletion": (199, 1442880050)},
             ]},
        ]},
        {"key": b"k2", "rows": [
            {"marker": KIND_INCL_START_BOUND, "clustering": [b"a"],
             "deletion": (10, 1442880001)},
            {"marker": KIND_EXCL_END_INCL_START_BOUNDARY, "clustering": [b"m"],
             "deletion": (10, 1442880001), "deletion2": (20, 1442880002)},
            {"marker": KIND_INCL_END_BOUND, "clustering": [b"z"],
             "deletion": (20, 1442880002)},
        ]},
    ]
    path = write_sstable_ma(
        str(tmp_path), parts, clustering_types=[UTF8],
        static_columns=[(b"s", UTF8)],
        regular_columns=[(b"tags", LIST_UTF8)],
    )
    data = open(path, "rb").read()
    c_tab = pa.Table.from_batches(list(cparse.scan_data_buffer_batches(
        data, version="ma", source_path=path)))
    p_tab = pa.Table.from_batches(list(py_scan(
        data, version="ma", source_path=path)))
    assert c_tab.equals(p_tab), (
        c_tab.to_pydict(), p_tab.to_pydict())


def test_cparse_ma_bitflip_agreement(tmp_path):
    """Single-bit corruptions: for every flip position, the C and Python
    decoders either both fail or both produce the identical cell stream
    (same spec, same parse decisions — the strongest twin guard)."""
    import pyarrow as pa

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import (
        scan_data_buffer_batches as py_scan,
    )

    if not cparse.available():
        pytest.skip("no C compiler on host")
    path = _fixture_dir(tmp_path, n_keys=4)
    base = bytearray(open(path, "rb").read())

    def outcome(scan, data):
        try:
            tab = pa.Table.from_batches(list(scan(
                data, version="ma", source_path=path)))
            return ("ok", tab)
        except Exception:
            return ("exc", None)

    # every 7th bit position + a prng-free spread of byte positions
    positions = list(range(0, len(base) * 8, 7))
    mismatches = []
    for bitpos in positions:
        data = bytearray(base)
        data[bitpos // 8] ^= 1 << (bitpos % 8)
        data = bytes(data)
        ck, ct = outcome(cparse.scan_data_buffer_batches, data)
        pk, pt = outcome(py_scan, data)
        if ck != pk:
            # known, documented divergence: on corruption detected
            # MID-partition the C path drops the partition whole while
            # Python keeps the decoded prefix; both still FAIL in raise
            # mode, so ok-vs-exc splits are real disagreements
            mismatches.append((bitpos, ck, pk))
        elif ck == "ok" and not ct.equals(pt):
            mismatches.append((bitpos, "tables differ", None))
    assert not mismatches, mismatches[:5]


def test_exclusive_rt_bounds_do_not_cover_boundary_row(spark, tmp_path):
    """DELETE ... WHERE ck < 'm' (EXCL_END at m) must NOT shadow row m's
    live cells, and DELETE ... WHERE ck > 'm' (EXCL_START) must not
    either — the review finding that inclusive/exclusive bounds were
    conflated. Checked end-to-end through compact()'s J2 coverage."""
    from aegisthus_spark.compact import compact, compacted_to_cells
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        KIND_EXCL_END_BOUND,
        KIND_EXCL_START_BOUND,
    )

    d1 = tmp_path / "g1"
    d2 = tmp_path / "g2"
    kw = dict(clustering_types=[UTF8], regular_columns=[(b"val", UTF8)])
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"a"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"below"}]},
            {"clustering": [b"m"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"at-boundary"}]},
            {"clustering": [b"x"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"above"}]},
        ]}],
        generation=1, **kw,
    )
    write_sstable_ma(
        str(d2),
        [{"key": b"k", "rows": [
            # [-inf? no: [a .. m) then (m .. x] — both EXCLUDE m
            {"marker": KIND_INCL_START_BOUND, "clustering": [b"a"],
             "deletion": (5000, 1442880500)},
            {"marker": KIND_EXCL_END_BOUND, "clustering": [b"m"],
             "deletion": (5000, 1442880500)},
            {"marker": KIND_EXCL_START_BOUND, "clustering": [b"m"],
             "deletion": (6000, 1442880600)},
            {"marker": KIND_INCL_END_BOUND, "clustering": [b"x"],
             "deletion": (6000, 1442880600)},
        ]}],
        generation=2, **kw,
    )
    cells = read_sstable_cells(spark, [str(d1), str(d2)])
    out = compacted_to_cells(compact(cells))
    vals = {bytes(r.value) for r in out.collect()
            if r.value not in (None, b"") and r.kind == "c"
            and r.cell_name and b"val" in bytes(r.cell_name)}
    assert b"at-boundary" in vals, "exclusive bounds shadowed the boundary row"
    assert b"below" not in vals and b"above" not in vals


def test_rt_covers_variable_length_clustering_with_header_sort_key(spark, tmp_path):
    """DELETE WHERE ck >= 'a' AND ck <= 'c' over UTF8 clustering must
    shadow a cell at clustering 'ab' — raw composite bytes rank names by
    the u16 length prefix first (composite(['ab']) > composite(['c'],
    eoc=1)), silently resurrecting deleted cells whenever bound and cell
    values have different lengths. The header-derived JVM sort key
    restores comparator order end-to-end through compact()'s J2."""
    from aegisthus_spark.compact import compact, compacted_to_cells
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        name_sort_key_for_header,
    )

    d1 = tmp_path / "g1"
    d2 = tmp_path / "g2"
    kw = dict(clustering_types=[UTF8], regular_columns=[(b"val", UTF8)])
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"ab"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"doomed-mid"}]},
            {"clustering": [b"c"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"doomed-end"}]},
            {"clustering": [b"zz"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"survivor"}]},
        ]}],
        generation=1, **kw,
    )
    write_sstable_ma(
        str(d2),
        [{"key": b"k", "rows": [
            {"marker": KIND_INCL_START_BOUND, "clustering": [b"a"],
             "deletion": (5000, 1442880500)},
            {"marker": KIND_INCL_END_BOUND, "clustering": [b"c"],
             "deletion": (5000, 1442880500)},
        ]}],
        generation=2, **kw,
    )
    sk = name_sort_key_for_header(
        header_for_data_file(str(d1 / "ma-1-big-Data.db"))
    )
    cells = read_sstable_cells(spark, [str(d1), str(d2)])
    out = compacted_to_cells(compact(cells, name_sort_key=sk))
    vals = {bytes(r.value) for r in out.collect()
            if r.value not in (None, b"") and r.kind == "c"}
    assert vals == {b"survivor"}, vals
    # contrast: the raw-bytes default misses the mid-range cell — this is
    # exactly why ma pipelines must pass the header sort key
    raw = compacted_to_cells(compact(cells))
    raw_vals = {bytes(r.value) for r in raw.collect()
                if r.value not in (None, b"") and r.kind == "c"}
    assert b"doomed-mid" in raw_vals


def test_typed_clustering_negative_longs_order_and_rt(spark, tmp_path):
    """Signed clustering (LongType): raw big-endian bytes rank negatives
    ABOVE positives; the header sort key flips the sign bit so an RT over
    [-10 .. 5] covers -3 and the merged row order is numeric."""
    from aegisthus_spark.compact import compact, compacted_to_cells
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        name_sort_key_for_header,
    )

    d1 = tmp_path / "g1"
    d2 = tmp_path / "g2"
    kw = dict(clustering_types=[LONG], regular_columns=[(b"val", UTF8)])

    def enc(v):
        return struct.pack(">q", v)

    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [enc(-3)], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"doomed-neg"}]},
            {"clustering": [enc(7)], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"survivor-pos"}]},
        ]}],
        generation=1, **kw,
    )
    write_sstable_ma(
        str(d2),
        [{"key": b"k", "rows": [
            {"marker": KIND_INCL_START_BOUND, "clustering": [enc(-10)],
             "deletion": (5000, 1442880500)},
            {"marker": KIND_INCL_END_BOUND, "clustering": [enc(5)],
             "deletion": (5000, 1442880500)},
        ]}],
        generation=2, **kw,
    )
    sk = name_sort_key_for_header(
        header_for_data_file(str(d1 / "ma-1-big-Data.db"))
    )
    cells = read_sstable_cells(spark, [str(d1), str(d2)])
    out = compacted_to_cells(compact(cells, name_sort_key=sk))
    vals = {bytes(r.value) for r in out.collect()
            if r.value not in (None, b"") and r.kind == "c"}
    assert vals == {b"survivor-pos"}, vals


def test_compact_snapshot_auto_comparator_on_ma_input(spark, tmp_path):
    """column_type='auto' derives the comparator from the 3.x header with
    no user DDL and applies it through the CLI-parity pipeline."""
    from aegisthus_spark import job

    kw = dict(clustering_types=[UTF8], regular_columns=[(b"val", UTF8)])
    d1 = tmp_path / "g1"
    d2 = tmp_path / "g2"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"ab"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"doomed"}]},
        ]}],
        generation=1, **kw,
    )
    write_sstable_ma(
        str(d2),
        [{"key": b"k", "rows": [
            {"marker": KIND_INCL_START_BOUND, "clustering": [b"a"],
             "deletion": (5000, 1442880500)},
            {"marker": KIND_INCL_END_BOUND, "clustering": [b"c"],
             "deletion": (5000, 1442880500)},
        ]}],
        generation=2, **kw,
    )
    rows = job.compact_snapshot(
        spark, [str(d1), str(d2)], column_type="auto"
    ).collect()
    assert len(rows) == 1
    live = [c for c in rows[0].columns if c.kind == "c"]
    assert live == [], live
    # plan purity: the auto path must not fall back to a Python UDF
    from aegisthus_spark.plans import physical_plan

    plan = physical_plan(
        job.compact_snapshot(spark, [str(d1), str(d2)], column_type="auto"),
        "simple",
    )
    assert "BatchEvalPython" not in plan


def test_bti_format_decodes_via_oa_row_path(spark, tmp_path):
    """Cassandra 5.0's BTI (trie-index) format shares the big format's
    Data.db/Statistics.db serialization — only the index sidecars differ
    (Partitions.db/Rows.db tries replace Index.db). A 'da-N-bti-*' table
    must be discovered, planned as whole-file splits (no Index.db), and
    decode through the oa row path, with the trie sidecars skipped."""
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sources.sstable_source import (
        DEFAULT_TARGET_SPLIT,
        _plan_one,
        discover_data_files,
    )
    from aegisthus_spark.sstable.descriptor import (
        effective_version,
        parse_filename,
        version_of,
    )

    d = tmp_path / "bti"
    parts = [
        {"key": f"k{i}".encode(), "rows": [
            {"clustering": [b"c"], "liveness": (100 + i,),
             "cells": [{"column": b"val", "value": b"x%d" % i}]},
        ]}
        for i in range(5)
    ]
    write_sstable_ma(
        str(d), parts, clustering_types=[UTF8],
        regular_columns=[(b"val", UTF8)], version="oa",
    )
    (d / "oa-1-big-Index.db").unlink()
    for f in sorted(d.iterdir()):
        f.rename(d / f.name.replace("oa-1-big-", "da-1-bti-", 1))
    # trie sidecars present but unused
    (d / "da-1-bti-Partitions.db").write_bytes(b"\x00trie")
    (d / "da-1-bti-Rows.db").write_bytes(b"\x00trie")

    path = str(d / "da-1-bti-Data.db")
    desc = parse_filename(path)
    assert (desc.version, desc.fmt) == ("da", "bti")
    assert desc.sibling("Statistics.db") == "da-1-bti-Statistics.db"
    assert version_of(path) == "oa"  # effective row-format version
    assert effective_version("da", "bti") == "oa"
    # the mapping must NOT leak into big/legacy names: a (nonsensical)
    # 'da' under fmt='big' stays 'da' and gets rejected downstream
    assert effective_version("da") == "da"
    assert discover_data_files([str(d)]) == [path]
    splits = _plan_one(path, DEFAULT_TARGET_SPLIT)
    assert len(splits) == 1 and splits[0][3] == "oa"  # whole-file, oa path
    cells = read_sstable_cells(spark, [str(d)])
    assert cells.count() == 10  # marker + cell per key
    # a future/unknown bti version is rejected, not guessed
    for f in sorted(d.iterdir()):
        f.rename(d / f.name.replace("da-1-bti-", "db-1-bti-", 1))
    from aegisthus_spark.sstable.descriptor import UnsupportedVersionError

    with pytest.raises(UnsupportedVersionError):
        read_sstable_cells(spark, [str(d)]).count()


@pytest.mark.parametrize("compress", [False, True])
def test_bti_multi_split_boundary_scan(spark, tmp_path, monkeypatch, compress):
    """A BIG `da-*-bti` table must split into >1 task WITHOUT parsing the
    trie sidecars: partition boundaries come from a skip-walk of Data.db
    itself (modern.partition_offsets_from_data), offsets in UNCOMPRESSED
    coordinates so the compressed variant splits too. Output must be
    byte-identical to the whole-file decode."""
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sources.sstable_source import _plan_one
    from aegisthus_spark.sstable import modern
    from aegisthus_spark.sstable.modern import partition_offsets_from_data

    d = tmp_path / "bti_big"
    parts = []
    for i in range(120):
        rows = [
            {"clustering": [b"c%03d" % j], "liveness": (1000 + i * 7 + j,),
             "cells": [{"column": b"val", "value": b"v" * (20 + (i * 13 + j) % 60)}]}
            for j in range(4)
        ]
        if i % 5 == 0:  # exercise the marker-skip path
            rows = (
                [{"marker": KIND_INCL_START_BOUND, "clustering": [b"a"],
                  "deletion": (900 + i, 1442880000)}]
                + rows
                + [{"marker": KIND_INCL_END_BOUND, "clustering": [b"zz"],
                    "deletion": (900 + i, 1442880000)}]
            )
        parts.append({"key": b"key%04d" % i, "rows": rows})
    write_sstable_ma(
        str(d), parts, clustering_types=[UTF8],
        regular_columns=[(b"val", UTF8)], version="oa",
        compress=compress, chunk_length=1024,
    )
    (d / "oa-1-big-Index.db").unlink()
    for f in sorted(d.iterdir()):
        f.rename(d / f.name.replace("oa-1-big-", "da-1-bti-", 1))
    (d / "da-1-bti-Partitions.db").write_bytes(b"\x00trie")
    path = str(d / "da-1-bti-Data.db")

    comp = str(d / "da-1-bti-CompressionInfo.db") if compress else None
    offsets = partition_offsets_from_data(path, version="oa", compression_sidecar=comp)
    assert len(offsets) == 120 and offsets[0] == 0
    assert offsets == sorted(offsets)
    # a window far smaller than a partition refills and skips mid-chunk
    monkeypatch.setattr(modern._SeqWindow, "CHUNK", 100)
    assert partition_offsets_from_data(
        path, version="oa", compression_sidecar=comp) == offsets

    splits = _plan_one(path, target_bytes=2048)
    assert len(splits) > 1, splits
    # splits tile the file exactly, cutting only at discovered boundaries
    assert splits[0][1] == 0
    for (_, _, e1, *_), (_, s2, *_rest) in zip(splits, splits[1:]):
        assert e1 == s2 and s2 in offsets

    whole = read_sstable_cells(spark, [str(d)])  # default target: one task
    split_df = read_sstable_cells(spark, [str(d)], target_bytes=2048, combine=False)
    assert split_df.rdd.getNumPartitions() > 1
    a = sorted(map(repr, whole.collect()))
    b = sorted(map(repr, split_df.collect()))
    # 4 rows x (pk-liveness marker + val cell) per partition + 1 RT per
    # marked partition
    assert a == b and len(a) == 120 * 4 * 2 + 24


def test_auto_comparator_rejects_disagreeing_headers(spark, tmp_path):
    """column_type='auto' must refuse inputs whose self-describing
    headers disagree on anything the sort key derives from — trusting
    the first file would silently compact a differently-clustered
    table's names under the wrong order."""
    from aegisthus_spark import job

    LONG = "org.apache.cassandra.db.marshal.LongType"
    d1 = tmp_path / "t1"
    d2 = tmp_path / "t2"
    part = [{"key": b"k", "rows": [
        {"clustering": [b"\x00" * 8], "liveness": (100,),
         "cells": [{"column": b"val", "value": b"x"}]},
    ]}]
    write_sstable_ma(str(d1), part, clustering_types=[LONG],
                     regular_columns=[(b"val", UTF8)], generation=1)
    part2 = [{"key": b"k", "rows": [
        {"clustering": [b"c"], "liveness": (100,),
         "cells": [{"column": b"val", "value": b"x"}]},
    ]}]
    write_sstable_ma(str(d2), part2, clustering_types=[UTF8],
                     regular_columns=[(b"val", UTF8)], generation=2)
    with pytest.raises(ValueError, match="headers disagree"):
        job.compact_snapshot(spark, [str(d1), str(d2)], column_type="auto")
    # same schema in both dirs still flows through
    write_sstable_ma(str(d2 / "same"), part, clustering_types=[LONG],
                     regular_columns=[(b"val", UTF8)], generation=3)
    out = job.compact_snapshot(
        spark, [str(d1), str(d2 / "same")], column_type="auto"
    )
    assert out.count() == 1


def test_read_value_fixed_width_truncation_raises(spark, tmp_path):
    """A file truncated inside a fixed-size clustering value must raise
    the corrupt-contract ValueError (memoryview slicing silently yields a
    short value and misaligns the parse otherwise) — matching the
    variable-length branch and the C twin."""
    d1 = tmp_path / "g1"
    marker = struct.pack(">q", 0x1122334455667788)
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [marker], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"x"}]},
        ]}],
        clustering_types=[LONG], regular_columns=[(b"val", UTF8)],
        generation=1,
    )
    path = str(d1 / "ma-1-big-Data.db")
    data = open(path, "rb").read()
    # truncate inside the 8-byte clustering value: the partition header
    # (key + deletion) stays intact, the row's clustering is cut short
    cut = data[: data.index(marker) + 4]
    with pytest.raises(ValueError, match="corrupt ma SSTable"):
        list(scan_data_buffer_rows_modern(cut, source_path=path))


def test_future_version_rejected_with_clear_error(spark, tmp_path):
    """Format versions past the verified range ('oa' is now the max) may
    change the row layout — parsing them with the 5.0 layout could
    misalign silently. The planner rejects them with
    UnsupportedVersionError even under skip_corrupt (a capability gap is
    not corrupt data)."""
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.descriptor import UnsupportedVersionError

    d1 = tmp_path / "g1"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"c1"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"x"}]},
        ]}],
        clustering_types=[UTF8], regular_columns=[(b"val", UTF8)],
        generation=1,
    )
    for f in sorted(d1.iterdir()):
        if f.name.startswith("ma-"):
            f.rename(d1 / f.name.replace("ma-", "ob-", 1))
    with pytest.raises(UnsupportedVersionError, match="'ob'"):
        read_sstable_cells(spark, [str(d1)], skip_corrupt=True).count()


# ---------------------------------------------------------------------------
# >= 64-column "large subset" encoding (Columns.serializer)
# ---------------------------------------------------------------------------

def _wide_schema(n=65):
    return [(f"col{i:03d}".encode(), UTF8) for i in range(n)]


def _decode_both(path):
    """(python_cells, c_cells or None) for one Data.db, full-file scan."""
    import pyarrow as pa

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import (
        scan_data_buffer_batches as py_scan,
    )

    data = open(path, "rb").read()
    p_tab = pa.Table.from_batches(list(py_scan(
        data, version="ma", source_path=path)))
    c_tab = None
    if cparse.available():
        c_tab = pa.Table.from_batches(list(cparse.scan_data_buffer_batches(
            data, version="ma", source_path=path)))
    return p_tab, c_tab


def test_c_scanner_fallback_is_logged(tmp_path, caplog):
    """A 3.x shape the C scanner does not cover (here range tombstones
    nested deeper than its 16-entry stack) hands the rest of the split to
    the Python decoder: the cells are unchanged and a warning names the
    file and the partition's offset."""
    import logging

    from aegisthus_spark.sstable import cparse

    if not cparse.available():
        pytest.skip("no C compiler on host")
    depth = 17
    nested = [
        {"marker": KIND_INCL_START_BOUND, "clustering": [b"a%02d" % i],
         "deletion": (10 + i, 1442880001)}
        for i in range(depth)
    ] + [
        {"marker": KIND_INCL_END_BOUND, "clustering": [b"z%02d" % (depth - i)],
         "deletion": (9 + depth - i, 1442880001)}
        for i in range(depth)
    ]
    live = [{"clustering": [b"c"], "liveness": (1000,),
             "cells": [{"column": b"val", "value": b"v"}]}]
    path = write_sstable_ma(
        str(tmp_path), [{"key": b"k0", "rows": live}, {"key": b"k1", "rows": nested}],
        clustering_types=[UTF8], regular_columns=[(b"val", UTF8)], generation=1,
    )
    with caplog.at_level(logging.WARNING, logger=cparse.__name__):
        p_tab, c_tab = _decode_both(path)
    assert c_tab.equals(p_tab) and c_tab.num_rows == 2 + depth
    warned = [r.getMessage() for r in caplog.records if r.name == cparse.__name__]
    assert len(warned) == 1
    assert path in warned[0] and "offset 0 " not in warned[0], warned


@pytest.mark.parametrize("n_present", [5, 60])
def test_large_subset_roundtrip_both_branches(tmp_path, n_present):
    """65-column superset with 5 present (sparse branch: PRESENT indices
    written) and 60 present (dense branch: MISSING indices written) —
    writer->decoder round-trip, Python and C byte-identical."""
    cols = _wide_schema(65)
    present = [cols[i][0] for i in range(0, 65, 65 // n_present)][:n_present]
    rows = [{"clustering": [b"ck"], "liveness": (1000,),
             "cells": [{"column": c, "value": b"v-" + c} for c in present]}]
    path = write_sstable_ma(
        str(tmp_path / f"wide{n_present}"), [{"key": b"k", "rows": rows}],
        clustering_types=[UTF8], regular_columns=cols, generation=1,
    )
    p_tab, c_tab = _decode_both(path)
    present_set = set(present)
    found = {c for c in present_set
             if any(c in bytes(n) for n in p_tab.column("cell_name").to_pylist()
                    if n is not None)}
    assert found == present_set
    # absent columns must NOT appear
    absent = {c for c, _ in cols if c not in present_set}
    leaked = {c for c in absent
              if any(bytes(n).endswith(b"\x00" + bytes([len(c)]) + c + b"\x00")
                     for n in p_tab.column("cell_name").to_pylist()
                     if n is not None)}
    assert not leaked, leaked
    if c_tab is not None:
        assert c_tab.equals(p_tab), "C scanner diverged on large subset"


def test_large_subset_hand_pinned_bytes():
    """The large-subset encoding decoded from hand-built bytes (not via
    modern_writer): superset of 64, sparse row (2 present: uvint delta=62
    then PRESENT indices 3, 40), dense row (missing 5, 9: delta=2 then
    MISSING indices)."""
    from aegisthus_spark.sstable.modern import (
        _read_column_subset,
        write_unsigned_vint,
    )

    superset = [f"c{i}" for i in range(64)]
    sparse = write_unsigned_vint(62) + write_unsigned_vint(3) + write_unsigned_vint(40)
    cols, o = _read_column_subset(sparse, 0, superset)
    assert (cols, o) == (["c3", "c40"], len(sparse))
    dense = write_unsigned_vint(2) + write_unsigned_vint(5) + write_unsigned_vint(9)
    cols, o = _read_column_subset(dense, 0, superset)
    assert cols == [c for i, c in enumerate(superset) if i not in (5, 9)]
    assert o == len(dense)
    # encoded == 0 short-circuits to the full superset regardless of size
    cols, _ = _read_column_subset(write_unsigned_vint(0), 0, superset)
    assert cols == superset
    # out-of-range index is corrupt, not silent
    bad = write_unsigned_vint(63) + write_unsigned_vint(99)
    with pytest.raises(ValueError, match="out of range"):
        _read_column_subset(bad, 0, superset)


def test_large_subset_e2e_compact(spark, tmp_path):
    """65-column table through the distributed source + compact: the C
    fast path (or its per-partition fallback) and LWW both survive wide
    subsets."""
    from aegisthus_spark.compact import compact, compacted_to_cells
    from aegisthus_spark.sources import read_sstable_cells

    cols = _wide_schema(65)
    d1 = tmp_path / "g1"
    d2 = tmp_path / "g2"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"ck"], "liveness": (1000,),
             "cells": [{"column": b"col010", "value": b"old"}]},
        ]}],
        clustering_types=[UTF8], regular_columns=cols, generation=1,
    )
    write_sstable_ma(
        str(d2),
        [{"key": b"k", "rows": [
            {"clustering": [b"ck"], "liveness": (2000,),
             "cells": [{"column": b"col010", "value": b"new", "ts": 2000}]},
        ]}],
        clustering_types=[UTF8], regular_columns=cols, generation=2,
    )
    cells = read_sstable_cells(spark, [str(d1), str(d2)])
    out = compacted_to_cells(compact(cells))
    vals = {bytes(r.value) for r in out.collect()
            if r.value not in (None, b"") and r.kind == "c"}
    assert vals == {b"new"}


def test_large_subset_hypothesis_roundtrip():
    """Random present-sets over random superset sizes (64..200): the
    writer's serializeLargeSubset twin and _read_column_subset agree."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aegisthus_spark.sstable.modern import (
        _read_column_subset,
        write_unsigned_vint,
    )

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def check(data):
        n = data.draw(st.integers(min_value=64, max_value=200))
        superset = [f"c{i}" for i in range(n)]
        present = sorted(data.draw(st.sets(
            st.integers(min_value=0, max_value=n - 1), max_size=n - 1)))
        # writer-twin encoding (mirrors modern_writer's subset branch)
        delta = n - len(present)
        out = write_unsigned_vint(delta)
        if len(present) < n // 2:
            for i in present:
                out += write_unsigned_vint(i)
        else:
            pset = set(present)
            for i in range(n):
                if i not in pset:
                    out += write_unsigned_vint(i)
        cols, o = _read_column_subset(out, 0, superset)
        assert o == len(out)
        assert cols == [superset[i] for i in present]

    check()


def test_auto_comparator_decimal_clustering_stays_jvm_side(spark, tmp_path):
    """DecimalType clustering now has a JVM-side order-preserving
    encoding (round 7): column_type='auto' must compact it with NO
    BatchEvalPython in the plan."""
    from aegisthus_spark import job
    from aegisthus_spark.plans import physical_plan

    DECIMAL = "org.apache.cassandra.db.marshal.DecimalType"
    # decimal encoding: i32 scale + big-endian two's-complement unscaled
    def dec(scale, unscaled):
        m = unscaled.to_bytes((unscaled.bit_length() + 8) // 8, "big",
                              signed=True) or b"\x00"
        return struct.pack(">i", scale) + m

    d1 = tmp_path / "g1"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [dec(0, 7)], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"seven"}]},
            {"clustering": [dec(0, 100)], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"hundred"}]},
        ]}],
        clustering_types=[DECIMAL], regular_columns=[(b"val", UTF8)],
        generation=1,
    )
    out = job.compact_snapshot(spark, [str(d1)], column_type="auto")
    assert "BatchEvalPython" not in physical_plan(out, "simple")
    rows = out.collect()
    assert len(rows) == 1
    vals = {bytes(c.value) for c in rows[0].columns if c.kind == "c"
            and c.value not in (None, b"")}
    assert {b"seven", b"hundred"} <= vals


def test_auto_comparator_unknown_type_errors_clearly(spark, tmp_path):
    """A comparator class the JVM sort-key library doesn't know must
    surface name_sort_key_for_header's clear pass-a-UDF ValueError from
    column_type='auto' rather than compacting under a silently wrong
    order. Since round 9 there is no Python-UDF auto fallback to consult:
    every registry comparator (incl. any-width DecimalType/varint) is
    JVM-side (asserted), so auto's error propagates directly."""
    from aegisthus_spark import job
    from aegisthus_spark import types as aegtypes
    from aegisthus_spark.functions.sortkeys import supported

    # the Python-known set is a subset of the JVM-supported set
    assert all(supported(n) for n in aegtypes._SIMPLE)

    # DynamicCompositeType: a real Cassandra comparator neither side
    # implements (order depends on per-name aliases)
    DYN = "org.apache.cassandra.db.marshal.DynamicCompositeType"
    d1 = tmp_path / "g1"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"a"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"x"}]},
        ]}],
        clustering_types=[DYN], regular_columns=[(b"val", UTF8)],
        generation=1,
    )
    assert not supported(DYN)
    with pytest.raises(ValueError, match="no JVM-side sort key"):
        job.compact_snapshot(spark, [str(d1)], column_type="auto").collect()


def test_lexical_uuid_signed_long_order(spark):
    """LexicalUUIDType orders by UUID.compareTo — MSB then LSB as SIGNED
    longs — on both key paths; raw bytes would misplace UUIDs whose sign
    bits differ."""
    import uuid as _uuid

    from aegisthus_spark import types as aegtypes
    from aegisthus_spark.functions.sortkeys import type_sort_key_hex
    from pyspark.sql import functions as F

    def u(msb, lsb):
        return (msb % (1 << 64)).to_bytes(8, "big") + (lsb % (1 << 64)).to_bytes(8, "big")

    vals = [u(-5, 0), u(-1, -3), u(-1, 2), u(0, -1), u(0, 5), u(7, -9), u(7, 1)]
    # expected order IS the list order (signed msb asc, then signed lsb)
    comp = aegtypes.get("LexicalUUIDType")
    py = [comp.sort_key(v) for v in vals]
    assert py == sorted(py), "python signed order"
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, b binary"
    )
    rows = df.select("i", F.expr(type_sort_key_hex("b", "LexicalUUIDType"))
                     .alias("k")).collect()
    jvm = [r.k for r in sorted(rows, key=lambda r: r.i)]
    assert jvm == sorted(jvm), "jvm signed order"
    # raw bytes would NOT be sorted (sign bits scramble), proving the
    # transform is load-bearing
    assert vals != sorted(vals)


def test_auto_comparator_rejects_future_version_before_header_parse(
    spark, tmp_path
):
    """column_type='auto' must raise the deliberate UnsupportedVersionError
    for a post-5.0 input, not a garbled Statistics.db misparse — and a
    properly written 5.0 'oa' table (checksummed stats, uint partition
    deletion) must compact end-to-end through auto mode."""
    from aegisthus_spark import job
    from aegisthus_spark.sstable.descriptor import UnsupportedVersionError

    d1 = tmp_path / "g1"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"c"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"x"}]},
        ]}],
        clustering_types=[UTF8], regular_columns=[(b"val", UTF8)],
        generation=1, version="oa",
    )
    rows = job.compact_snapshot(spark, [str(d1)], column_type="auto").collect()
    assert len(rows) == 1  # one partition
    assert len(rows[0].columns) == 2  # row marker + cell

    d2 = tmp_path / "g2"
    write_sstable_ma(
        str(d2),
        [{"key": b"k", "rows": [
            {"clustering": [b"c"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"x"}]},
        ]}],
        clustering_types=[UTF8], regular_columns=[(b"val", UTF8)],
        generation=1,
    )
    for f in sorted(d2.iterdir()):
        if f.name.startswith("ma-"):
            f.rename(d2 / f.name.replace("ma-", "ob-", 1))
    with pytest.raises(UnsupportedVersionError, match="'ob'"):
        job.compact_snapshot(spark, [str(d2)], column_type="auto")


def test_header_sort_key_handles_reversed_clustering(spark, tmp_path):
    """A DESC (ReversedType) clustering column — stored fully qualified in
    the header — must produce a working JVM sort key with inverted order
    and statics/RTs intact."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        name_sort_key_for_header,
    )

    REV_LONG = f"org.apache.cassandra.db.marshal.ReversedType({LONG})"
    d1 = tmp_path / "g1"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [struct.pack(">q", 5)], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"five"}]},
            {"clustering": [struct.pack(">q", 9)], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"nine"}]},
        ]}],
        clustering_types=[REV_LONG], regular_columns=[(b"val", UTF8)],
        generation=1,
    )
    sk = name_sort_key_for_header(
        header_for_data_file(str(d1 / "ma-1-big-Data.db"))
    )
    cells = read_sstable_cells(spark, [str(d1)])
    rows = compact(cells, name_sort_key=sk).collect()
    assert len(rows) == 1
    vals = [bytes(c.value) for c in rows[0].columns
            if c.value not in (None, b"")]
    # DESC order: clustering 9 before 5
    assert vals == [b"nine", b"five"], vals
