"""Splittable compressed reads — the capability the reference names as a
limitation (whole-file scheduling for compressed SSTables). A synthetic
Deflate-compressed Data.db with an Index.db is planned into multiple
intra-file splits; the union of split decodes must equal the whole-file
decode, and distributed reads must match the uncompressed golden path."""

import os
import struct

import pytest

from aegisthus_spark.sstable import cparse
from aegisthus_spark.sstable.decoder import scan_split
from tools.make_legacy_fixture import write_table

CHUNK = 4096
N_ROWS = 2000


def _make_compressed_sstable(d, cut: int = 0):
    """Write ks-t-jb-1-Data.db (deflate chunks) + -Index.db + sidecar.
    ``cut`` > 0 drops that many bytes off the end of the uncompressed
    stream before compressing it: a file truncated mid-row whose chunks
    and chunk map are still intact."""
    rows = [
        (struct.pack(">q", i), -(1 << 63), [
            {"name": f"c{j}".encode(), "value": os.urandom(40).hex().encode(),
             "ts": 100 + j, "kind": "c", "ttl": None,
             "local_deletion_time": None, "ts_of_last_delete": None}
            for j in range(3)
        ])
        for i in range(N_ROWS)
    ]
    return write_table(d, "ks-t-jb-1", "jb", rows, chunk=CHUNK, cut=cut)


def test_compressed_file_is_split(tmp_path):
    from aegisthus_spark.sources.sstable_source import _plan_one

    data_path, raw_len = _make_compressed_sstable(str(tmp_path))
    splits = _plan_one(data_path, target_bytes=50_000)
    assert len(splits) > 1, "compressed file was not split"
    assert splits[0][1] == 0 and splits[-1][2] == raw_len
    # contiguous, non-overlapping coverage
    for (a, b) in zip(splits, splits[1:]):
        assert a[2] == b[1]


def _each_scanner(monkeypatch):
    """Loop once through the C scanner (when this host builds it), then
    once through its Python twin."""
    if cparse.available():
        yield "c"
    monkeypatch.setattr(cparse, "available", lambda: False)
    yield "python"


def _decode(data_path, start=0, end=None):
    comp = data_path.replace("-Data.db", "-CompressionInfo.db")
    return [
        (bytes(c["partition_key"]), bytes(c["cell_name"]), bytes(c["value"]))
        for b in scan_split(data_path, start, end, version="jb", compression_path=comp)
        for c in b.to_pylist()
    ]


def test_split_decode_equals_whole(tmp_path, monkeypatch):
    from aegisthus_spark.sources.sstable_source import _plan_one

    data_path, raw_len = _make_compressed_sstable(str(tmp_path))
    splits = _plan_one(data_path, target_bytes=50_000)
    for _ in _each_scanner(monkeypatch):
        whole = _decode(data_path)
        assert len(whole) == N_ROWS * 3
        split_cells = []
        for (_, s, e, *_rest) in splits:
            split_cells.extend(_decode(data_path, s, e))
        assert split_cells == whole


def test_rows_spilling_past_the_slack_are_read_whole(tmp_path, monkeypatch):
    """A split decodes every row that STARTS before its end, however far
    past the end the row runs: the scan grows
    its buffer until the row is complete, whichever error the scanner
    raises at the buffer's tail (the Python twin's fixed-width reads raise
    struct.error, not ValueError). Index-planned splits end on row
    boundaries, so only ends inside a row take this path."""
    from aegisthus_spark.sstable.index import row_offsets

    def cell(j):
        return {"name": b"c%04d" % j, "value": b"v%d" % j, "ts": j, "kind": "c",
                "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}

    # rows of ~9.5 KB, 19 chunks of 512 bytes: the buffer grows several
    # times, and mostly fixed-width fields, so its tail lands inside them
    rows = [(b"k%03d" % i, -(1 << 63), [cell(j) for j in range(400)]) for i in range(12)]
    data_path, raw_len = write_table(str(tmp_path), "ks-t-jb-1", "jb", rows, chunk=512)
    starts = row_offsets(data_path.replace("-Data.db", "-Index.db"))
    for scanner in _each_scanner(monkeypatch):
        whole = _decode(data_path)
        assert len(whole) == 12 * 400
        for end in range(1, raw_len, 1999):
            n_rows = sum(1 for s in starts if s < end)
            assert _decode(data_path, 0, end) == whole[: n_rows * 400], (scanner, end)


def test_split_fragments_keep_their_own_partitions(spark, tmp_path):
    """Fragments of a deliberately-split file must map 1:1 to Spark
    partitions: the bin-packer must not re-pack them (which would serialize
    intra-file decode), and AQE must not coalesce the task table (tasks are
    bytes-small even when each decodes 100+ MB)."""
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sources.sstable_source import _plan_one, plan_partitions

    data_path, _ = _make_compressed_sstable(str(tmp_path))
    n_splits = len(_plan_one(data_path, target_bytes=50_000))
    assert n_splits > 1
    parts = plan_partitions([data_path], target_bytes=50_000)
    assert len(parts) == n_splits, "bin-packer re-packed split fragments"

    cells = read_sstable_cells(spark, [str(tmp_path)], target_bytes=50_000)
    assert cells.rdd.getNumPartitions() == n_splits


def test_distributed_read_compressed_splits(spark, tmp_path):
    from pyspark.sql import functions as F

    from aegisthus_spark.sources import read_sstable_cells

    data_path, _ = _make_compressed_sstable(str(tmp_path))
    cells = read_sstable_cells(spark, [str(tmp_path)], target_bytes=50_000, combine=False)
    n = cells.count()
    assert n == N_ROWS * 3
    assert cells.select(F.countDistinct("partition_key")).collect()[0][0] == N_ROWS


def test_c_lz4_matches_python_on_crafted_blocks():
    """The gcc-built LZ4 block decoder must agree with the pure-Python one
    on hand-crafted blocks covering the format's edges: long literal runs
    (15 + extension bytes), long matches, and overlapping matches
    (offset < match length => byte-at-a-time copy semantics)."""
    import pytest as _pytest

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.compression import lz4_block_decompress

    if not cparse.available():
        _pytest.skip("no C compiler on this host")

    def block(parts: bytes) -> bytes:
        return parts

    cases = []
    # literals-only (short): token lit=5, no match at end
    cases.append((bytes([0x50]) + b"hello", b"hello"))
    # long literal run: 20 literals => token 0xF0 + ext 5
    lit = bytes(range(20))
    cases.append((bytes([0xF0, 5]) + lit, lit))
    # repeat: 4 literals "abcd" then match offset 4 len 12 => "abcd" * 4
    cases.append((bytes([0x48]) + b"abcd" + bytes([4, 0]), b"abcd" * 4))
    # overlapping match: 1 literal "x" then offset 1 len 19 => "x" * 20
    cases.append((bytes([0x1F]) + b"x" + bytes([1, 0, 0]), b"x" * 20))
    # long match with extension: "ab" then offset 2, len 15+4+7=26
    cases.append((bytes([0x2F]) + b"ab" + bytes([2, 0, 7]), b"ab" + b"ab" * 13))
    for src, want in cases:
        assert lz4_block_decompress(src, len(want)) == want
        assert cparse.lz4_decompress(src, len(want)) == want
    # malformed: match offset beyond what's been written
    bad = bytes([0x1F]) + b"x" + bytes([9, 0, 0])
    with _pytest.raises(ValueError):
        cparse.lz4_decompress(bad, 20)


def test_c_snappy_matches_python_and_reference_sample():
    """C Snappy decode == pure-Python on crafted copy-overlap blocks, and
    on the reference's real Snappy ib sample chunks where they exist."""
    import glob
    import os
    import struct as st

    import pytest as _pytest

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.compression import CompressionInfo, snappy_decompress

    if not cparse.available():
        _pytest.skip("no C compiler on this host")

    from tests.conftest import REFERENCE

    # the real-sample half runs wherever the reference's sample exists
    data = f"{REFERENCE}/scripts/data/test-compressed-ib-1-Data.db"
    if os.path.exists(data):
        info = CompressionInfo.read_path(data.replace("-Data.db", "-CompressionInfo.db"))
        assert info.compressor == "SnappyCompressor"
        with open(data, "rb") as f:
            for i, (off, clen) in enumerate(info.chunk_ranges(os.path.getsize(data))):
                f.seek(off)
                raw = f.read(clen)
                ulen = min(info.chunk_length, info.data_length - i * info.chunk_length)
                assert cparse.snappy_decompress(raw, ulen) == snappy_decompress(raw)

    def varint(n: int) -> bytes:
        out = b""
        while n >= 0x80:
            out += bytes([(n & 0x7F) | 0x80])
            n >>= 7
        return out + bytes([n])

    # literal + overlapping copy1: "ab" then offset 2 len 10 -> "ab"*6
    src = varint(12) + bytes([0x04]) + b"ab" + bytes([(6 << 2) | 1, 2])
    want = b"ab" * 6
    assert snappy_decompress(src) == want
    assert cparse.snappy_decompress(src, 12) == want
    # copy2 with 2-byte offset
    lit = bytes(range(70))  # long literal (>60 -> 1-byte extension)
    src = varint(80) + bytes([0xF0, 69]) + lit + bytes([((10 - 1) << 2) | 2, 70, 0])
    want = lit + lit[:10]
    assert snappy_decompress(src) == want
    assert cparse.snappy_decompress(src, 80) == want
    with _pytest.raises(ValueError):
        cparse.snappy_decompress(varint(5) + bytes([(4 << 2) | 1, 9]), 5)


def test_truncated_compressed_split_keeps_decoded_cells(tmp_path, monkeypatch):
    """Corrupt-split rule, one decode loop: under skip_corrupt the cells
    decoded before a mid-row truncation are kept and ONE '!' sentinel
    follows — on the no-compiler Python path exactly as on the C path (the
    Python path used to drop up to a batch of buffered cells)."""
    import pyarrow as pa

    from aegisthus_spark.sstable.arrow_decode import CELLS

    data_path, raw_len = _make_compressed_sstable(str(tmp_path), cut=25)
    task = {
        "path": data_path, "start": 0, "end": raw_len, "version": "jb",
        "generation": 1, "skip_corrupt": True,
        "compression_path": data_path.replace("-Data.db", "-CompressionInfo.db"),
    }

    def decode():
        return pa.Table.from_batches(list(scan_split(**task)), schema=CELLS)

    c_tab = decode() if cparse.available() else None
    monkeypatch.setattr(cparse, "available", lambda: False)
    py_tab = decode()

    kinds = py_tab.column("kind").to_pylist()
    assert kinds.count("!") == 1 and kinds[-1] == "!"
    keys = {k for k in py_tab.column("partition_key").to_pylist() if k is not None}
    # every row before the truncated last one survives whole
    assert len(keys) == N_ROWS and py_tab.num_rows - 1 >= (N_ROWS - 1) * 3
    if c_tab is not None:
        assert py_tab.equals(c_tab)
    with pytest.raises(Exception):
        list(scan_split(**{**task, "skip_corrupt": False}))
