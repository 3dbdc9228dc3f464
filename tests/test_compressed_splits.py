"""Splittable compressed reads — the capability the reference names as a
limitation (whole-file scheduling for compressed SSTables). A synthetic
Deflate-compressed Data.db with an Index.db is planned into multiple
intra-file splits; the union of split decodes must equal the whole-file
decode, and distributed reads must match the uncompressed golden path."""

import os
import struct
import zlib

import pytest

from aegisthus_spark.sstable.writer import serialize_row

CHUNK = 4096
N_ROWS = 2000


def _make_compressed_sstable(d, cut: int = 0):
    """Write ks-t-jb-1-Data.db (deflate chunks) + -Index.db + sidecar.
    ``cut`` > 0 drops that many bytes off the end of the uncompressed
    stream before compressing it: a file truncated mid-row whose chunks
    and chunk map are still intact."""
    raw = bytearray()
    index = bytearray()
    for i in range(N_ROWS):
        key = struct.pack(">q", i)
        index += struct.pack(">H", len(key)) + key + struct.pack(">q", len(raw))
        index += struct.pack(">i", 0)  # empty promoted index
        cols = [
            {"name": f"c{j}".encode(), "value": os.urandom(40).hex().encode(),
             "ts": 100 + j, "kind": "c", "ttl": None,
             "local_deletion_time": None, "ts_of_last_delete": None}
            for j in range(3)
        ]
        raw += serialize_row(key, -(1 << 63), cols, version="jb")
    if cut:
        del raw[-cut:]

    data_path = os.path.join(d, "ks-t-jb-1-Data.db")
    info_path = os.path.join(d, "ks-t-jb-1-CompressionInfo.db")
    idx_path = os.path.join(d, "ks-t-jb-1-Index.db")

    offsets = []
    with open(data_path, "wb") as f:
        for pos in range(0, len(raw), CHUNK):
            offsets.append(f.tell())
            f.write(zlib.compress(bytes(raw[pos : pos + CHUNK])))
            f.write(b"\x00\x00\x00\x00")  # checksum (skipped by readers)

    with open(info_path, "wb") as f:
        name = b"DeflateCompressor"
        f.write(struct.pack(">H", len(name)) + name)
        f.write(struct.pack(">i", 0))  # no options
        f.write(struct.pack(">i", CHUNK))
        f.write(struct.pack(">q", len(raw)))
        f.write(struct.pack(">i", len(offsets)))
        for off in offsets:
            f.write(struct.pack(">q", off))

    with open(idx_path, "wb") as f:
        f.write(bytes(index))
    return data_path, len(raw)


def test_seek_uncompressed(tmp_path):
    from aegisthus_spark.sstable.compression import find_compression_sidecar, open_compressed

    data_path, raw_len = _make_compressed_sstable(str(tmp_path))
    comp = find_compression_sidecar(data_path)
    # full read == seek(0) read; mid-stream seek lands at the right bytes
    s1 = open_compressed(data_path, comp)
    full = s1.read(-1)
    s1.close()
    assert len(full) == raw_len
    s2 = open_compressed(data_path, comp)
    s2.seek_uncompressed(10_000)
    tail = s2.read(-1)
    s2.close()
    assert tail == full[10_000:]


def test_compressed_file_is_split(tmp_path):
    from aegisthus_spark.sources.sstable_source import _plan_one

    data_path, raw_len = _make_compressed_sstable(str(tmp_path))
    splits = _plan_one(data_path, target_bytes=50_000)
    assert len(splits) > 1, "compressed file was not split"
    assert splits[0][1] == 0 and splits[-1][2] == raw_len
    # contiguous, non-overlapping coverage
    for (a, b) in zip(splits, splits[1:]):
        assert a[2] == b[1]


def test_split_decode_equals_whole(tmp_path):
    from aegisthus_spark.sources.sstable_source import _plan_one
    from aegisthus_spark.sstable.compression import find_compression_sidecar, open_compressed
    from aegisthus_spark.sstable.decoder import scan_data_file

    data_path, raw_len = _make_compressed_sstable(str(tmp_path))
    comp = find_compression_sidecar(data_path)

    def decode(start, end):
        f = open_compressed(data_path, comp)
        try:
            return [
                (bytes(c["partition_key"]), bytes(c["cell_name"]), bytes(c["value"]))
                for c in scan_data_file(f, version="jb", start=start, end=end)
            ]
        finally:
            f.close()

    whole = decode(0, None)
    assert len(whole) == N_ROWS * 3
    split_cells = []
    for (_, s, e, *_rest) in _plan_one(data_path, target_bytes=50_000):
        split_cells.extend(decode(s, e))
    assert split_cells == whole


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
    """C Snappy decode == pure-Python on the reference's real Snappy ib
    sample chunks, plus crafted copy-overlap blocks."""
    import glob
    import os
    import struct as st

    import pytest as _pytest

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.compression import CompressionInfo, snappy_decompress

    if not cparse.available():
        _pytest.skip("no C compiler on this host")

    data = "/root/reference/scripts/data/test-compressed-ib-1-Data.db"
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

    from aegisthus_spark.sources import sstable_source as src
    from aegisthus_spark.sstable import cparse

    data_path, raw_len = _make_compressed_sstable(str(tmp_path), cut=25)
    task = {
        "path": data_path, "start": 0, "end": raw_len, "version": "jb",
        "generation": 1, "skip_corrupt": True,
        "compression_path": data_path.replace("-Data.db", "-CompressionInfo.db"),
    }

    def decode():
        return pa.Table.from_batches(
            list(src._task_cell_batches(task)), schema=src._arrow_cells_schema()
        )

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
        list(src._task_cell_batches({**task, "skip_corrupt": False}))
