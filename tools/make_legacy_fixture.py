"""Generate the checked-in 2.x (ic / jb / la) decode fixture.

Writes tests/fixtures/legacy/ — KB-sized Data.db files serialized with
the repository's own row writer (sstable/writer.py:serialize_row), each
with an Index.db so the planner can cut intra-file splits — and the
decode of every file at tests/golden/decode_golden_legacy.parquet:

- ic/ks-t-ic-1: the rowSize + columnCount row layout (Cassandra 1.2);
- jb/ks-t-jb-2 and jb/ks-t-jb-3: two generations sharing keys k0020..k0039;
- la/t-0001/la-4-big: Cassandra 2.2's filename layout;
- compressed/ks-t-jb-5: Deflate chunks of 512 bytes + CompressionInfo.db;
- truncated/ks-t-jb-6: cut 7 bytes into its last row.

Every file holds every cell kind (live 'c', deleted 'd', expiring 'e',
counter 'x', range tombstone 't'), row tombstones and empty rows.

The golden lists each file's cells in decode order, files in sorted path
order, with ``source_path`` relative to the fixture directory; a corrupt
file ends with the corrupt-input sentinel row (kind '!', null key, ts 0).
The committed golden was frozen from the pure-Python tuple and stream
decoders that preceded ``sstable.decoder.scan_split`` (and checked
against the C scanner then); re-running this script decodes through
scan_split's pure-Python twin, so it also re-checks that the twin still
reproduces those cells.

Re-run only when the fixture content deliberately changes."""

from __future__ import annotations

import os
import shutil
import struct
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aegisthus_spark.sstable.writer import serialize_row  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(ROOT, "tests", "fixtures", "legacy")
GOLDEN = os.path.join(ROOT, "tests", "golden", "decode_golden_legacy.parquet")

NO_DELETE = -(1 << 63)
TS0 = 1_400_000_000_000_000  # micros
LDT0 = 1_400_000_000  # seconds


def write_table(d: str, name: str, version: str, rows, *, chunk: int = 0,
                cut: int = 0) -> tuple[str, int]:
    """``d/name-Data.db`` + ``-Index.db`` for ``rows`` of (key, deleted_at,
    cells); with ``chunk`` the data is Deflate-compressed in chunks of that
    many bytes and described by ``-CompressionInfo.db``. ``cut`` drops that
    many bytes off the end of the uncompressed data: a file truncated
    mid-row whose index, chunks and chunk map are still intact. Returns
    (Data.db path, uncompressed length)."""
    raw = bytearray()
    index = bytearray()
    for key, deleted_at, cells in rows:
        # every 2.x version here is >= ia: offset + empty promoted index
        index += struct.pack(">H", len(key)) + key + struct.pack(">qi", len(raw), 0)
        raw += serialize_row(key, deleted_at, cells, version=version)
    if cut:
        del raw[-cut:]
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}-%s.db")
    with open(path % "Index", "wb") as f:
        f.write(bytes(index))
    with open(path % "Data", "wb") as f:
        if not chunk:
            f.write(bytes(raw))
            return path % "Data", len(raw)
        offsets = []
        for pos in range(0, len(raw), chunk):
            offsets.append(f.tell())
            f.write(zlib.compress(bytes(raw[pos : pos + chunk])))
            f.write(b"\x00\x00\x00\x00")  # checksum (skipped by readers)
    with open(path % "CompressionInfo", "wb") as f:
        compressor = b"DeflateCompressor"
        f.write(struct.pack(">H", len(compressor)) + compressor)
        # no options, chunk length, data length, chunk count + offsets
        f.write(struct.pack(">iiqi", 0, chunk, len(raw), len(offsets)))
        f.write(struct.pack(f">{len(offsets)}q", *offsets))
    return path % "Data", len(raw)


def _cell(kind: str, name: bytes, value: bytes | None, ts: int, **extra) -> dict:
    cell = {"name": name, "value": value, "ts": ts, "kind": kind, "ttl": None,
            "local_deletion_time": None, "ts_of_last_delete": None}
    cell.update(extra)
    return cell


def generation_rows(gen: int, keys: range) -> list[tuple]:
    """Rows of one generation: a live cell per row plus one of the other
    kinds in turn; every 7th row carries a row tombstone and every 11th
    row is empty (every 22nd of those tombstoned too)."""
    rows = []
    for i in keys:
        key = b"k%04d" % i
        ts = TS0 + gen * 1_000_000 + i
        deleted_at = ts - 500 if i % 7 == 3 else NO_DELETE
        if i % 11 == 10:
            rows.append((key, ts - 500 if i % 22 == 21 else NO_DELETE, []))
            continue
        cells = [_cell("c", b"c0", b"v%d-%d" % (gen, i), ts)]
        extra = (i + gen) % 5
        if extra == 0:
            cells.insert(0, _cell("t", b"a0", None, ts - 1,
                                  cell_name_max=b"a9", local_deletion_time=LDT0 + i))
        elif extra == 1:
            cells.append(_cell("d", b"d0", struct.pack(">i", LDT0 + i), ts - 2))
        elif extra == 2:
            cells.append(_cell("e", b"e0", b"ttl-%d" % i, ts - 3,
                               ttl=3600 + i, local_deletion_time=LDT0 + 3600 + i))
        elif extra == 3:
            cells.append(_cell("x", b"x0", struct.pack(">q", 40 + i), ts - 4,
                               ts_of_last_delete=ts - 9))
        else:
            cells.append(_cell("c", b"c1", b"", ts - 5))
        rows.append((key, deleted_at, cells))
    return rows


def write_fixture() -> list[str]:
    """(Re)write every fixture file; returns the Data.db paths, sorted."""
    shutil.rmtree(FIXTURE_DIR, ignore_errors=True)
    j = os.path.join
    paths = [
        write_table(j(FIXTURE_DIR, "ic"), "ks-t-ic-1", "ic", generation_rows(1, range(0, 30))),
        write_table(j(FIXTURE_DIR, "jb"), "ks-t-jb-2", "jb", generation_rows(2, range(0, 40))),
        write_table(j(FIXTURE_DIR, "jb"), "ks-t-jb-3", "jb", generation_rows(3, range(20, 60))),
        write_table(j(FIXTURE_DIR, "la", "t-0001"), "la-4-big", "la",
                    generation_rows(4, range(10, 30))),
        write_table(j(FIXTURE_DIR, "compressed"), "ks-t-jb-5", "jb",
                    generation_rows(5, range(0, 60)), chunk=512),
        write_table(j(FIXTURE_DIR, "truncated"), "ks-t-jb-6", "jb",
                    generation_rows(6, range(0, 20)), cut=7),
    ]
    return sorted(p for p, _ in paths)


def decode_golden(files: list[str]):
    """The golden table: each file decoded whole by the pure-Python twin
    under skip_corrupt, ``source_path`` made fixture-relative."""
    import pyarrow as pa

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import CELLS
    from aegisthus_spark.sstable.compression import find_compression_sidecar
    from aegisthus_spark.sstable.decoder import scan_split
    from aegisthus_spark.sstable.descriptor import parse_filename, version_of

    available = cparse.available
    cparse.available = lambda: False
    try:
        tables = []
        for path in files:
            t = pa.Table.from_batches(list(scan_split(
                path, version=version_of(path),
                generation=parse_filename(path).generation,
                compression_path=find_compression_sidecar(path),
                skip_corrupt=True,
            )), schema=CELLS)
            rel = os.path.relpath(path, FIXTURE_DIR)
            tables.append(t.set_column(0, CELLS.field(0), pa.array([rel] * t.num_rows)))
    finally:
        cparse.available = available
    return pa.concat_tables(tables)


def main() -> None:
    import pyarrow.parquet as pq

    files = write_fixture()
    table = decode_golden(files)
    kinds = set(table.column("kind").to_pylist())
    assert kinds == {"c", "d", "e", "x", "t", "r", "!"}, kinds
    pq.write_table(table, GOLDEN)
    print(f"fixture written to {FIXTURE_DIR} ({len(files)} files); "
          f"golden {GOLDEN}: {table.num_rows} cells")


if __name__ == "__main__":
    main()
