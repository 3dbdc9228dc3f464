"""Data.db decoder, 2.x formats (ic / jb / la): bytes -> Arrow batches.

The pure-Python twin of the C scanner (``_scan.c`` via :mod:`.cparse`):
the fallback on hosts without a compiler and the fuzz oracle
(``tests/test_cparse_fuzz.py``). The per-split routine
(``decoder.scan_split``) picks between the two.

Row layout (public Cassandra 1.2/2.x on-disk format; scan behavior mirrors
SSTableColumnScanner.java:71-167):

    u16  key length, key bytes
    [ic] i64 row size                      (versions with rowSize+columnCount)
    i32  local deletion time, i64 marked-for-delete-at   (row DeletionTime)
    [ic] i32 column count
    atoms...        (jb/la: until a 0-length name marks end of row;
                     ic: exactly column-count atoms)

Atom layout (Cassandra 2.0 OnDiskAtom serializer / ColumnSerializer):

    u16 name length (0 => end of row), name bytes
    u8  flags: 0x01 deleted | 0x02 expiring | 0x04 counter |
               0x08 counter-update | 0x10 range tombstone
    range tombstone: u16 max-name length+bytes, i32 ldt, i64 mfda
    counter:         i64 timestampOfLastDelete, i64 ts, i32 len, value
    expiring:        i32 ttl, i32 ldt, i64 ts, i32 len, value
    other:           i64 ts, i32 len, value   ('deleted' value = i32 ldt)

Cells come out in the canonical schema (:data:`CELLS`): kind 'c' column,
'd' deleted, 'e' expiring, 'x' counter, 't' range tombstone, 'r' row-only
(empty row; preserved because deletes are data —
SSTableColumnScanner.java:161-164).

Each field is appended straight into the buffers Arrow wants, with no
per-cell tuple or dict:

- binary/string columns: one ``bytearray`` data buffer + an ``array('i')``
  offset vector -> ``pa.Array.from_buffers`` (zero conversion at flush);
- int64 columns: ``array('q')`` -> zero-copy ``from_buffers``;
- mostly-null columns (ttl / local_deletion_time / ts_of_last_delete /
  cell_name_max): only the rare non-null entries are recorded as
  (index, value) and materialized at flush — a 'c' cell touches none of
  them.
"""

from __future__ import annotations

import struct as _struct
from array import array
from typing import Iterator

import numpy as np
import pyarrow as pa

from .descriptor import UnsupportedVersionError

LONG_MIN = -(1 << 63)

EXPIRATION_MASK = 0x02
COUNTER_MASK = 0x04
RANGE_TOMBSTONE_MASK = 0x10

_U16 = _struct.Struct(">H")
_I32 = _struct.Struct(">i")
_I64 = _struct.Struct(">q")

#: the canonical cell schema (FIXTURES.md §1 / compact.py). Every decoder
#: emits it; the Spark source's CELLS_SCHEMA and the field order of the
#: 3.x decoder's tuples (ROW_FIELDS) derive from it.
CELLS = pa.schema([
    ("source_path", pa.string()), ("generation", pa.int32()),
    ("partition_key", pa.binary()), ("row_deleted_at", pa.int64()),
    ("kind", pa.string()), ("cell_name", pa.binary()),
    ("cell_name_max", pa.binary()), ("value", pa.binary()),
    ("ts", pa.int64()), ("ttl", pa.int32()),
    ("local_deletion_time", pa.int32()), ("ts_of_last_delete", pa.int64()),
])
ROW_FIELDS = tuple(CELLS.names)

BATCH_ROWS = 16384


def tuples_batch(rows: list) -> pa.RecordBatch:
    """ROW_FIELDS-ordered tuples -> one canonical batch."""
    return pa.RecordBatch.from_arrays(
        [pa.array(list(col), type=f.type) for col, f in zip(zip(*rows), CELLS)],
        schema=CELLS,
    )


def contain(batches, *, skip_corrupt: bool, source_path: str, generation: int):
    """The corrupt-input rule of every decode path (P6): pass ``batches``
    through; on a decode error under ``skip_corrupt``, keep every cell
    decoded so far and end the stream with ONE sentinel row (kind '!',
    null key, ts and row_deleted_at 0), so the driver can count corrupt
    inputs and enforce max_corrupt_files_to_skip (Aegisthus.java:246-257).
    An unsupported format version is a capability gap, not corrupt data:
    it always raises."""
    try:
        yield from batches
    except UnsupportedVersionError:
        raise
    except Exception:
        if not skip_corrupt:
            raise
        yield tuples_batch([(source_path, generation, None, 0, "!", None, None,
                             None, 0, None, None, None)])


def cells_batch(n: int, source_path: str, generation: int, row_deleted,
                row_cells, kind, cols) -> pa.RecordBatch:
    """Assemble ``n`` canonical cells from columnar parts — shared by this
    parser and the C scanner: the split's constant path and generation,
    each row's deletion time repeated over its ``row_cells`` cells, one
    ``kind`` byte per cell, and ``cols``, the remaining eight arrays in
    schema order (partition_key, cell_name, cell_name_max, value, ts, ttl,
    local_deletion_time, ts_of_last_delete)."""
    path_b = source_path.encode()
    src = pa.Array.from_buffers(
        pa.string(), n,
        [None,
         pa.py_buffer((np.arange(n + 1, dtype=np.int32) * len(path_b)).tobytes()),
         pa.py_buffer(path_b * n)],
    )
    kinds = pa.Array.from_buffers(
        pa.string(), n,
        [None, pa.py_buffer(np.arange(n + 1, dtype=np.int32).tobytes()),
         pa.py_buffer(kind)],
    )
    key, name, name_max, value, ts, ttl, ldt, tsd = cols
    return pa.RecordBatch.from_arrays(
        [src, pa.array(np.full(n, generation, np.int32)), key,
         pa.array(np.repeat(row_deleted, row_cells)), kinds,
         name, name_max, value, ts, ttl, ldt, tsd],
        schema=CELLS,
    )


def _validity(n: int, null_idx: list) -> pa.Buffer | None:
    valid = np.ones(n, np.bool_)
    valid[null_idx] = False
    return pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())


def _binary_array(n, data: bytearray, offsets: array, null_idx: list) -> pa.Array:
    buffers = [
        _validity(n, null_idx) if null_idx else None,
        pa.py_buffer(offsets),
        pa.py_buffer(data),
    ]
    return pa.Array.from_buffers(pa.binary(), n, buffers, null_count=len(null_idx))


def _sparse_array(n, entries: list, pa_type) -> pa.Array:
    """(index, value) pairs over an otherwise-null column."""
    vals = [None] * n
    for i, v in entries:
        vals[i] = v
    return pa.array(vals, type=pa_type)


class _Acc:
    """Per-batch columnar accumulator."""

    __slots__ = (
        "source_path", "generation", "n",
        "key_data", "key_off", "key_null",
        "row_deleted", "row_cells",
        "kind", "name_data", "name_off", "name_null",
        "val_data", "val_off", "val_null",
        "ts", "rt_max", "ttl", "ldt", "tsd",
    )

    def __init__(self, source_path: str, generation: int):
        self.source_path = source_path
        self.generation = generation
        self.reset()

    def reset(self) -> None:
        self.n = 0
        self.key_data = bytearray()
        self.key_off = array("i", [0])
        self.key_null: list = []
        self.row_deleted = array("q")   # one per row
        self.row_cells = array("i")     # cells per row
        self.kind = bytearray()
        self.name_data = bytearray()
        self.name_off = array("i", [0])
        self.name_null: list = []
        self.val_data = bytearray()
        self.val_off = array("i", [0])
        self.val_null: list = []
        self.ts = array("q")
        self.rt_max: list = []          # (idx, bytes)
        self.ttl: list = []             # (idx, int)
        self.ldt: list = []
        self.tsd: list = []

    def flush(self) -> pa.RecordBatch:
        n = self.n
        batch = cells_batch(
            n, self.source_path, self.generation,
            np.frombuffer(self.row_deleted, np.int64),
            np.frombuffer(self.row_cells, np.int32),
            self.kind,
            [
                _binary_array(n, self.key_data, self.key_off, self.key_null),
                _binary_array(n, self.name_data, self.name_off, self.name_null),
                _sparse_array(n, self.rt_max, pa.binary()),
                _binary_array(n, self.val_data, self.val_off, self.val_null),
                pa.Array.from_buffers(pa.int64(), n, [None, pa.py_buffer(self.ts)]),
                _sparse_array(n, self.ttl, pa.int32()),
                _sparse_array(n, self.ldt, pa.int32()),
                _sparse_array(n, self.tsd, pa.int64()),
            ],
        )
        self.reset()
        return batch


def scan_data_buffer_batches(
    data,
    *,
    version: str = "jb",
    start: int = 0,
    end: int | None = None,
    source_path: str = "",
    generation: int = 0,
    batch_rows: int = BATCH_ROWS,
    skip_corrupt: bool = False,
) -> Iterator[pa.RecordBatch]:
    """Arrow RecordBatches straight from an SSTable Data buffer — the
    Python twin of ``cparse.scan_data_buffer_batches`` (same interface,
    same batches) and its fuzz oracle. ``start`` sits on a row boundary;
    rows that START before ``end`` are decoded whole (the reference's
    split contract, SSTableColumnScanner.java:48-58,187-189).
    ``skip_corrupt``: see :func:`contain`.

    3.x+ ("ma"...) inputs route to the modern row-format decoder and
    come back as the same canonical batches (tuple materialization — the
    vint/delta parse dominates there, not object building).
    """
    if version >= "ma":
        from .descriptor import check_modern_version

        check_modern_version(version)
        batches = modern_batches(
            data, start=start, end=end, source_path=source_path,
            generation=generation, batch_rows=batch_rows, version=version,
        )
    else:
        batches = _scan_2x(data, version, start, end, source_path, generation,
                           batch_rows)
    yield from contain(batches, skip_corrupt=skip_corrupt,
                       source_path=source_path, generation=generation)


def _scan_2x(data, version, start, end, source_path, generation, batch_rows):
    acc = _Acc(source_path, generation)
    try:
        yield from _scan_into(acc, data, version, start, end, batch_rows)
    except Exception:
        # the parse may have died mid-row: cells decoded so far are kept
        # (reference behavior). acc.n is only synced at row boundaries, so
        # recover the true count from ts (one append per cell) and close
        # the partial row's bookkeeping before the error propagates.
        acc.n = len(acc.ts)
        if len(acc.row_deleted) > len(acc.row_cells):
            acc.row_cells.append(acc.n - sum(acc.row_cells))
        if acc.n:
            yield acc.flush()
        raise
    if acc.n:
        yield acc.flush()


def modern_batches(data, *, start, end, source_path, generation, batch_rows,
                   version="ma"):
    """RecordBatches from the 3.x decoder's ROW_FIELDS tuples; on an error
    the tuples decoded so far are emitted before it propagates."""
    from .modern import scan_data_buffer_rows_modern

    rows: list = []
    try:
        for row in scan_data_buffer_rows_modern(
            data, start=start, end=end, source_path=source_path,
            generation=generation, version=version,
        ):
            rows.append(row)
            if len(rows) >= batch_rows:
                yield tuples_batch(rows)
                rows = []
    except Exception:
        if rows:
            yield tuples_batch(rows)
        raise
    if rows:
        yield tuples_batch(rows)


#: fused per-kind field structs — one unpack_from (and one tuple) per cell
#: instead of two-four
_QI = _struct.Struct(">qi")     # regular: ts, value_len
_IIQI = _struct.Struct(">iiqi")  # expiring: ttl, ldt, ts, value_len
_QQI = _struct.Struct(">qqi")   # counter: ts_of_last_delete, ts, value_len


def _scan_into(acc: _Acc, data, version, start, end, batch_rows):
    has_rs_cc = version < "ja"
    buf = memoryview(data) if not isinstance(data, memoryview) else data
    u16 = _U16.unpack_from
    i32 = _I32.unpack_from
    i64 = _I64.unpack_from
    qi = _QI.unpack_from
    iiqi = _IIQI.unpack_from
    qqi = _QQI.unpack_from
    o = start
    stop = end if end is not None else len(buf)
    total = len(buf)

    while o < stop:
        if o + 2 > total:
            return
        # re-bind per outer iteration: flush() swaps the accumulators
        key_data, key_off = acc.key_data, acc.key_off
        key_off_append = key_off.append
        name_data, name_off_append = acc.name_data, acc.name_off.append
        val_data, val_off_append = acc.val_data, acc.val_off.append
        kind_append = acc.kind.append
        ts_append = acc.ts.append
        idx = acc.n

        (keysize,) = u16(buf, o)
        o += 2
        if o + keysize > total:
            raise ValueError("corrupt SSTable: key extends past buffer")
        key = buf[o : o + keysize]
        o += keysize
        if has_rs_cc:
            (row_size,) = i64(buf, o)
            o += 8
            row_end = o + row_size
            # mirror the C twin's guards: a negative or past-the-end size is
            # corruption, not something to silently clamp
            if row_size < 0 or row_end > total:
                raise ValueError("corrupt SSTable: bad row size")
        (deleted_at,) = i64(buf, o + 4)
        o += 12
        if has_rs_cc:
            (n,) = i32(buf, o)
            o += 4
            if n < 0:
                raise ValueError("corrupt SSTable: negative column count")
        else:
            n = 1 << 62

        acc.row_deleted.append(deleted_at)
        emitted = 0
        for _ in range(n):
            (name_len,) = u16(buf, o)
            o += 2
            if name_len == 0:
                break
            if o + name_len + 1 > total:
                raise ValueError("corrupt SSTable: cell name extends past buffer")
            name_data += buf[o : o + name_len]
            name_off_append(len(name_data))
            o += name_len
            flags = buf[o]
            o += 1
            if not flags & 0x17:  # plain 'c' cell — the hot path
                ts, vlen = qi(buf, o)
                o += 12
                if vlen < 0 or o + vlen > total:
                    raise ValueError("corrupt SSTable: bad value length")
                val_data += buf[o : o + vlen]
                val_off_append(len(val_data))
                o += vlen
                kind_append(0x63)  # 'c'
                ts_append(ts)
            elif flags & RANGE_TOMBSTONE_MASK:
                (max_len,) = u16(buf, o)
                o += 2
                if o + max_len > total:
                    raise ValueError("corrupt SSTable: RT bound extends past buffer")
                acc.rt_max.append((idx, bytes(buf[o : o + max_len])))
                o += max_len
                (ldt,) = i32(buf, o)
                (ts,) = i64(buf, o + 4)
                o += 12
                kind_append(0x74)  # 't'
                val_off_append(len(val_data))
                acc.val_null.append(idx)
                acc.ldt.append((idx, ldt))
                ts_append(ts)
            elif flags & COUNTER_MASK:
                tsd, ts, vlen = qqi(buf, o)
                o += 20
                if vlen < 0 or o + vlen > total:
                    raise ValueError("corrupt SSTable: bad value length")
                val_data += buf[o : o + vlen]
                val_off_append(len(val_data))
                o += vlen
                kind_append(0x78)  # 'x'
                acc.tsd.append((idx, tsd))
                ts_append(ts)
            elif flags & EXPIRATION_MASK:
                ttl, ldt, ts, vlen = iiqi(buf, o)
                o += 20
                if vlen < 0 or o + vlen > total:
                    raise ValueError("corrupt SSTable: bad value length")
                val_data += buf[o : o + vlen]
                val_off_append(len(val_data))
                o += vlen
                kind_append(0x65)  # 'e'
                acc.ttl.append((idx, ttl))
                acc.ldt.append((idx, ldt))
                ts_append(ts)
            else:  # deleted (0x01)
                ts, vlen = qi(buf, o)
                o += 12
                if vlen < 0 or o + vlen > total:
                    raise ValueError("corrupt SSTable: bad value length")
                val_data += buf[o : o + vlen]
                val_off_append(len(val_data))
                kind_append(0x64)  # 'd'
                if vlen == 4:
                    acc.ldt.append((idx, _I32.unpack(bytes(buf[o : o + vlen]))[0]))
                o += vlen
                ts_append(ts)
            key_data += key
            key_off_append(len(key_data))
            idx += 1
            emitted += 1

        if emitted == 0:
            kind_append(0x72)  # 'r'
            key_data += key
            key_off_append(len(key_data))
            name_off_append(len(name_data))
            acc.name_null.append(idx)
            val_off_append(len(val_data))
            acc.val_null.append(idx)
            ts_append(LONG_MIN)
            emitted = 1
            idx += 1
        acc.row_cells.append(emitted)
        acc.n = idx

        if has_rs_cc and o < row_end:
            o = row_end

        if idx >= batch_rows:
            yield acc.flush()
