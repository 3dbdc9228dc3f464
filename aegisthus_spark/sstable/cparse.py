"""ctypes bindings for the C cell scanner (_scan.c) with on-demand build.

The pure-Python parsers top out near ~70 MB/s/core — interpreter-bound, not
IO-bound. ``_scan.c`` is the same byte-level scan compiled with gcc -O3;
this module builds it once per host (cached .so keyed by source hash,
atomic rename, safe under concurrent Spark workers) and exposes
``scan_data_buffer_batches`` with the exact interface and output schema of
:mod:`.arrow_decode`. Anything missing (no compiler, build failure) makes
``available()`` False, and ``decoder.scan_split`` falls back to that
pure-Python twin.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile
from typing import Iterator

import numpy as np
import pyarrow as pa

from .arrow_decode import cells_batch, contain, modern_batches

log = logging.getLogger(__name__)

_SRC = os.path.join(os.path.dirname(__file__), "_scan.c")

DONE, MORE, ROW_TOO_BIG, CORRUPT, MA_UNSUPPORTED = 0, 1, 2, 3, 4

BATCH_CELLS = 1 << 16
BATCH_BYTES = 8 << 20


class _ScanOut(ctypes.Structure):
    _fields_ = [
        ("n", ctypes.c_int64),
        ("rows", ctypes.c_int64),
        ("consumed", ctypes.c_int64),
        ("key_bytes", ctypes.c_int64),
        ("name_bytes", ctypes.c_int64),
        ("max_bytes_used", ctypes.c_int64),
        ("val_bytes", ctypes.c_int64),
    ]


_LIB: object = None  # None = not probed, False = unavailable


def _cache_dir() -> str | None:
    """Per-user 0700 cache dir; never a world-writable shared path.

    A .so loaded into every Spark worker is code execution — on a multi-user
    host a predictable /tmp path could be pre-planted by another user. The
    dir is created 0700 and, if it already exists, only trusted when owned
    by the current uid and not group/world-writable.
    """
    base = os.path.join(tempfile.gettempdir(), f"aegisthus-{os.getuid()}")
    try:
        os.makedirs(base, mode=0o700, exist_ok=True)
        st = os.lstat(base)
        if (
            st.st_uid != os.getuid()
            or not os.path.isdir(base)
            or os.path.islink(base)
            or (st.st_mode & 0o077)
        ):
            return None
    except OSError:
        return None
    return base


def _trusted_file(path: str) -> bool:
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (
        os.path.isfile(path)
        and not os.path.islink(path)
        and st.st_uid == os.getuid()
        and not (st.st_mode & 0o022)
    )


def _build() -> str | None:
    with open(_SRC, "rb") as f:
        src = f.read()
    cache = _cache_dir()
    if cache is None:
        return None
    tag = hashlib.md5(src).hexdigest()[:12]
    so_path = os.path.join(cache, f"aegisthus_scan_{tag}.so")
    if _trusted_file(so_path):
        return so_path
    tmp = f"{so_path}.{os.getpid()}.tmp"
    try:
        subprocess.run(
            ["gcc", "-O3", "-shared", "-fPIC", "-o", tmp, _SRC],
            check=True, capture_output=True, timeout=60,
        )
        os.chmod(tmp, 0o700)
        os.rename(tmp, so_path)  # atomic: concurrent builders converge
        return so_path
    except Exception:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return None


def _lib():
    global _LIB
    if _LIB is None:
        path = _build()
        if path is None:
            _LIB = False
        else:
            try:
                lib = ctypes.CDLL(path)
                lib.scan_cells.restype = ctypes.c_int
                lib.scan_cells_ma.restype = ctypes.c_int
                lib.lz4_block_decompress.restype = ctypes.c_int64
                lib.snappy_decompress_block.restype = ctypes.c_int64
                _LIB = lib
            except OSError:
                _LIB = False
    return _LIB


def lz4_decompress(src: bytes, uncompressed_len: int) -> bytes:
    """C LZ4 block decode; raises ValueError on malformed input.

    Bound via the scanner .so — no external lz4 package needed. Callers
    should probe :func:`available` first and fall back to the pure-Python
    decoder when no compiler exists on the host.
    """
    lib = _lib()
    if not lib:
        raise RuntimeError("C library unavailable")
    dst = np.empty(uncompressed_len, np.uint8)
    src_arr = np.frombuffer(src, np.uint8)
    wrote = lib.lz4_block_decompress(
        _u8(src_arr), ctypes.c_int64(len(src)), _u8(dst),
        ctypes.c_int64(uncompressed_len),
    )
    if wrote != uncompressed_len:
        raise ValueError(
            f"malformed LZ4 block: wrote {wrote} of {uncompressed_len} bytes"
        )
    return dst.tobytes()


def snappy_decompress(src: bytes, uncompressed_len: int) -> bytes:
    """C Snappy raw-block decode; raises ValueError on malformed input."""
    lib = _lib()
    if not lib:
        raise RuntimeError("C library unavailable")
    dst = np.empty(uncompressed_len, np.uint8)
    src_arr = np.frombuffer(src, np.uint8)
    wrote = lib.snappy_decompress_block(
        _u8(src_arr), ctypes.c_int64(len(src)), _u8(dst),
        ctypes.c_int64(uncompressed_len),
    )
    if wrote != uncompressed_len:
        raise ValueError(
            f"malformed Snappy block: wrote {wrote} of {uncompressed_len} bytes"
        )
    return dst.tobytes()


def available() -> bool:
    return bool(_lib())


def _u8(arr):  # ctypes views over numpy buffers
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8))


def _i32p(arr):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_int32))


def _i64p(arr):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))


def _validity_buf(valid: np.ndarray):
    if valid.all():
        return None, 0
    packed = np.packbits(valid.view(np.bool_), bitorder="little")
    return pa.py_buffer(packed.tobytes()), int(len(valid) - valid.sum())


def _binary(n, data, offsets, valid) -> pa.Array:
    vbuf, nulls = _validity_buf(valid)
    return pa.Array.from_buffers(
        pa.binary(), n,
        [vbuf, pa.py_buffer(offsets), pa.py_buffer(data)],
        null_count=nulls,
    )


def _int_arr(n, values, valid, pa_type) -> pa.Array:
    vbuf, nulls = _validity_buf(valid)
    return pa.Array.from_buffers(
        pa_type, n, [vbuf, pa.py_buffer(values)], null_count=nulls
    )


class _Out:
    """The numpy buffers one scan_cells / scan_cells_ma call fills."""

    def __init__(self, cap_cells: int, cap_bytes: int):
        def data():
            return np.empty(cap_bytes, np.uint8)

        def offsets():
            return np.empty(cap_cells + 1, np.int32)

        def per_cell(dtype):
            return np.empty(cap_cells, dtype)

        self.caps = (ctypes.c_int64(cap_cells), ctypes.c_int64(cap_bytes))
        self.key_data, self.key_off = data(), offsets()
        self.name_data, self.name_off, self.name_valid = data(), offsets(), per_cell(np.uint8)
        self.max_data, self.max_off, self.max_valid = data(), offsets(), per_cell(np.uint8)
        self.val_data, self.val_off, self.val_valid = data(), offsets(), per_cell(np.uint8)
        self.ts, self.kind = per_cell(np.int64), per_cell(np.uint8)
        self.ttl, self.ttl_valid = per_cell(np.int32), per_cell(np.uint8)
        self.ldt, self.ldt_valid = per_cell(np.int32), per_cell(np.uint8)
        self.tsd, self.tsd_valid = per_cell(np.int64), per_cell(np.uint8)
        self.row_deleted, self.row_cells = per_cell(np.int64), per_cell(np.int32)
        self.out = _ScanOut()

    def args(self) -> tuple:
        """Both kernels' trailing arguments: capacities, output buffers
        and the result struct."""
        return (
            *self.caps,
            _u8(self.key_data), _i32p(self.key_off),
            _u8(self.name_data), _i32p(self.name_off), _u8(self.name_valid),
            _u8(self.max_data), _i32p(self.max_off), _u8(self.max_valid),
            _u8(self.val_data), _i32p(self.val_off), _u8(self.val_valid),
            _i64p(self.ts), _u8(self.kind),
            _i32p(self.ttl), _u8(self.ttl_valid),
            _i32p(self.ldt), _u8(self.ldt_valid),
            _i64p(self.tsd), _u8(self.tsd_valid),
            _i64p(self.row_deleted), _i32p(self.row_cells),
            ctypes.byref(self.out),
        )

    def batch(self, source_path: str, generation: int) -> pa.RecordBatch:
        n, out = int(self.out.n), self.out
        return cells_batch(
            n, source_path, generation,
            self.row_deleted[: out.rows], self.row_cells[: out.rows], self.kind[:n],
            [
                _binary(n, self.key_data[: out.key_bytes], self.key_off[: n + 1],
                        np.ones(n, np.uint8)),
                _binary(n, self.name_data[: out.name_bytes], self.name_off[: n + 1],
                        self.name_valid[:n]),
                _binary(n, self.max_data[: out.max_bytes_used], self.max_off[: n + 1],
                        self.max_valid[:n]),
                _binary(n, self.val_data[: out.val_bytes], self.val_off[: n + 1],
                        self.val_valid[:n]),
                pa.Array.from_buffers(pa.int64(), n, [None, pa.py_buffer(self.ts[:n])]),
                _int_arr(n, self.ttl[:n], self.ttl_valid[:n], pa.int32()),
                _int_arr(n, self.ldt[:n], self.ldt_valid[:n], pa.int32()),
                _int_arr(n, self.tsd[:n], self.tsd_valid[:n], pa.int64()),
            ],
        )


def _scan_loop(kernel, fmt_args: tuple, data, start, end, source_path,
               generation, batch_rows, fallback=None) -> Iterator[pa.RecordBatch]:
    """Drive one C kernel over ``data[start:end]`` batch by batch. A row
    larger than the batch caps doubles them and retries; corruption raises
    ValueError after the cells the kernel completed were yielded; a 3.x
    shape the kernel does not cover (MA_UNSUPPORTED) hands the rest of the
    split to ``fallback(offset)``."""
    mv = memoryview(data)
    total = len(mv)
    stop = total if end is None else end
    # zero-copy pointer into the source buffer (mmap and bytes both export
    # the buffer protocol; keep `obj` alive for the duration of the scan)
    obj = np.frombuffer(mv, dtype=np.uint8)
    c_buf = _u8(obj)
    cap_cells = max(1024, int(batch_rows))
    cap_bytes = BATCH_BYTES
    o = start
    while o < stop:
        out = _Out(cap_cells, cap_bytes)
        rc = kernel(c_buf, ctypes.c_int64(total), ctypes.c_int64(o),
                    ctypes.c_int64(stop), *fmt_args, *out.args())
        if rc == ROW_TOO_BIG:
            cap_cells *= 2
            cap_bytes *= 2
            continue
        if out.out.n:
            yield out.batch(source_path, generation)
        if rc == DONE:
            return
        o = int(out.out.consumed)
        if rc == MORE:
            continue
        if rc == MA_UNSUPPORTED and fallback is not None:
            yield from fallback(o)
            return
        raise ValueError(f"corrupt sstable data at offset {o} in {source_path!r}")


def scan_data_buffer_batches(
    data,
    *,
    version: str = "jb",
    start: int = 0,
    end: int | None = None,
    source_path: str = "",
    generation: int = 0,
    batch_rows: int = BATCH_CELLS,
    skip_corrupt: bool = False,
) -> Iterator[pa.RecordBatch]:
    """C-accelerated twin of arrow_decode.scan_data_buffer_batches."""
    lib = _lib()
    if not lib:
        raise RuntimeError("C scanner unavailable; use arrow_decode")
    if version >= "ma":
        from .descriptor import check_modern_version

        check_modern_version(version)
        # "oa" (5.0) rides the same C path: the scanner never reads the
        # partition-level localDeletionTime (only mfda at +4, so the
        # unsigned encoding is moot) and every in-row ldt saturates at
        # Integer.MAX_VALUE via ma_sat_ldt — byte-for-byte the Python
        # twin's _sat_ldt behavior.
        batches = _scan_ma_batches(
            lib, data, start, end, source_path, generation, batch_rows, version
        )
    else:
        has_rs_cc = ctypes.c_int(1 if version < "ja" else 0)
        batches = _scan_loop(
            lib.scan_cells, (has_rs_cc,), data, start, end, source_path,
            generation, batch_rows,
        )
    yield from contain(batches, skip_corrupt=skip_corrupt,
                       source_path=source_path, generation=generation)


def _ma_meta(header):
    """SerializationHeader -> flat ctypes-ready metadata arrays."""
    from .modern import fixed_size_of, is_complex

    cl = np.array(
        [fixed_size_of(t) for t in header.clustering_types] or [0], np.int32
    )

    def cols(entries):
        names = bytearray()
        offs = [0]
        fixed = []
        cplx = []
        for name, t in entries:
            names += name
            offs.append(len(names))
            fixed.append(fixed_size_of(t))
            cplx.append(1 if is_complex(t) else 0)
        return (
            np.frombuffer(bytes(names) or b"\x00", np.uint8),
            np.array(offs, np.int32),
            np.array(fixed or [0], np.int32),
            np.array(cplx or [0], np.uint8),
        )

    return cl, cols(header.regular_columns), cols(header.static_columns)


def _scan_ma_batches(lib, data, start, end, source_path, generation,
                     batch_rows, version) -> Iterator[pa.RecordBatch]:
    """C-accelerated 3.x scan — twin of modern.scan_data_buffer_rows_modern.
    A shape the C path doesn't do (>=64-column subsets, deep RT nesting,
    oversized components) falls back to the pure-Python decoder FROM THE
    SAME PARTITION — never a wrong answer, only a slower path, and
    logged. Corruption drops the broken partition whole; the complete
    partitions before it were already emitted."""
    from .modern import header_for_data_file

    header = header_for_data_file(source_path)
    cl, (rn, ro, rf, rc_), (sn, so, sf, sc_) = _ma_meta(header)
    scratch = np.empty(1 << 20, np.uint8)
    fmt_args = (
        ctypes.c_int64(header.min_timestamp),
        ctypes.c_int64(header.min_local_deletion_time),
        ctypes.c_int64(header.min_ttl),
        ctypes.c_int32(len(header.clustering_types)), _i32p(cl),
        ctypes.c_int32(len(header.regular_columns)),
        _u8(rn), _i32p(ro), _i32p(rf), _u8(rc_),
        ctypes.c_int32(len(header.static_columns)),
        _u8(sn), _i32p(so), _i32p(sf), _u8(sc_),
        _u8(scratch), ctypes.c_int64(len(scratch)),
    )

    def fallback(offset: int):
        log.warning(
            "C scanner does not cover the partition at offset %d of %s; "
            "the pure-Python decoder decodes the rest of the split",
            offset, source_path,
        )
        return modern_batches(
            data, start=offset, end=end, source_path=source_path,
            generation=generation, batch_rows=batch_rows, version=version,
        )

    return _scan_loop(lib.scan_cells_ma, fmt_args, data, start, end,
                      source_path, generation, batch_rows, fallback)
