"""Data.db decode, one split at a time.

:func:`scan_split` is the one entry every reader of Data.db goes through —
the Spark source's decode tasks (one call per planned split) and
:func:`scan_file` (whole files on the driver: ``sstable2json`` and the
tests) — the role SSTableColumnScanner plays in the reference (PAPER.md
§1.1). It is also the only place that picks the C scanner (``_scan.c``
via :mod:`.cparse`) or its pure-Python twin (:mod:`.arrow_decode`, which
documents the 2.x byte layout; :mod:`.modern` documents 3.x).
"""

from __future__ import annotations

import logging
import mmap
import os
import struct
from typing import Iterator

import pyarrow as pa

from . import cparse
from .arrow_decode import contain, scan_data_buffer_batches
from .compression import CompressionInfo

log = logging.getLogger(__name__)

#: what a scanner raises on a row that runs past the end of its buffer:
#: ValueError from the C scanner and the twins' bound checks, struct.error
#: from the 2.x twin's fixed-width reads, IndexError from the 3.x twin's
#: flag reads
_PAST_TAIL = (ValueError, struct.error, IndexError)

_warned_fallback = False


def _scanner():
    """The C scanner when this host can build it, else the pure-Python
    twin — 30-72x slower, so the fallback is logged once per process."""
    global _warned_fallback
    if cparse.available():
        return cparse.scan_data_buffer_batches
    if not _warned_fallback:
        _warned_fallback = True
        log.warning(
            "C scanner unavailable on this host (no gcc build); decoding "
            "SSTables with the pure-Python scanner, 30-72x slower"
        )
    return scan_data_buffer_batches


def scan_split(
    path: str,
    start: int = 0,
    end: int | None = None,
    *,
    version: str,
    generation: int = 0,
    compression_path: str | None = None,
    skip_corrupt: bool = False,
) -> Iterator[pa.RecordBatch]:
    """One split of a Data.db -> canonical Arrow batches.

    ``start`` is a row boundary (0 or an Index.db offset); every row that
    STARTS before ``end`` (default: the end of the data) is decoded whole.
    Offsets are uncompressed positions, for compressed files too. Plain
    files are mmapped; zero-length files yield nothing (P5).
    ``skip_corrupt``: keep the cells decoded before an error, then one
    sentinel row (``arrow_decode.contain``)."""
    scan = _scanner()
    kw = dict(version=version, source_path=path, generation=generation)
    if compression_path:
        batches = _scan_compressed(scan, path, compression_path, start, end, kw)
    else:
        batches = _scan_mapped(scan, path, start, end, kw)
    yield from contain(batches, skip_corrupt=skip_corrupt, source_path=path,
                       generation=generation)


def _scan_mapped(scan, path, start, end, kw):
    if os.path.getsize(path) == 0:
        return
    with open(path, "rb") as fh:
        # unmapped once the last view into it is gone: an explicit close
        # fails while a scanner error's traceback still holds views
        mm = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
    yield from scan(mm, start=start, end=end, **kw)


def _scan_compressed(scan, path, compression_path, start, end, kw):
    """Decompress the chunks covering [start, end) into one buffer and scan
    it. A row spilling past the buffer's tail (Index.db splits end on a row
    start, so only other ends spill) looks like corruption: on an error the
    buffer grows (doubling its chunk count) and the scan restarts; only once
    the file's last chunk is in the buffer is the error real. Batches are
    collected per split, so a restart never yields a cell twice."""
    info = CompressionInfo.read_path(compression_path)
    size = os.path.getsize(path)
    n_chunks = len(info.chunk_offsets)
    cl = info.chunk_length
    end = info.data_length if end is None else min(end, info.data_length)
    first = start // cl
    last = min(n_chunks, -(-end // cl))
    base = first * cl
    with open(path, "rb") as f:
        buf = info.decompress(f, size, first, last)
        while True:
            batches = []
            try:
                for batch in scan(buf, start=start - base, end=end - base, **kw):
                    batches.append(batch)
                break
            except _PAST_TAIL:
                if last == n_chunks:
                    yield from batches
                    raise
                grow = min(n_chunks, last + max(1, last - first))
                buf += info.decompress(f, size, last, grow)
                last = grow
    yield from batches


def scan_file(
    path: str,
    errors: str = "raise",
    on_corrupt=None,
    compression_path: str | None = None,
    version: str | None = None,
) -> Iterator[dict]:
    """Decode a whole Data.db on local disk into cell dicts (version from
    the filename, compression from the sidecar) through :func:`scan_split`.

    Compression sidecar discovery mirrors AegisthusInputFormat.getCompressionPath
    (exact sibling, else ±1-minute datetime directory); ``compression_path``
    overrides it (the reference tool's ``-comp`` flag).

    ``errors='skip'``: a decode error ends this file's cells (cells decoded
    before the error are kept) and calls ``on_corrupt(path, exc)`` — the
    reference's corrupt-input containment (SSTableRecordReader.java:108-116
    routes decode errors to an empty stream + counter; P6).
    """
    from .compression import find_compression_sidecar
    from .descriptor import parse_filename, version_of

    try:
        generation = parse_filename(path).generation
    except ValueError:
        generation = 0
    for batch in scan_split(
        path,
        version=version or version_of(path),
        generation=generation,
        compression_path=compression_path or find_compression_sidecar(path),
        skip_corrupt=errors == "skip",
    ):
        for cell in batch.to_pylist():
            if cell["kind"] != "!":
                yield cell
            elif on_corrupt is not None:
                on_corrupt(path, ValueError(f"corrupt SSTable data in {path}"))
