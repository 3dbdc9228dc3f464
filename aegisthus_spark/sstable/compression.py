"""CompressionInfo.db sidecar + chunk decompression.

Sidecar layout (public Cassandra format; reference behavior:
io/sstable/compression/CompressionMetadata.java:37-107):

    UTF compressor class simple name (u16 len + bytes)
    i32 option count, then (UTF key, UTF value) pairs
    i32 chunk length (uncompressed bytes per chunk)
    i64 total uncompressed data length
    i32 chunk count, then i64 chunk offsets into the compressed file

Each chunk in Data.db is [compressed bytes][4-byte checksum]; the checksum
is skipped, as in the reference (CompressionInputStream.java:125-126).

LZ4 chunks carry a 4-byte little-endian uncompressed-length prefix
(Cassandra's LZ4Compressor convention); the block itself is standard LZ4
block format, decoded here in pure Python (no lz4 wheel in this env).
DeflateCompressor uses zlib. ZstdCompressor (Cassandra >= 4.0) chunks are
standard zstd frames, decoded via the zstandard wheel when present, else
pyarrow's bundled codec. SnappyCompressor raises until a codec is
available.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass
from typing import BinaryIO


@dataclass
class CompressionInfo:
    compressor: str
    options: dict
    chunk_length: int
    data_length: int
    chunk_offsets: list[int]

    @classmethod
    def read(cls, f: BinaryIO) -> "CompressionInfo":
        def u16() -> int:
            return struct.unpack(">H", f.read(2))[0]

        def utf() -> str:
            return f.read(u16()).decode("utf-8")

        name = utf()
        n_opts = struct.unpack(">i", f.read(4))[0]
        options = {utf(): utf() for _ in range(n_opts)}
        chunk_length = struct.unpack(">i", f.read(4))[0]
        data_length = struct.unpack(">q", f.read(8))[0]
        n_chunks = struct.unpack(">i", f.read(4))[0]
        offsets = list(struct.unpack(f">{n_chunks}q", f.read(8 * n_chunks)))
        return cls(name, options, chunk_length, data_length, offsets)

    @classmethod
    def read_path(cls, path: str) -> "CompressionInfo":
        with open(path, "rb") as f:
            return cls.read(f)

    def chunk_ranges(self, file_size: int) -> list[tuple[int, int]]:
        """(offset, compressed_length) per chunk; length excludes the
        4-byte checksum trailer."""
        out = []
        for i, off in enumerate(self.chunk_offsets):
            nxt = self.chunk_offsets[i + 1] if i + 1 < len(self.chunk_offsets) else file_size
            out.append((off, nxt - off - 4))
        return out

    def decompress(self, f: BinaryIO, file_size: int, lo: int, hi: int) -> bytes:
        """Chunks [lo, hi) of the open Data.db ``f`` decompressed into one
        buffer, which starts at uncompressed offset ``lo * chunk_length``.
        The chunk map makes this random access: a split decompresses only
        its own chunks (the reference schedules compressed files whole,
        AegisthusInputFormat.java:131-135)."""
        offsets = self.chunk_offsets
        out = []
        for i in range(lo, hi):
            nxt = offsets[i + 1] if i + 1 < len(offsets) else file_size
            f.seek(offsets[i])
            raw = f.read(nxt - offsets[i] - 4)
            ulen = min(self.chunk_length, self.data_length - i * self.chunk_length)
            out.append(decompress_chunk(self.compressor, raw, ulen))
        return b"".join(out)


def lz4_block_decompress(src: bytes, uncompressed_len: int) -> bytes:
    """Pure-Python LZ4 block decode (public block format: token byte with
    literal/match lengths, 2-byte little-endian match offset).

    Malformed input raises ValueError — mirroring the C twin's guards. In
    particular a match offset beyond the decoded prefix must NOT fall
    through to Python negative indexing (which would silently read from
    the END of the buffer: corruption, not an error)."""
    dst = bytearray(uncompressed_len)
    si, di, n = 0, 0, len(src)
    while si < n and di < uncompressed_len:
        token = src[si]
        si += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if si >= n:
                    raise ValueError("malformed LZ4 block: truncated literal length")
                b = src[si]
                si += 1
                lit += b
                if b != 255:
                    break
        if lit:
            if si + lit > n or di + lit > uncompressed_len:
                raise ValueError("malformed LZ4 block: literal run out of bounds")
            dst[di:di + lit] = src[si:si + lit]
            si += lit
            di += lit
        if si >= n:
            break  # last literals-only sequence
        if si + 2 > n:
            raise ValueError("malformed LZ4 block: truncated match offset")
        offset = src[si] | (src[si + 1] << 8)
        si += 2
        if offset == 0 or offset > di:
            raise ValueError("malformed LZ4 block: match offset out of range")
        mlen = (token & 0x0F) + 4
        if (token & 0x0F) == 15:
            while True:
                if si >= n:
                    raise ValueError("malformed LZ4 block: truncated match length")
                b = src[si]
                si += 1
                mlen += b
                if b != 255:
                    break
        if di + mlen > uncompressed_len:
            raise ValueError("malformed LZ4 block: match run past output")
        mstart = di - offset
        if offset >= mlen:  # non-overlapping: single slice copy
            dst[di:di + mlen] = dst[mstart:mstart + mlen]
            di += mlen
        else:  # overlapping match: byte-at-a-time semantics
            for k in range(mlen):
                dst[di + k] = dst[mstart + k]
            di += mlen
    if di != uncompressed_len:
        raise ValueError(
            f"malformed LZ4 block: wrote {di} of {uncompressed_len} bytes"
        )
    return bytes(dst)


def _native_lz4():
    """Fastest available LZ4 block codec; cached probe.

    Order: lz4 wheel, cramjam, then the gcc-built decoder shipped with the
    C scanner (cparse) — so any host that can compile gets native-speed
    LZ4 with no packages at all. The pure-Python fallback is correct but
    ~100x slower — a real decode-throughput cliff on compressed Priam
    backups; it only runs on hosts with neither wheels nor a compiler.
    """
    global _LZ4_MOD
    if _LZ4_MOD is None:
        try:
            import lz4.block as _mod  # type: ignore

            _LZ4_MOD = _mod
        except ImportError:
            try:
                import cramjam  # type: ignore

                _LZ4_MOD = cramjam.lz4
            except ImportError:
                from . import cparse  # deferred: avoids an import cycle

                _LZ4_MOD = cparse if cparse.available() else False
    return _LZ4_MOD


_LZ4_MOD = None


def decompress_chunk(compressor: str, raw: bytes, uncompressed_length: int) -> bytes:
    if compressor == "LZ4Compressor":
        # Cassandra prefixes each LZ4 chunk with the uncompressed length (LE)
        ulen = struct.unpack("<i", raw[:4])[0]
        mod = _native_lz4()
        if mod:
            if hasattr(mod, "lz4_decompress"):  # gcc-built decoder (cparse)
                return mod.lz4_decompress(raw[4:], ulen)
            if hasattr(mod, "decompress_block"):  # cramjam.lz4
                return bytes(mod.decompress_block(raw[4:], output_len=ulen))
            return mod.decompress(raw[4:], uncompressed_size=ulen)  # lz4.block
        return lz4_block_decompress(raw[4:], ulen)
    if compressor == "DeflateCompressor":
        return zlib.decompress(raw)
    if compressor == "ZstdCompressor":
        # Cassandra >= 4.0 ships ZstdCompressor (zstd-jni): each chunk is
        # one standard zstd frame, no extra prefix. Probe the dedicated
        # wheel first (same pattern as LZ4), else pyarrow's bundled codec
        # (always present in this stack; needs the exact output size,
        # which the chunk map provides).
        try:
            import zstandard  # type: ignore

            return zstandard.ZstdDecompressor().decompress(
                raw, max_output_size=uncompressed_length
            )
        except ImportError:
            import pyarrow as pa

            return bytes(pa.Codec("zstd").decompress(raw, uncompressed_length))
    if compressor == "SnappyCompressor":
        try:
            import snappy  # type: ignore

            return snappy.uncompress(raw)
        except ImportError:
            from . import cparse  # deferred: avoids an import cycle

            if cparse.available():
                return cparse.snappy_decompress(raw, uncompressed_length)
            return snappy_decompress(raw)
    raise ValueError(f"unsupported compressor: {compressor}")


def snappy_decompress(src: bytes) -> bytes:
    """Pure-Python Snappy raw-block decode (public format: varint length,
    then literal/copy tagged elements).

    Malformed input raises ValueError, mirroring the C twin — copy offsets
    past the decoded prefix must not reach Python negative indexing."""
    i = 0
    ulen = 0
    shift = 0
    n = len(src)
    while True:
        if i >= n or shift > 56:
            raise ValueError("malformed Snappy block: bad length varint")
        b = src[i]
        i += 1
        ulen |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    dst = bytearray(ulen)
    di = 0
    while i < n:
        tag = src[i]
        i += 1
        t = tag & 3
        if t == 0:  # literal
            ln = (tag >> 2) + 1
            if ln > 60:
                extra = ln - 60
                if i + extra > n:
                    raise ValueError("malformed Snappy block: truncated literal length")
                ln = int.from_bytes(src[i:i + extra], "little") + 1
                i += extra
            if i + ln > n or di + ln > ulen:
                raise ValueError("malformed Snappy block: literal out of bounds")
            dst[di:di + ln] = src[i:i + ln]
            i += ln
            di += ln
        else:
            if t == 1:
                if i >= n:
                    raise ValueError("malformed Snappy block: truncated copy")
                ln = ((tag >> 2) & 7) + 4
                off = ((tag >> 5) << 8) | src[i]
                i += 1
            elif t == 2:
                if i + 2 > n:
                    raise ValueError("malformed Snappy block: truncated copy")
                ln = (tag >> 2) + 1
                off = int.from_bytes(src[i:i + 2], "little")
                i += 2
            else:
                if i + 4 > n:
                    raise ValueError("malformed Snappy block: truncated copy")
                ln = (tag >> 2) + 1
                off = int.from_bytes(src[i:i + 4], "little")
                i += 4
            if off == 0 or off > di or di + ln > ulen:
                raise ValueError("malformed Snappy block: copy out of range")
            mstart = di - off
            if off >= ln:
                dst[di:di + ln] = dst[mstart:mstart + ln]
            else:
                for k in range(ln):
                    dst[di + k] = dst[mstart + k]
            di += ln
    if di != ulen:
        raise ValueError(f"malformed Snappy block: wrote {di} of {ulen} bytes")
    return bytes(dst)


def find_compression_sidecar(data_path: str) -> str | None:
    """Locate the -CompressionInfo.db for a -Data.db.

    Exact sibling first; else, Priam backup layouts place sidecars under a
    per-minute datetime directory, so a 10+-digit numeric path component is
    retried at +1 and -1 minute (reference:
    AegisthusInputFormat.getCompressionPath, :82-112).
    """
    import os
    import re

    exact = data_path.replace("-Data.db", "-CompressionInfo.db")
    if exact != data_path and os.path.exists(exact):
        return exact
    m = re.match(r".*/([0-9]{10,})/[^/]+$", exact)
    if not m:
        return None
    dt = m.group(1)
    for delta in (1, -1):
        cand = exact.replace(f"/{dt}/", f"/{int(dt) + delta}/")
        if os.path.exists(cand):
            return cand
    return None
