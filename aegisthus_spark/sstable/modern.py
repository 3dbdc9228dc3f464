"""Cassandra 3.x+ ("ma"/"mb"/"mc"...) big-format SSTable decoder.

The reference engine stops at the 2.2 "la" format
(SSTableColumnScanner.java:83-119 handles <= la only); this module takes
the same pipeline to the 3.0 storage engine, where real clusters live
today. Everything here implements the PUBLIC Cassandra 3.x on-disk
format (org.apache.cassandra.db.rows.UnfilteredSerializer,
ClusteringPrefix.Serializer, SerializationHeader.Component,
EncodingStats, VIntCoding, Columns.serializeSubset — all Apache-2.0
public source).

Layout summary (version ma, uncompressed Data.db):

    partition:
        u16 key length, key bytes
        DeletionTime: i32 localDeletionTime, i64 markedForDeleteAt (plain)
        unfiltereds... until flags byte 0x01 (END_OF_PARTITION)

    row:  flags u8 [extended u8]
          clustering blocks (header vint per 32 cols, 2 bits each:
              null/empty; values: fixed-size raw or uvint length+bytes)
          uvint row-body-size, uvint prev-unfiltered-size
          [uvint ts delta]            if HAS_TIMESTAMP  (pk liveness)
          [uvint ttl d, uvint ldt d]  if HAS_TTL
          [uvint mfda d, uvint ldt d] if HAS_DELETION   (row tombstone)
          [uvint missing-col bitmap]  if !HAS_ALL_COLUMNS
          cells per present column (cell flags u8, deltas, value)

    marker: flags u8 (IS_MARKER)
          bound kind u8, u16 n-values, clustering blocks
          uvint body size, uvint prev size
          DeletionTime deltas (x2 for boundaries: end then start)

All timestamp/ldt/ttl fields are unsigned-vint DELTAS against the
sstable's EncodingStats minima, which live in the SerializationHeader
component of Statistics.db.

**Output mapping — the design decision.** Decoded 3.x atoms are emitted
as the repo's canonical 2.x-shaped cells (`arrow_decode.ROW_FIELDS`) with
2.x CompositeType cell names (u16 len + bytes + end-of-component byte
per component; 0xFFFF prefix for statics):

    cell (c1..cn, col)        -> name = comp(c1..cn, col), kind c/d/e
    pk liveness               -> 2.x row marker: comp(c1..cn, "") kind c/e
    row deletion @ (c1..cn)   -> kind 't', [comp(c1..cn) eoc 0x00,
                                            comp(c1..cn) eoc 0x01]
    complex deletion @ col    -> kind 't' over the comp(c1..cn, col) prefix
    complex cell w/ path      -> name = comp(c1..cn, col, path)
    RT marker open..close     -> kind 't' with the matched bound pair
    static cell               -> name = 0xFFFF + comp(col), kind c/d/e
    partition deletion        -> row_deleted_at on every cell ('r' if empty)

so `compact()`, `cql.py` group assembly and aeg-JSON output run
UNCHANGED on 3.x input: the inclusive byte-range coverage check
`min <= name <= max` (compact.py J2) holds because a composite prefix
with final end-of-component byte 0x00 sorts <= every extension and the
same prefix with 0x01 sorts > every extension.

Known limitation: 3.x counter columns (CounterColumnType) decode as
plain 'c' cells with the counter-context blob as the opaque value — LWW
picks the newest context rather than merging shards. The 2.x path has
the same posture (counters ride an Observation, SURVEY A4); true 3.x
counter-context merging is out of scope.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass
from typing import Iterator

LONG_MIN = -(1 << 63)
U64_MASK = (1 << 64) - 1

# EncodingStats epochs (EncodingStats.java: 2015-09-22 00:00:00 UTC)
TIMESTAMP_EPOCH = 1442880000 * 1_000_000  # micros
DELETION_TIME_EPOCH = 1442880000  # seconds
TTL_EPOCH = 0
NO_DELETION_LDT = 2147483647  # Integer.MAX_VALUE = DeletionTime.LIVE ldt (<5.0)
INT32_MAX = 2147483647

# Cassandra 5.0 (format "oa", CASSANDRA-14227) widens localDeletionTime:
# in memory it is a long with Cell.NO_DELETION_TIME = Long.MAX_VALUE as the
# live sentinel; the fixed-width on-disk encoding becomes an UNSIGNED int
# where 0xFFFFFFFF means no-deletion (Cell.deletionTimeUnsignedIntegerToLong)
# and real values reach 2106 instead of 2038. Vint-delta encodings inside
# row bodies are structurally unchanged (still unsigned vints against the
# EncodingStats minima), only the sentinel VALUE differs.
NO_DELETION_LDT_5 = (1 << 63) - 1  # Long.MAX_VALUE
LIVE_LDT_UINT = 0xFFFFFFFF

# UnfilteredSerializer flags
END_OF_PARTITION = 0x01
IS_MARKER = 0x02
HAS_TIMESTAMP = 0x04
HAS_TTL = 0x08
HAS_DELETION = 0x10
HAS_ALL_COLUMNS = 0x20
HAS_COMPLEX_DELETION = 0x40
EXTENSION_FLAG = 0x80
# extended flags
IS_STATIC = 0x01

# Cell serializer flags
CELL_IS_DELETED = 0x01
CELL_IS_EXPIRING = 0x02
CELL_HAS_EMPTY_VALUE = 0x04
CELL_USE_ROW_TIMESTAMP = 0x08
CELL_USE_ROW_TTL = 0x10

# ClusteringPrefix.Kind ordinals (bound/boundary serialization)
KIND_EXCL_END_BOUND = 0
KIND_INCL_START_BOUND = 1
KIND_EXCL_END_INCL_START_BOUNDARY = 2
KIND_STATIC_CLUSTERING = 3
KIND_CLUSTERING = 4
KIND_INCL_END_EXCL_START_BOUNDARY = 5
KIND_INCL_END_BOUND = 6
KIND_EXCL_START_BOUND = 7

_U16 = struct.Struct(">H")
_I32 = struct.Struct(">i")
_U32 = struct.Struct(">I")
_I64 = struct.Struct(">q")


def _sat_ldt(ldt: int) -> int:
    """Clamp a local-deletion-time into the canonical int32 cell schema.

    Only 5.0+ ("oa") inputs can legitimately exceed Integer.MAX_VALUE
    (CASSANDRA-14227 extends expirations to 2106); the 2.x-canonical cell
    schema keeps its int32 ldt, so post-2038 values saturate to
    Integer.MAX_VALUE — which is also the legacy live sentinel the 5.0
    in-memory sentinel (Long.MAX_VALUE) must map back to. ldt is
    gc-grace/rendering metadata only: LWW reconciliation and tombstone
    coverage decide on ts/markedForDeleteAt, which stay exact."""
    return ldt if ldt <= INT32_MAX else INT32_MAX

_MARSHAL = "org.apache.cassandra.db.marshal."

#: AbstractType.valueLengthIfFixed() for the fixed-size marshal types;
#: anything absent is variable-length (uvint length prefix).
FIXED_SIZES = {
    _MARSHAL + "Int32Type": 4,
    _MARSHAL + "LongType": 8,
    _MARSHAL + "BooleanType": 1,
    _MARSHAL + "ByteType": 1,
    _MARSHAL + "ShortType": 2,
    _MARSHAL + "FloatType": 4,
    _MARSHAL + "DoubleType": 8,
    _MARSHAL + "TimestampType": 8,
    _MARSHAL + "DateType": 8,
    _MARSHAL + "SimpleDateType": 4,
    _MARSHAL + "TimeType": 8,
    _MARSHAL + "UUIDType": 16,
    _MARSHAL + "TimeUUIDType": 16,
    _MARSHAL + "LexicalUUIDType": 16,
    _MARSHAL + "EmptyType": 0,
}


def unwrap_reversed(type_name: str) -> str:
    t = type_name.strip()
    if t.startswith(_MARSHAL + "ReversedType(") and t.endswith(")"):
        return t[len(_MARSHAL + "ReversedType(") : -1].strip()
    return t


def fixed_size_of(type_name: str) -> int:
    """valueLengthIfFixed: byte width for fixed types, -1 for variable."""
    return FIXED_SIZES.get(unwrap_reversed(type_name), -1)


def is_complex(type_name: str) -> bool:
    """Non-frozen collections/UDTs are multi-cell ('complex') columns."""
    t = unwrap_reversed(type_name)
    for c in ("ListType(", "SetType(", "MapType("):
        if t.startswith(_MARSHAL + c):
            return True
    # non-frozen UDTs are multi-cell from 3.6+; treat them as complex too
    return t.startswith(_MARSHAL + "UserType(")


# ---------------------------------------------------------------------------
# Cassandra vint codec (VIntCoding.java)
# ---------------------------------------------------------------------------

def read_unsigned_vint(buf, o: int) -> tuple[int, int]:
    """(value, next offset). First byte's leading-one count = extra bytes."""
    first = buf[o]
    o += 1
    if first < 0x80:
        return first, o
    # number of leading ones
    extra = 0
    b = first
    while b & 0x80:
        extra += 1
        b = (b << 1) & 0xFF
    value = first & (0xFF >> extra)
    for _ in range(extra):
        value = (value << 8) | buf[o]
        o += 1
    return value, o


def read_unsigned_vint_signed64(buf, o: int) -> tuple[int, int]:
    """Unsigned vint reinterpreted as a signed 64-bit long (deltas can
    round-trip negative longs through the unsigned encoding)."""
    v, o = read_unsigned_vint(buf, o)
    if v >= 1 << 63:
        v -= 1 << 64
    return v, o


def read_vint(buf, o: int) -> tuple[int, int]:
    """Signed (zigzag) vint."""
    v, o = read_unsigned_vint(buf, o)
    return (v >> 1) ^ -(v & 1), o


def write_unsigned_vint(value: int) -> bytes:
    value &= U64_MASK
    if value < 0x80:
        return bytes([value])
    # total size in bytes (VIntCoding.computeUnsignedVIntSize)
    bits = value.bit_length()
    size = 9 if bits > 56 else 1 + (bits - 1) // 7
    extra = size - 1
    if extra == 8:
        return bytes([0xFF]) + value.to_bytes(8, "big")
    first = (value >> (8 * extra)) | (~(0xFF >> extra) & 0xFF)
    return bytes([first]) + (value & ((1 << (8 * extra)) - 1)).to_bytes(extra, "big")


def write_vint(value: int) -> bytes:
    return write_unsigned_vint(((value >> 63) & U64_MASK) ^ ((value << 1) & U64_MASK))


def vint_len(value: int) -> int:
    return len(write_unsigned_vint(value))


# ---------------------------------------------------------------------------
# SerializationHeader (Statistics.db HEADER component)
# ---------------------------------------------------------------------------

#: MetadataType ordinals in the Statistics.db table of contents
METADATA_VALIDATION, METADATA_COMPACTION, METADATA_STATS, METADATA_HEADER = 0, 1, 2, 3


@dataclass(frozen=True)
class SerializationHeader:
    """The subset of SerializationHeader.Component a scan needs."""

    min_timestamp: int
    min_local_deletion_time: int
    min_ttl: int
    key_type: str
    clustering_types: tuple = ()
    static_columns: tuple = ()  # ((name bytes, type str), ...) name-sorted
    regular_columns: tuple = ()


def _read_with_vint_length(buf, o: int) -> tuple[bytes, int]:
    n, o = read_unsigned_vint(buf, o)
    return bytes(buf[o : o + n]), o + n


def parse_serialization_header(
    data: bytes, version: str = "ma"
) -> SerializationHeader:
    """Parse Statistics.db bytes -> the HEADER component.

    Version-gated layout (MetadataSerializer.java): 3.x writes
    ``i32 count, count x (i32 type, i32 position), components...``;
    4.0+ (``hasMetadataChecksum``, version >= na) interleaves CRC32s —
    one over the count int, one over count+TOC ints (a single running
    CRC, FBUtilities.updateChecksumInt big-endian), and one FRESH CRC
    after each component over that component's serialized bytes. The
    checksums are verified here: a mismatch raises ValueError (corrupt),
    exactly what a real 4.x/5.0 reader does."""
    import zlib

    from .descriptor import has_metadata_checksum

    buf = memoryview(data)
    (count,) = _I32.unpack_from(buf, 0)
    checksummed = has_metadata_checksum(version)
    toc_off = 8 if checksummed else 4
    if checksummed:
        (count_crc,) = _U32.unpack_from(buf, 4)
        if count_crc != zlib.crc32(bytes(buf[0:4])):
            raise ValueError("corrupt Statistics.db: component-count CRC mismatch")
        (toc_crc,) = _U32.unpack_from(buf, toc_off + 8 * count)
        if toc_crc != zlib.crc32(
            bytes(buf[0:4]) + bytes(buf[toc_off : toc_off + 8 * count])
        ):
            raise ValueError("corrupt Statistics.db: TOC CRC mismatch")
    header_off = None
    positions = []
    for i in range(count):
        typ, off = struct.unpack_from(">ii", buf, toc_off + 8 * i)
        positions.append(off)
        if typ == METADATA_HEADER:
            header_off = off
    if header_off is None:
        raise ValueError("Statistics.db has no serialization-header component")
    if checksummed:
        # component span ends 4 bytes (its CRC) before the next position
        # (components are written in TOC order) or before EOF for the last
        later = [p for p in positions if p > header_off]
        comp_end = (min(later) if later else len(buf)) - 4
        (comp_crc,) = _U32.unpack_from(buf, comp_end)
        if comp_crc != zlib.crc32(bytes(buf[header_off:comp_end])):
            raise ValueError(
                "corrupt Statistics.db: serialization-header CRC mismatch"
            )
    o = header_off
    # EncodingStats: three unsigned-vint deltas against the fixed epochs
    d, o = read_unsigned_vint_signed64(buf, o)
    min_ts = TIMESTAMP_EPOCH + d
    d, o = read_unsigned_vint_signed64(buf, o)
    min_ldt = DELETION_TIME_EPOCH + d
    d, o = read_unsigned_vint_signed64(buf, o)
    min_ttl = TTL_EPOCH + d
    key_type_b, o = _read_with_vint_length(buf, o)
    n_clustering, o = read_unsigned_vint(buf, o)
    clustering = []
    for _ in range(n_clustering):
        t, o = _read_with_vint_length(buf, o)
        clustering.append(t.decode())

    def read_columns(o):
        n, o = read_unsigned_vint(buf, o)
        cols = []
        for _ in range(n):
            name, o = _read_with_vint_length(buf, o)
            t, o = _read_with_vint_length(buf, o)
            cols.append((name, t.decode()))
        return tuple(cols), o

    statics, o = read_columns(o)
    regulars, o = read_columns(o)
    return SerializationHeader(
        min_timestamp=min_ts,
        min_local_deletion_time=min_ldt,
        min_ttl=min_ttl,
        key_type=key_type_b.decode(),
        clustering_types=tuple(clustering),
        static_columns=statics,
        regular_columns=regulars,
    )


def header_for_data_file(data_path: str) -> SerializationHeader:
    """Locate + parse the Statistics.db sibling of a Data.db path."""
    from .descriptor import parse_filename

    from .descriptor import effective_version

    d = parse_filename(data_path)
    stats = os.path.join(os.path.dirname(data_path), d.sibling("Statistics.db"))
    with open(stats, "rb") as f:
        return parse_serialization_header(
            f.read(), version=effective_version(d.version, d.fmt)
        )


# ---------------------------------------------------------------------------
# 2.x composite-name construction (the output mapping)
# ---------------------------------------------------------------------------

def composite(components: list[bytes], eoc: int = 0, static: bool = False) -> bytes:
    """2.x CompositeType encoding: per component u16 length + bytes +
    end-of-component byte (0 everywhere except ``eoc`` on the last)."""
    out = bytearray()
    if static:
        out += b"\xff\xff"
    last = len(components) - 1
    for i, c in enumerate(components):
        out += _U16.pack(len(c))
        out += c
        out.append(eoc & 0xFF if i == last else 0)
    return bytes(out)


# ---------------------------------------------------------------------------
# Data.db scanner
# ---------------------------------------------------------------------------

@dataclass
class _Ctx:
    """Per-file decode context."""

    header: SerializationHeader
    source_path: str = ""
    generation: int = 0
    # fixed sizes resolved once
    clustering_sizes: tuple = ()
    regular_meta: tuple = ()  # ((name, type, fixed_size, complex), ...)
    static_meta: tuple = ()

    @classmethod
    def build(cls, header, source_path, generation):
        return cls(
            header=header,
            source_path=source_path,
            generation=generation,
            clustering_sizes=tuple(fixed_size_of(t) for t in header.clustering_types),
            regular_meta=tuple(
                (name, t, fixed_size_of(t), is_complex(t))
                for name, t in header.regular_columns
            ),
            static_meta=tuple(
                (name, t, fixed_size_of(t), is_complex(t))
                for name, t in header.static_columns
            ),
        )


def _read_value(buf, o: int, fixed: int) -> tuple[bytes, int]:
    if fixed >= 0:
        if o + fixed > len(buf):
            # memoryview slicing silently truncates at EOF; raise the same
            # corrupt-contract ValueError as the variable path and the C twin
            raise ValueError("corrupt ma SSTable: bad value length")
        return bytes(buf[o : o + fixed]), o + fixed
    n, o = read_unsigned_vint(buf, o)
    if n < 0 or o + n > len(buf):
        raise ValueError("corrupt ma SSTable: bad value length")
    return bytes(buf[o : o + n]), o + n


def _read_clustering_values(buf, o: int, sizes, count: int) -> tuple[list, int]:
    """ClusteringPrefix.serializeValuesWithoutSize: per 32 columns one
    unsigned-vint header (2 bits each: bit0 empty, bit1 null), then the
    non-null non-empty values."""
    values: list = []
    i = 0
    while i < count:
        limit = min(count, i + 32)
        hdr, o = read_unsigned_vint(buf, o)
        base = i
        while i < limit:
            shift = (i - base) * 2
            if hdr & (1 << (shift + 1)):
                values.append(None)
            elif hdr & (1 << shift):
                values.append(b"")
            else:
                v, o = _read_value(buf, o, sizes[i])
                values.append(v)
            i += 1
    return values, o


def _read_column_subset(buf, o: int, superset) -> tuple[list, int]:
    """Columns.serializer.deserializeSubset (Cassandra 3.x Columns.java).

    First unsigned vint ``encoded``: 0 means every superset column is
    present. For supersets < 64 columns ``encoded`` is a bitmap (set bit
    i = superset column i is ABSENT). At >= 64 columns the format
    switches to the "large subset" encoding: ``encoded`` is the count of
    missing columns (delta), followed by either the PRESENT column
    indices (one uvint each, when columnCount < supersetCount/2) or the
    MISSING indices (delta uvints, ascending) — mirroring
    serializeLargeSubset/deserializeLargeSubset exactly, including the
    integer-division branch condition."""
    encoded, o = read_unsigned_vint(buf, o)
    if encoded == 0:
        return list(superset), o
    n = len(superset)
    if n >= 64:
        delta = encoded
        column_count = n - delta
        if column_count < 0:
            raise ValueError("corrupt ma SSTable: column subset delta > superset")
        if column_count < n // 2:
            cols = []
            for _ in range(column_count):
                idx, o = read_unsigned_vint(buf, o)
                if idx >= n:
                    raise ValueError(
                        "corrupt ma SSTable: column subset index out of range"
                    )
                cols.append(superset[idx])
            return cols, o
        missing = set()
        for _ in range(delta):
            idx, o = read_unsigned_vint(buf, o)
            if idx >= n:
                raise ValueError(
                    "corrupt ma SSTable: column subset index out of range"
                )
            missing.add(idx)
        return [c for i, c in enumerate(superset) if i not in missing], o
    cols = []
    for i, col in enumerate(superset):
        if not (encoded >> i) & 1:
            cols.append(col)
    return cols, o


def _s64(v: int) -> int:
    """Wrap to signed 64-bit, mirroring Java long arithmetic: the delta
    encoding of sentinel values (e.g. LIVE's markedForDeleteAt =
    Long.MIN_VALUE) relies on two's-complement wraparound to round-trip."""
    return ((v + (1 << 63)) & U64_MASK) - (1 << 63)


def _read_deletion_time_deltas(buf, o: int, h: SerializationHeader):
    """SerializationHeader.readDeletionTime: mfda then ldt, both deltas.

    ldt is saturated into the canonical int32 schema (only 5.0+ inputs
    can exceed it — see ``_sat_ldt``)."""
    d, o = read_unsigned_vint_signed64(buf, o)
    mfda = _s64(h.min_timestamp + d)
    d, o = read_unsigned_vint_signed64(buf, o)
    ldt = _sat_ldt(_s64(h.min_local_deletion_time + d))
    return mfda, ldt, o


def scan_data_buffer_rows_modern(
    data,
    *,
    source_path: str = "",
    generation: int = 0,
    start: int = 0,
    end: int | None = None,
    header: SerializationHeader | None = None,
    version: str = "ma",
) -> Iterator[tuple]:
    """Decode a 3.x big-format Data.db byte range into canonical
    ROW_FIELDS tuples (see module docstring for the mapping). ``start``
    must sit on a partition boundary (Index.db offsets); partitions that
    START before ``end`` are decoded completely, mirroring the 2.x split
    contract.

    ``version``: "ma".."nc" share this row layout byte-for-byte; "oa"
    (5.0) differs only in the partition-level DeletionTime, whose
    localDeletionTime becomes an unsigned int (0xFFFFFFFF = live) — see
    ``_sat_ldt`` for how 5.0's widened ldts map into the canonical int32
    cell schema."""
    if header is None:
        header = header_for_data_file(source_path)
    from .descriptor import has_uint_deletion_time

    uint_ldt = has_uint_deletion_time(version)
    ctx = _Ctx.build(header, source_path, generation)
    buf = memoryview(data) if not isinstance(data, memoryview) else data
    h = ctx.header
    o = start
    stop = end if end is not None else len(buf)
    total = len(buf)

    while o < stop:
        if o + 2 > total:
            return
        (keysize,) = _U16.unpack_from(buf, o)
        o += 2
        if o + keysize > total:
            raise ValueError("corrupt ma SSTable: key extends past buffer")
        key = bytes(buf[o : o + keysize])
        o += keysize
        # partition-level DeletionTime is PLAIN (not delta): i32 ldt (u32
        # with an 0xFFFFFFFF live sentinel from "oa" on), i64 mfda. Only
        # mfda reaches the canonical tuples (deleted_at); the sentinel
        # check still distinguishes live from deleted for u32 readers.
        if uint_ldt:
            (part_ldt_u,) = _U32.unpack_from(buf, o)
            part_ldt = (
                NO_DELETION_LDT if part_ldt_u == LIVE_LDT_UINT
                else _sat_ldt(part_ldt_u)
            )
        else:
            (part_ldt,) = _I32.unpack_from(buf, o)
        (part_mfda,) = _I64.unpack_from(buf, o + 4)
        o += 12
        deleted_at = part_mfda

        emitted = 0
        open_rt: list = []  # stack of (start_name, mfda, ldt) from markers
        while True:
            flags = buf[o]
            o += 1
            if flags & END_OF_PARTITION:
                break
            if flags & IS_MARKER:
                rows, o = _decode_marker(buf, o, ctx, key, deleted_at, open_rt)
                for r_out in rows:
                    yield r_out
                    emitted += 1
                continue
            extended = 0
            if flags & EXTENSION_FLAG:
                extended = buf[o]
                o += 1
            static = bool(extended & IS_STATIC)
            if static:
                # 2.x static composites keep EMPTY clustering slots before
                # the column name (STATIC prefix + one empty component per
                # clustering column) — cql.py's component split relies on
                # the clustering arity being position-stable
                clustering: list = [b""] * len(ctx.clustering_sizes)
            else:
                clustering, o = _read_clustering_values(
                    buf, o, ctx.clustering_sizes, len(ctx.clustering_sizes)
                )
                if any(c is None for c in clustering):
                    raise ValueError("corrupt ma SSTable: null clustering value")
            # composite prefix pre-encoded ONCE per row: cells only append
            # their column (and path) component
            cprefix = (b"\xff\xff" if static else b"") + b"".join(
                _U16.pack(len(c)) + c + b"\x00" for c in clustering
            )
            _body_size, o = read_unsigned_vint(buf, o)
            _prev_size, o = read_unsigned_vint(buf, o)

            row_ts = None
            row_ttl = None
            row_ldt = None
            if flags & HAS_TIMESTAMP:
                d, o = read_unsigned_vint_signed64(buf, o)
                row_ts = _s64(h.min_timestamp + d)
            if flags & HAS_TTL:
                d, o = read_unsigned_vint_signed64(buf, o)
                row_ttl = h.min_ttl + d
                d, o = read_unsigned_vint_signed64(buf, o)
                row_ldt = _sat_ldt(h.min_local_deletion_time + d)

            if flags & HAS_DELETION:
                del_mfda, del_ldt, o = _read_deletion_time_deltas(buf, o, h)
                # 3.x row tombstone == 2.x range tombstone over the
                # clustering prefix (inclusive byte range, see docstring)
                yield (ctx.source_path, ctx.generation, key, deleted_at, "t",
                       composite(clustering, eoc=0x00),
                       composite(clustering, eoc=0x01),
                       None, del_mfda, None, del_ldt, None)
                emitted += 1

            meta = ctx.static_meta if static else ctx.regular_meta
            if flags & HAS_ALL_COLUMNS:
                cols = list(meta)
            else:
                cols, o = _read_column_subset(buf, o, meta)

            if row_ts is not None:
                # pk liveness -> 2.x CQL row marker (empty last component)
                marker_name = cprefix + b"\x00\x00\x00"
                if row_ttl is not None:
                    yield (ctx.source_path, ctx.generation, key, deleted_at,
                           "e", marker_name, None, b"", row_ts, row_ttl,
                           row_ldt, None)
                else:
                    yield (ctx.source_path, ctx.generation, key, deleted_at,
                           "c", marker_name, None, b"", row_ts, None, None,
                           None)
                emitted += 1

            for name, _t, fixed, cplx in cols:
                if cplx:
                    if flags & HAS_COMPLEX_DELETION:
                        cd_mfda, cd_ldt, o = _read_deletion_time_deltas(buf, o, h)
                        if cd_mfda != LONG_MIN:
                            prefix = clustering + [name]
                            yield (ctx.source_path, ctx.generation, key,
                                   deleted_at, "t",
                                   composite(prefix, eoc=0x00, static=static),
                                   composite(prefix, eoc=0x01, static=static),
                                   None, cd_mfda, None, cd_ldt, None)
                            emitted += 1
                    n_cells, o = read_unsigned_vint(buf, o)
                    for _ in range(n_cells):
                        row_out, o = _decode_cell(
                            buf, o, ctx, key, deleted_at, cprefix, name,
                            -1, static, row_ts, row_ttl, row_ldt,
                            complex_col=True,
                        )
                        yield row_out
                        emitted += 1
                else:
                    row_out, o = _decode_cell(
                        buf, o, ctx, key, deleted_at, cprefix, name,
                        fixed, static, row_ts, row_ttl, row_ldt,
                        complex_col=False,
                    )
                    yield row_out
                    emitted += 1

        if open_rt:
            raise ValueError("corrupt ma SSTable: unclosed range tombstone bound")
        if emitted == 0:
            # empty partition: preserve key + deletion (P7, like 2.x)
            yield (ctx.source_path, ctx.generation, key, deleted_at, "r",
                   None, None, None, LONG_MIN, None, None, None)


def _decode_cell(
    buf, o, ctx, key, deleted_at, clustering, col_name, fixed, static,
    row_ts, row_ttl, row_ldt, *, complex_col,
):
    """Cell.serializer.deserialize -> one canonical cell tuple.

    Hot path: the single-byte vint case (deltas < 128, short values) is
    inlined and the composite prefix is pre-encoded per row — together
    measured 1.45x on dense files (0.29 -> 0.42M cells/s single-core).
    The 100 TB shape for 3.x input is the same as 2.x: decode once via
    stage_dir= to parquet (partition-parallel, ~0.4M cells/s/core) and
    query natively at parquet scan speed thereafter."""
    h = ctx.header
    cflags = buf[o]
    o += 1
    is_deleted = bool(cflags & CELL_IS_DELETED)
    is_expiring = bool(cflags & CELL_IS_EXPIRING)
    has_value = not (cflags & CELL_HAS_EMPTY_VALUE)
    if cflags & CELL_USE_ROW_TIMESTAMP:
        ts = row_ts
    else:
        b = buf[o]
        if b < 0x80:
            ts = _s64(h.min_timestamp + b)
            o += 1
        else:
            d, o = read_unsigned_vint_signed64(buf, o)
            ts = _s64(h.min_timestamp + d)
    ldt = None
    ttl = None
    if is_deleted or is_expiring:
        if cflags & CELL_USE_ROW_TTL:
            ldt, ttl = row_ldt, row_ttl
        else:
            d, o = read_unsigned_vint_signed64(buf, o)
            ldt = _sat_ldt(h.min_local_deletion_time + d)
            if is_expiring:
                d, o = read_unsigned_vint_signed64(buf, o)
                ttl = h.min_ttl + d
    path = None
    if complex_col:
        path, o = _read_value(buf, o, -1)  # collection cell path: uvint+bytes
    value = b""
    if has_value:
        if fixed >= 0:
            if o + fixed > len(buf):
                raise ValueError("corrupt ma SSTable: value extends past buffer")
            value = bytes(buf[o : o + fixed])
            o += fixed
        else:
            b = buf[o]
            if b < 0x80:
                o += 1
                if o + b > len(buf):  # memoryview slicing is silently short
                    raise ValueError(
                        "corrupt ma SSTable: value extends past buffer"
                    )
                value = bytes(buf[o : o + b])
                o += b
            else:
                value, o = _read_value(buf, o, -1)

    # clustering is the PRE-ENCODED composite prefix (built once per row)
    name = clustering + _U16.pack(len(col_name)) + col_name + b"\x00"
    if path is not None:
        name += _U16.pack(len(path)) + path + b"\x00"
    if is_deleted:
        # 2.x DeletedColumn: value payload is its i32 localDeletionTime
        row = (ctx.source_path, ctx.generation, key, deleted_at, "d", name,
               None, _I32.pack(ldt if ldt is not None else 0), ts, None,
               ldt, None)
    elif is_expiring:
        row = (ctx.source_path, ctx.generation, key, deleted_at, "e", name,
               None, value, ts, ttl, ldt, None)
    else:
        row = (ctx.source_path, ctx.generation, key, deleted_at, "c", name,
               None, value, ts, None, None, None)
    return row, o


def _decode_marker(buf, o, ctx, key, deleted_at, open_rt):
    """RangeTombstone bound/boundary marker -> (rows to emit, new offset).

    An open bound pushes (start composite, deletion) onto ``open_rt``; the
    matching close bound emits one 't' cell for the range. A boundary
    closes the current range and opens the next one at the same
    clustering prefix (the 3.x encoding of adjacent ranges).

    EXCLUSIVITY under the inclusive byte-range check (compact.py J2,
    min <= name <= max): a prefix P with final end-of-component byte 0x00
    sorts <= every P-extension and the same prefix with 0x01 sorts >
    every extension, so
        inclusive start -> eoc 0x00   exclusive start -> eoc 0x01
        inclusive end   -> eoc 0x01   exclusive end   -> eoc 0x00
    (an exclusive end at P is the bare-prefix bound itself: below every
    P-cell name, above everything before P)."""
    h = ctx.header
    kind = buf[o]
    o += 1
    (n_values,) = _U16.unpack_from(buf, o)
    o += 2
    values, o = _read_clustering_values(buf, o, ctx.clustering_sizes, n_values)
    values = [v if v is not None else b"" for v in values]
    _body, o = read_unsigned_vint(buf, o)
    _prev, o = read_unsigned_vint(buf, o)

    is_boundary = kind in (
        KIND_EXCL_END_INCL_START_BOUNDARY,
        KIND_INCL_END_EXCL_START_BOUNDARY,
    )
    is_start = kind in (KIND_INCL_START_BOUND, KIND_EXCL_START_BOUND)
    start_eoc = 0x00 if kind in (
        KIND_INCL_START_BOUND, KIND_EXCL_END_INCL_START_BOUNDARY
    ) else 0x01
    end_eoc = 0x01 if kind in (
        KIND_INCL_END_BOUND, KIND_INCL_END_EXCL_START_BOUNDARY
    ) else 0x00

    out = []
    if is_boundary:
        end_mfda, end_ldt, o = _read_deletion_time_deltas(buf, o, h)
        start_mfda, start_ldt, o = _read_deletion_time_deltas(buf, o, h)
        if not open_rt:
            raise ValueError("corrupt ma SSTable: boundary without open bound")
        start_name, mfda, ldt = open_rt.pop()
        if (mfda, ldt) != (end_mfda, end_ldt):
            raise ValueError("corrupt ma SSTable: boundary deletion mismatch")
        out.append((ctx.source_path, ctx.generation, key, deleted_at, "t",
                    start_name, composite(values, eoc=end_eoc), None, mfda,
                    None, ldt, None))
        open_rt.append((composite(values, eoc=start_eoc), start_mfda, start_ldt))
        return out, o
    mfda, ldt, o = _read_deletion_time_deltas(buf, o, h)
    if is_start:
        open_rt.append((composite(values, eoc=start_eoc), mfda, ldt))
        return out, o
    # end bound: close the open range
    if not open_rt:
        raise ValueError("corrupt ma SSTable: end bound without open bound")
    start_name, s_mfda, s_ldt = open_rt.pop()
    if (s_mfda, s_ldt) != (mfda, ldt):
        raise ValueError("corrupt ma SSTable: bound deletion mismatch")
    out.append((ctx.source_path, ctx.generation, key, deleted_at, "t",
                start_name, composite(values, eoc=end_eoc), None, s_mfda, None,
                s_ldt, None))
    return out, o


# ---------------------------------------------------------------------------
# Schema inference: the 3.x header is self-describing
# ---------------------------------------------------------------------------
# 2.x sstables carry only a comparator string, so typed CQL-row assembly
# (cql.cql_rows) needs user-provided DDL. The 3.x serialization header
# stores the partition-key type, clustering types and every column's
# name+type — enough to build the CqlSchema directly from the files.
# (The header does NOT store partition/clustering column NAMES; those live
# in the cluster's schema tables, so inferred schemas use synthetic names
# key/pk0..pkN and ck0..ckN, exactly like sstabledump without a schema.)

#: marshal class -> CQL type accepted by cql.compose_value
_MARSHAL_TO_CQL = {
    "UTF8Type": "text",
    "AsciiType": "ascii",
    "Int32Type": "int",
    "LongType": "bigint",
    "CounterColumnType": "counter",
    "UUIDType": "uuid",
    "TimeUUIDType": "timeuuid",
    "TimestampType": "timestamp",
    "DoubleType": "double",
    "FloatType": "float",
    "BooleanType": "boolean",
    "BytesType": "blob",
    "DecimalType": "decimal",
}


def parse_marshal(t: str) -> tuple[str, list[str]]:
    """'...marshal.ListType(...marshal.UTF8Type)' -> ('ListType', [inner]).
    Splits nested parameter lists at top-level commas."""
    t = t.strip()
    if t.startswith(_MARSHAL):
        t = t[len(_MARSHAL):]
    if "(" not in t:
        return t, []
    base, rest = t.split("(", 1)
    assert rest.endswith(")")
    inner = rest[:-1]
    args, depth, cur = [], 0, []
    for ch in inner:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        args.append("".join(cur))
    return base.strip(), [a.strip() for a in args]


def _cql_type_of(t: str) -> str:
    base, _ = parse_marshal(unwrap_reversed(t))
    return _MARSHAL_TO_CQL.get(base, "blob")


def infer_cql_schema(header: SerializationHeader, table: str = "inferred"):
    """SerializationHeader -> cql.CqlSchema (synthetic key/ck names)."""
    from ..cql import CqlColumn, CqlSchema

    cols: list = []
    key_base, key_args = parse_marshal(header.key_type)
    if key_base == "CompositeType":
        for i, kt in enumerate(key_args):
            cols.append(CqlColumn(f"pk{i}", _cql_type_of(kt), kind="partition_key"))
    else:
        cols.append(CqlColumn("key", _cql_type_of(header.key_type), kind="partition_key"))
    for i, ct in enumerate(header.clustering_types):
        cols.append(CqlColumn(f"ck{i}", _cql_type_of(ct), kind="clustering"))

    def value_col(name: bytes, t: str, kind: str):
        base, args = parse_marshal(unwrap_reversed(t))
        frozen = False
        if base == "FrozenType":
            frozen = True
            base, args = parse_marshal(unwrap_reversed(args[0]))
        col = CqlColumn(name.decode(), "blob", kind=kind, frozen=frozen)
        if base == "ListType":
            col.collection = "list"
            col.cql_type = _cql_type_of(args[0])
            col.element_type = _cql_type_of(args[0])
        elif base == "SetType":
            col.collection = "set"
            col.cql_type = _cql_type_of(args[0])
            col.element_type = _cql_type_of(args[0])
        elif base == "MapType":
            col.collection = "map"
            col.cql_type = _cql_type_of(args[1])
            col.element_type = _cql_type_of(args[0])
            col.value_type = _cql_type_of(args[1])
        else:
            col.cql_type = _MARSHAL_TO_CQL.get(base, "blob")
        return col

    for name, t in header.static_columns:
        cols.append(value_col(name, t, "static"))
    for name, t in header.regular_columns:
        cols.append(value_col(name, t, "regular"))
    return CqlSchema(table=table, columns=cols)


def name_sort_key_for_header(header: SerializationHeader):
    """Header -> comparator-aware cell-name sort key for ``compact()``.

    The 3.x header is self-describing, so the clustering comparators are
    known and the 2.x-composite-mapped cell names can be ordered exactly
    as Cassandra's ClusteringComparator orders rows — raw composite bytes
    are NOT order-preserving (the u16 length prefix ranks variable-length
    values by length before content, and signed/IEEE types by raw bits),
    which would let a range tombstone over e.g. UTF8 clustering miss
    cells whose values differ in length from the bounds.

    Returns a ``Column -> Column`` callable (pure JVM expressions, no
    Python UDF — the plan stays inside whole-stage codegen); ``compact``
    applies it to both ``cell_name`` and ``cell_name_max`` so RT bounds
    compare in the same encoding. Raises ValueError only for comparator
    classes the JVM library doesn't know (custom types) — fall back to a
    ``types.sort_key`` UDF for those. DecimalType/IntegerType clustering
    is JVM-side and exact at any unscaled width (functions.bignum).
    """
    from ..functions.sortkeys import composite_sort_key, supported

    unsupported = [t for t in header.clustering_types if not supported(t)]
    if unsupported:
        raise ValueError(
            "no JVM-side sort key for clustering type(s) "
            f"{unsupported}; pass a types.sort_key UDF to compact() instead"
        )
    types_ = list(header.clustering_types)
    # collection cell paths order by the collection's path comparator
    # (CellPath semantics): list -> TimeUUID, set -> element type,
    # map -> key type. The header names every collection column, so the
    # path transform dispatches on the column-name component at runtime;
    # unsupported path types stay raw bytes (hex is injective, so LWW
    # grouping — which dedups on the SORT KEY — is unaffected; only the
    # intra-row order of those paths keeps raw-byte order).
    path_types: dict[bytes, str] = {}
    for cname, t in tuple(header.regular_columns) + tuple(header.static_columns):
        base, args = parse_marshal(unwrap_reversed(t))
        if base == "ListType":
            path_types[bytes(cname)] = "TimeUUIDType"
        elif base == "SetType" and args and supported(args[0]):
            path_types[bytes(cname)] = args[0]
        elif base == "MapType" and args and supported(args[0]):
            path_types[bytes(cname)] = args[0]
    # +2 untyped trailing components: CQL column name, collection cell path
    return lambda c: composite_sort_key(
        c, types_, n_extra=2, path_types_by_column=path_types or None
    )


# ---------------------------------------------------------------------------
# BTI split planning: partition boundaries from Data.db itself
# ---------------------------------------------------------------------------

class _SeqWindow:
    """Bounded sliding window over a (possibly chunk-compressed) byte
    stream, exposing absolute offsets — lets the boundary walk below run
    over a 100 GB Data.db with a few MB of driver memory instead of
    reading the file whole. ``read_at(offset, n)`` returns the bytes from
    an absolute (uncompressed) offset on, at least ``n`` of them unless the
    stream ends first: a plain-file read, or the chunk map's random-access
    decompression."""

    CHUNK = 4 << 20

    def __init__(self, read_at, total: int):
        self._read_at, self.total = read_at, total
        self.base = 0  # absolute offset of win[0]
        self.win = b""
        self.pos = 0  # absolute cursor

    def view(self, n: int):
        """(buf, rel) with at least n bytes available at the cursor."""
        end = self.pos + n
        if end > self.base + len(self.win):
            keep = self.win[self.pos - self.base:] if self.pos < self.base + len(self.win) else b""
            self.base = self.pos
            more = self._read_at(self.base + len(keep), max(n, self.CHUNK) - len(keep))
            self.win = keep + more
            if len(self.win) < n:
                raise ValueError("corrupt SSTable: truncated mid-partition")
        return self.win, self.pos - self.base

    def skip(self, n: int) -> None:
        self.pos += n

    def uvint(self) -> int:
        buf, o = self.view(1)
        first = buf[o]
        extra = 0
        b = first
        while b & 0x80:
            extra += 1
            b = (b << 1) & 0xFF
        buf, o = self.view(1 + extra)
        v, no = read_unsigned_vint(buf, o)
        self.pos += no - o
        return v


def _skip_clustering(w: _SeqWindow, sizes, count: int) -> None:
    """Skip ClusteringPrefix.serializeValuesWithoutSize: per-32-column
    2-bit header vints, then each non-null non-empty value (fixed width or
    vint-length-prefixed) — the skip twin of _read_clustering_values."""
    i = 0
    while i < count:
        limit = min(count, i + 32)
        hdr = w.uvint()
        base = i
        while i < limit:
            shift = (i - base) * 2
            if not (hdr & (3 << shift)):  # present, non-empty
                fixed = sizes[i]
                w.skip(fixed if fixed >= 0 else w.uvint())
            i += 1


def partition_offsets_from_data(
    path: str,
    *,
    version: str,
    compression_sidecar: str | None = None,
    header: SerializationHeader | None = None,
    min_gap: int = 0,
) -> list[int]:
    """Partition start offsets discovered from the Data.db byte stream
    itself — no index sidecar required. This is what makes BTI (`da-*-bti`)
    tables SPLITTABLE here: their trie sidecars (Partitions.db/Rows.db)
    replace the Index.db the big format plans splits from, and no
    authoritative offline spec exists for the trie layout — but partitions
    are self-delimiting in the data file (key header -> unfiltereds, each
    carrying its body size -> END_OF_PARTITION), so one sequential
    driver-side walk recovers exactly what IndexDatabaseScanner.java:58-85
    feeds AegisthusInputFormat.java:119-187 in the reference. The walk
    SKIPS every row body (vint-delimited), so it runs at I/O speed, bounded
    memory (_SeqWindow), and for compressed files it returns UNCOMPRESSED
    offsets — the same coordinate system the chunk map's seek uses, so
    compressed bti tables split too (the reference schedules compressed
    files whole).

    ``min_gap`` thins the RECORDED list to one boundary per ``min_gap``
    bytes (offset 0 always kept): split planning only needs boundaries at
    ~target-split resolution, and thinning bounds the result to
    size/min_gap entries regardless of how small partitions are — the
    shape the offsets_cache sidecar persists."""
    if header is None:
        header = header_for_data_file(path)
    # ``version`` is accepted for symmetry with the decode entrypoints but
    # the walk is version-independent: the partition DeletionTime is 12
    # bytes in every ma..oa layout (i32/u32 ldt + i64 mfda) and row bodies
    # are skipped wholesale via their size vints.
    del version
    sizes = tuple(fixed_size_of(t) for t in header.clustering_types)
    total = os.path.getsize(path)
    with open(path, "rb") as f:
        if compression_sidecar is None:
            def read_at(offset: int, n: int) -> bytes:
                f.seek(offset)
                return f.read(n)
        else:
            from .compression import CompressionInfo

            info = CompressionInfo.read_path(compression_sidecar)
            cl, n_chunks, size = info.chunk_length, len(info.chunk_offsets), total
            total = info.data_length

            def read_at(offset: int, n: int) -> bytes:
                # whole chunks: the next sequential read starts on a chunk
                # boundary instead of decompressing this read's last again
                lo = offset // cl
                hi = min(n_chunks, -(-(offset + n) // cl))
                return info.decompress(f, size, lo, hi)[offset - lo * cl :]

        return _walk_partitions(_SeqWindow(read_at, total), sizes, min_gap)


def _walk_partitions(w: _SeqWindow, sizes, min_gap: int = 0) -> list[int]:
    offsets: list[int] = []
    last_kept = -(min_gap + 1)
    while w.pos < w.total:
        if w.pos - last_kept >= min_gap:
            offsets.append(w.pos)
            last_kept = w.pos
        buf, o = w.view(2)
        (keysize,) = _U16.unpack_from(buf, o)
        w.skip(2 + keysize + 12)  # key + partition DeletionTime (i32+i64)
        while True:
            buf, o = w.view(1)
            flags = buf[o]
            w.skip(1)
            if flags & END_OF_PARTITION:
                break
            if flags & IS_MARKER:
                buf, o = w.view(3)
                (n_values,) = _U16.unpack_from(buf, o + 1)  # after kind byte
                w.skip(3)
                _skip_clustering(w, sizes, n_values)
            else:
                static = False
                if flags & EXTENSION_FLAG:
                    buf, o = w.view(1)
                    static = bool(buf[o] & IS_STATIC)
                    w.skip(1)
                if not static:
                    _skip_clustering(w, sizes, len(sizes))
            # body size counts from after this vint (it includes the
            # prev-size vint) — one jump lands on the next unfiltered
            w.skip(w.uvint())
    return offsets
