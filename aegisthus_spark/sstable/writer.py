"""SSTable writer: compacted rows -> Cassandra ``*-Data.db`` files.

Inverse of :mod:`.decoder`, mirroring the reference's two on-disk layouts
(aegisthus-hadoop/.../output/SSTableOutputFormat.java:61-114):

- **version <= 1.2.5** (``has_rs_cc``, e.g. ``ic``): per row
  ``u16 keylen, key, i64 dataSize, i32 deletedAt/1000, i64 deletedAt,
  i32 columnCount, atoms...`` where ``dataSize = 16 + sum(atom sizes)``
  (SSTableOutputFormat.java:83-99).
- **version >= 2.0** (e.g. ``jb``): per row ``u16 keylen, key,
  i32 deletedAt/1000, i64 deletedAt, atoms..., u16 END_OF_ROW(=0)``
  (SSTableOutputFormat.java:101-112).

Atom bytes follow Cassandra's ``OnDiskAtom.Serializer.serializeForSSTable``
(the exact inverse of decoder.py's atom parse). Output filenames reproduce
``<dataset>-<version>-%010d-Data.db`` (SSTableOutputFormat.java:50-58).

The distributed write runs executor-side through :mod:`..sink` (one file
per non-empty partition, partition index as the file number) — the Spark
analog of one file per reduce task, committed atomically with ``_SUCCESS``.
"""

from __future__ import annotations

import functools
import os
import struct
from typing import Iterable

from pyspark.sql import DataFrame, Row

from ..sink import write_partitions

_U16 = struct.Struct(">H")
_I32 = struct.Struct(">i")
_I64 = struct.Struct(">q")

LONG_MIN = -(1 << 63)

_FLAG_DELETED = 0x01
_FLAG_EXPIRING = 0x02
_FLAG_COUNTER = 0x04
_FLAG_RANGE_TOMBSTONE = 0x10

_KIND_FLAG = {"c": 0, "d": _FLAG_DELETED, "e": _FLAG_EXPIRING, "x": _FLAG_COUNTER,
              "t": _FLAG_RANGE_TOMBSTONE}


def _java_int_div_1000(v: int) -> int:
    """Java ``(int) (v / 1000)``: truncate toward zero, wrap to signed 32-bit."""
    q = abs(v) // 1000
    if v < 0:
        q = -q
    q &= 0xFFFFFFFF
    return q - (1 << 32) if q >= (1 << 31) else q


def serialize_atom(col: dict) -> bytes:
    """One live/deleted/expiring/counter cell — or a range tombstone —
    -> its on-disk atom bytes."""
    name = col["name"] or b""
    value = col["value"] if col["value"] is not None else b""
    kind = col.get("kind") or "c"
    out = [_U16.pack(len(name)), name, bytes([_KIND_FLAG[kind]])]
    if kind == "t":
        # RangeTombstone: min name above, then u16 max_len, max, i32 ldt, i64 ts
        name_max = col.get("cell_name_max") or b""
        out.append(_U16.pack(len(name_max)))
        out.append(name_max)
        out.append(_I32.pack(col["local_deletion_time"] or 0))
        out.append(_I64.pack(col["ts"]))
        return b"".join(out)
    if kind == "x":
        out.append(_I64.pack(col["ts_of_last_delete"] if col["ts_of_last_delete"] is not None else LONG_MIN))
    elif kind == "e":
        out.append(_I32.pack(col["ttl"] or 0))
        out.append(_I32.pack(col["local_deletion_time"] or 0))
    out.append(_I64.pack(col["ts"]))
    out.append(_I32.pack(len(value)))
    out.append(value)
    return b"".join(out)


def serialize_row(key: bytes, deleted_at: int, columns: Iterable[dict], *, version: str = "jb") -> bytes:
    """One compacted row -> its Data.db byte run for the given version."""
    atoms = [serialize_atom(c) for c in columns]
    out = [_U16.pack(len(key)), key]
    if version < "ja":  # rowSize + columnCount layout (<= 1.2.5)
        data_size = 16 + sum(len(a) for a in atoms)
        out.append(_I64.pack(data_size))
        out.append(_I32.pack(_java_int_div_1000(deleted_at)))
        out.append(_I64.pack(deleted_at))
        out.append(_I32.pack(len(atoms)))
        out.extend(atoms)
    else:  # 2.0 layout: end-of-row marker
        out.append(_I32.pack(_java_int_div_1000(deleted_at)))
        out.append(_I64.pack(deleted_at))
        out.extend(atoms)
        out.append(_U16.pack(0))
    return b"".join(out)


def _write_partition(partition: int, rows: Iterable[Row], directory: str, *,
                     version: str, dataset: str) -> list[tuple[str, int]]:
    name = f"{dataset}-{version}-{partition:010d}-Data.db"
    n = 0
    with open(os.path.join(directory, name), "wb") as f:
        for n, row in enumerate(rows, 1):
            cols = [c.asDict() for c in row.columns]
            f.write(serialize_row(row.partition_key, row.deleted_at, cols, version=version))
    return [(name, n)]


def write_sstable(
    rows: DataFrame,
    output_dir: str,
    *,
    version: str = "jb",
    dataset: str = "keyspace-dataset",
) -> list[str]:
    """Write compacted rows as SSTable Data.db files, one per non-empty
    partition, committed atomically into ``output_dir`` (replacing the files
    it held).

    ``rows`` is the output of :func:`aegisthus_spark.compact.compact`
    (``partition_key``, ``deleted_at``, ``columns``). Rows keep their
    partition-internal order (sort with ``sortWithinPartitions`` upstream
    for reference output-order parity). Returns the written file paths,
    in name order, as a :class:`..sink.Written` (``.rows`` rows in total).
    """
    encode = functools.partial(_write_partition, version=version, dataset=dataset)
    return write_partitions(rows.select("partition_key", "deleted_at", "columns"), output_dir, encode)
