"""Pure-Python Avro Object Container File sink.

The reference's CQL export emits Avro (aegisthus-hadoop
src/main/java/org/coursera/SSTableExport.java:176-177 writes through
AvroKeyOutputFormat). This module writes the same container format
directly from the public Avro 1.x specification
(https://avro.apache.org/docs/1.12.0/specification/ — file header magic
``Obj\\x01``, metadata map with ``avro.schema``/``avro.codec``, 16-byte
sync marker, then blocks of ``count, byte-size, records, sync``), so the
Avro sink needs no DataSource on the classpath.

Scale shape: one OCF file per non-empty Spark partition, encoded in the
executors and committed atomically by :mod:`.sink` — the driver collects
only file names and row counts. Encoding is
row-at-a-time Python, which is fine for an export sink (the bytes hit disk
once); the hot analytics paths never route through here.

Output files are readable by any Avro implementation; tests verify with
the official Avro *Java* library that ships on Spark's own classpath
(org.apache.avro.file.DataFileReader via py4j) — an independent decoder.
"""

from __future__ import annotations

import calendar
import functools
import hashlib
import json
import os
import struct
import time
from decimal import Context, Decimal, localcontext

#: exact context for decimal(38,*) unscaled extraction
_EXACT_CTX = Context(prec=60)

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .sink import write_partitions

# ---------------------------------------------------------------------------
# schema mapping: Spark -> Avro (nullable fields become ["null", T] unions)
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    T.StringType: "string",
    T.BinaryType: "bytes",
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
}


def avro_schema(schema: T.StructType, name: str = "spark_export") -> dict:
    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": _avro_type(f.dataType, f.nullable, f"{name}_{f.name}")}
            for f in schema.fields
        ],
    }


def _avro_type(dt: T.DataType, nullable: bool, name: str):
    base = _avro_base(dt, name)
    return ["null", base] if nullable else base


def _avro_base(dt: T.DataType, name: str):
    for cls, prim in _PRIMITIVES.items():
        if isinstance(dt, cls):
            return prim
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.TimestampNTZType):
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes", "logicalType": "decimal",
            "precision": dt.precision, "scale": dt.scale,
        }
    if isinstance(dt, T.ArrayType):
        return {
            "type": "array",
            "items": _avro_type(dt.elementType, dt.containsNull, f"{name}_item"),
        }
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise ValueError("Avro maps require string keys")
        return {
            "type": "map",
            "values": _avro_type(dt.valueType, dt.valueContainsNull, f"{name}_value"),
        }
    if isinstance(dt, T.StructType):
        return avro_schema(dt, name)
    raise ValueError(f"no Avro mapping for Spark type {dt.simpleString()}")


# ---------------------------------------------------------------------------
# binary encoding (spec: zigzag varint longs, little-endian floats)
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_bytes(b: bytes) -> bytes:
    return _zigzag(len(b)) + b


def _encode(value, dt: T.DataType, nullable: bool, out: bytearray) -> None:
    if nullable:
        if value is None:
            out += _zigzag(0)
            return
        out += _zigzag(1)
    elif value is None:
        raise ValueError("null in non-nullable field")
    _encode_base(value, dt, out)


def _encode_base(value, dt: T.DataType, out: bytearray) -> None:
    if isinstance(dt, T.StringType):
        out += _enc_bytes(str(value).encode("utf-8"))
    elif isinstance(dt, T.BinaryType):
        out += _enc_bytes(bytes(value))
    elif isinstance(dt, T.BooleanType):
        out += b"\x01" if value else b"\x00"
    elif isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType, T.LongType)):
        out += _zigzag(int(value))
    elif isinstance(dt, T.FloatType):
        out += struct.pack("<f", float(value))
    elif isinstance(dt, T.DoubleType):
        out += struct.pack("<d", float(value))
    elif isinstance(dt, T.TimestampType):
        # TimestampType.fromInternal materializes naive LOCAL-time datetimes
        # (datetime.fromtimestamp) in the executor; the exact inverse is
        # mktime, not timegm — timegm would shift by the host's UTC offset
        # on any non-UTC machine. tz-aware values invert via .timestamp().
        if value.tzinfo is not None:
            # exact integer inverse (utctimetuple + microsecond); a float
            # .timestamp() would truncate pre-epoch values toward zero,
            # shifting e.g. 1969-12-31T23:59:59.5Z by a full second
            micros = calendar.timegm(value.utctimetuple()) * 1_000_000 + value.microsecond
        else:
            # naive local wall clock: mktime inverts fromInternal. The one
            # irrecoverable case is the DST fall-back hour on DST-observing
            # hosts (fromInternal drops the fold bit); run executors in UTC
            # — as this engine's session factory does — to avoid it.
            micros = int(time.mktime(value.timetuple())) * 1_000_000 + value.microsecond
        out += _zigzag(micros)
    elif isinstance(dt, T.TimestampNTZType):
        # TimestampNTZType.fromInternal yields UTC wall-clock; timegm inverts
        micros = calendar.timegm(value.timetuple()) * 1_000_000 + value.microsecond
        out += _zigzag(micros)
    elif isinstance(dt, T.DateType):
        out += _zigzag((value - __import__("datetime").date(1970, 1, 1)).days)
    elif isinstance(dt, T.DecimalType):
        # EXACT unscaled extraction: bare .scaleb() rounds to the
        # default 28-digit context precision, silently corrupting the
        # low digits of decimal(38,*) values (same bug family the
        # round-9 sort-key/render fixes removed from types.py); the
        # prec-60 context is hoisted — this runs once per cell
        with localcontext(_EXACT_CTX):
            unscaled = int(Decimal(value).scaleb(dt.scale).to_integral_value())
        blen = max(1, (unscaled.bit_length() + 8) // 8)
        out += _enc_bytes(unscaled.to_bytes(blen, "big", signed=True))
    elif isinstance(dt, T.ArrayType):
        if value:
            out += _zigzag(len(value))
            for item in value:
                _encode(item, dt.elementType, dt.containsNull, out)
        out += _zigzag(0)
    elif isinstance(dt, T.MapType):
        items = list(value.items()) if hasattr(value, "items") else list(value)
        if items:
            out += _zigzag(len(items))
            for k, v in items:
                out += _enc_bytes(str(k).encode("utf-8"))
                _encode(v, dt.valueType, dt.valueContainsNull, out)
        out += _zigzag(0)
    elif isinstance(dt, T.StructType):
        for f in dt.fields:
            _encode(value[f.name], f.dataType, f.nullable, out)
    else:
        raise ValueError(f"no Avro encoder for {dt.simpleString()}")


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------

_MAGIC = b"Obj\x01"
_BLOCK_RECORDS = 4096


def write_ocf_file(path: str, rows, schema: T.StructType) -> int:
    """Write rows (dict-like / pyspark Rows) to one OCF file; returns count."""
    schema_json = json.dumps(avro_schema(schema)).encode("utf-8")
    # deterministic sync marker (any 16 bytes are valid per spec), from the
    # file name only: an attempt writing under _temporary/ produces the
    # bytes of the committed file
    sync = hashlib.md5(schema_json + os.path.basename(path).encode()).digest()
    n_total = 0
    with open(path, "wb") as f:
        f.write(_MAGIC)
        f.write(_zigzag(2))
        f.write(_enc_bytes(b"avro.schema") + _enc_bytes(schema_json))
        f.write(_enc_bytes(b"avro.codec") + _enc_bytes(b"null"))
        f.write(_zigzag(0))
        f.write(sync)

        block = bytearray()
        n_block = 0
        for row in rows:
            for field in schema.fields:
                _encode(row[field.name], field.dataType, field.nullable, block)
            n_block += 1
            n_total += 1
            if n_block >= _BLOCK_RECORDS:
                f.write(_zigzag(n_block) + _zigzag(len(block)) + block + sync)
                block = bytearray()
                n_block = 0
        if n_block:
            f.write(_zigzag(n_block) + _zigzag(len(block)) + block + sync)
    return n_total


def _write_partition(partition: int, rows, directory: str, *,
                     schema: T.StructType) -> list[tuple[str, int]]:
    name = f"part-{partition:05d}.avro"
    return [(name, write_ocf_file(os.path.join(directory, name), rows, schema))]


def write_avro(df: DataFrame, output_dir: str) -> list[str]:
    """Distributed OCF write: one file per non-empty partition, committed
    atomically into ``output_dir`` (replacing the files it held). Returns the
    written paths as a :class:`.sink.Written` (``.rows`` records in total).

    An export without rows is still written as one header-only OCF, which
    records the schema and the empty record set, so consumers of the
    directory see the export rather than nothing."""
    encode = functools.partial(_write_partition, schema=df.schema)
    return write_partitions(df, output_dir, encode, keep_empty=True)
