"""Output checks: read a snapshot back with the benchmark's own readers and
compare its row count and order-independent digest with the corpus model.

The readers are independent of the program: aeg-JSON lines are hashed as
written, and Avro object container files are decoded from the Avro 1.x
specification (null codec, records of primitive fields and
``["null", T]`` unions).
"""

from __future__ import annotations

import json
import os
import struct

from corpus import CQL_REGULARS, STALE_MARK, Digest, cql_row_canonical


def _files(out_dir: str, suffix: str = "") -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(out_dir)
        for f in files
        if not f.startswith((".", "_")) and f.endswith(suffix)
    )


def output_bytes(out_dir: str) -> int:
    """Bytes of every data file the snapshot wrote (hidden checksum files
    and ``_SUCCESS`` markers excluded)."""
    return sum(os.path.getsize(p) for p in _files(out_dir))


def digest_aeg_json(out_dir: str) -> Digest:
    dig = Digest()
    for p in _files(out_dir):
        with open(p, "rb") as f:
            for line in f:
                dig.add(line.rstrip(b"\n"))
    return dig


# ---------------------------------------------------------------------------
# Avro object container files
# ---------------------------------------------------------------------------


def _read_long(buf: bytes, o: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[o]
        o += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return (result >> 1) ^ -(result & 1), o
        shift += 7


def _read_bytes(buf: bytes, o: int) -> tuple[bytes, int]:
    n, o = _read_long(buf, o)
    return buf[o:o + n], o + n


def _reader(schema):
    """A decode function (buf, offset) -> (value, offset) for an Avro type."""
    if isinstance(schema, list):
        branches = [_reader(s) for s in schema]

        def union(buf, o):
            i, o = _read_long(buf, o)
            return branches[i](buf, o)

        return union
    if isinstance(schema, dict):
        if schema["type"] == "record":
            fields = [(f["name"], _reader(f["type"])) for f in schema["fields"]]

            def record(buf, o):
                out = {}
                for name, read in fields:
                    out[name], o = read(buf, o)
                return out, o

            return record
        return _reader(schema["type"])
    if schema == "null":
        return lambda buf, o: (None, o)
    if schema == "boolean":
        return lambda buf, o: (buf[o] != 0, o + 1)
    if schema in ("int", "long"):
        return _read_long
    if schema == "double":
        return lambda buf, o: (struct.unpack_from("<d", buf, o)[0], o + 8)
    if schema == "float":
        return lambda buf, o: (struct.unpack_from("<f", buf, o)[0], o + 4)
    if schema == "bytes":
        return _read_bytes
    if schema == "string":
        def string(buf, o):
            b, o = _read_bytes(buf, o)
            return b.decode("utf-8"), o

        return string
    raise ValueError(f"unsupported Avro type {schema!r}")


def read_ocf(path: str):
    """Records of one Avro object container file (null codec only)."""
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:4] != b"Obj\x01":
        raise ValueError(f"{path}: not an Avro container file")
    o, meta = 4, {}
    while True:
        n, o = _read_long(buf, o)
        if n == 0:
            break
        if n < 0:
            _size, o = _read_long(buf, o)
            n = -n
        for _ in range(n):
            k, o = _read_bytes(buf, o)
            v, o = _read_bytes(buf, o)
            meta[k.decode()] = v
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(f"{path}: unsupported codec {codec!r}")
    read = _reader(json.loads(meta["avro.schema"]))
    sync = buf[o:o + 16]
    o += 16
    while o < len(buf):
        count, o = _read_long(buf, o)
        _size, o = _read_long(buf, o)
        for _ in range(count):
            rec, o = read(buf, o)
            yield rec
        if buf[o:o + 16] != sync:
            raise ValueError(f"{path}: bad sync marker")
        o += 16


def digest_avro(out_dir: str) -> Digest:
    dig = Digest()
    names = [c.decode() for c, _t in CQL_REGULARS]
    for p in _files(out_dir, ".avro"):
        for rec in read_ocf(p):
            if STALE_MARK in (rec["name"] or ""):
                raise ValueError(f"stale-batch cell in snapshot row {rec['pk']}/{rec['ck']}")
            dig.add(cql_row_canonical(rec["pk"], rec["ck"], {n: rec[n] for n in names}))
    return dig


DIGESTERS = {"merge_json": digest_aeg_json, "priam_cql_avro": digest_avro}


def check_output(workload: str, out_dir: str, meta: dict) -> str | None:
    """None when the snapshot in ``out_dir`` matches the corpus model, else
    a one-line reason."""
    try:
        got = DIGESTERS[workload](out_dir).as_dict()
    except (ValueError, KeyError, IndexError, struct.error) as e:
        return f"unreadable snapshot: {e}"
    want = {"rows": meta["rows"], "digest": meta["digest"]}
    if got != want:
        return f"snapshot mismatch: got {got}, want {want}"
    return None
