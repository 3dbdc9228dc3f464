"""Seeded corpus generators for the snapshot-job benchmark.

Each workload's corpus is a directory of SSTables written from a model that
the generator keeps of what it wrote. The same model yields the expected
snapshot (row count plus an order-independent digest of the rows), so the
output check never depends on the program's own merge (``compact``).

Merge rules the model applies (Cassandra 2.x last-write-wins, as the
reference's reducer defines them): per partition ``deleted_at`` is the
greatest row tombstone; per cell name the greatest timestamp wins (the
generator never writes two versions of one cell with equal timestamps);
surviving cells with ``ts <= deleted_at`` are dropped; cell tombstones
survive into the snapshot; a partition left without cells is still emitted.

The 2.x (``jb``) files are encoded here from the public format. The 3.x
(``ma``) files go through ``aegisthus_spark.sstable.modern_writer``, the
repository's fixture writer for that format (its byte layout is pinned by
hand-written literals in the repository's tests).

Generation is deterministic: one ``random.Random`` per workload and seed, no
clock reads, files written in a fixed order. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import struct
import time

LONG_MIN = -(1 << 63)
INT_MAX = 0x7FFFFFFF
TS0 = 1_600_000_000_000_000  # microseconds
GEN_SPAN = 10_000_000  # timestamps of generation g lie in [TS0 + g*SPAN, +SPAN)

#: bump when a generator's output changes, so cached corpora are rebuilt
VERSION = 2

_U16 = struct.Struct(">H")
_I32 = struct.Struct(">i")
_I64 = struct.Struct(">q")
_ROW_HEAD = struct.Struct(">iq")
_TS_VLEN = struct.Struct(">qi")
_EXPIRING = struct.Struct(">ii")

WORKLOADS = ("merge_json", "priam_cql_avro")

#: sizes per workload (see DESIGN.md for the reasoning behind them)
SIZES = {
    "merge_json": {"keys": 12_000, "generations": 4, "rewrite": 0.6},
    "priam_cql_avro": {"partitions": 500, "rows_per_partition": 12,
                       "generations": 3, "rewrite": 0.4, "nodes": 3,
                       "files_per_generation": 20, "stale_files": 8},
}

CQL_DDL = (
    "CREATE TABLE bench.events (pk text, ck int, name text, score bigint, "
    "ratio double, flag boolean, payload blob, PRIMARY KEY (pk, ck))"
)


def line_hash(b: bytes) -> int:
    """64-bit hash of one canonical output row."""
    return int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "little")


class Digest:
    """Order-independent multiset digest: count plus the sum of row hashes
    modulo 2**64 (a sum, not an XOR, so duplicated rows do not cancel)."""

    def __init__(self) -> None:
        self.count = 0
        self.total = 0

    def add(self, canonical: bytes) -> None:
        self.count += 1
        self.total = (self.total + line_hash(canonical)) & 0xFFFFFFFFFFFFFFFF

    def as_dict(self) -> dict:
        return {"rows": self.count, "digest": f"{self.total:016x}"}


# ---------------------------------------------------------------------------
# 2.x model: partitions of cells with Cassandra's atom kinds
# ---------------------------------------------------------------------------

_NAMES = [b"col%02d" % i for i in range(16)]


def _value_pool(rng: random.Random, n: int = 2048) -> list[bytes]:
    """Semi-structured values (JSON-ish text with random digits) so that
    compressed inputs compress like real column data, not like noise."""
    words = [b"alpha", b"bravo", b"charlie", b"delta", b"echo", b"foxtrot",
             b"golf", b"hotel", b"india", b"juliet", b"kilo", b"lima"]
    pool = []
    for _ in range(n):
        parts = [b'{"id":%d' % rng.getrandbits(40)]
        for _ in range(rng.randint(2, 6)):
            parts.append(b'"%s":"%s%d"' % (rng.choice(words), rng.choice(words),
                                           rng.getrandbits(24)))
        pool.append(b",".join(parts) + b"}")
    return pool


def _random_cell(rng: random.Random, gen: int, values: list[bytes],
                 p_tomb: float = 0.04, p_exp: float = 0.06) -> tuple:
    """(kind, value, ts, ttl, ldt) for one cell written in generation gen."""
    ts = TS0 + gen * GEN_SPAN + rng.randrange(GEN_SPAN)
    r = rng.random()
    if r < p_tomb:
        ldt = ts // 1_000_000
        return ("d", _I32.pack(ldt), ts, None, ldt)
    if r < p_tomb + p_exp:
        ttl = rng.randint(3_600, 864_000)
        return ("e", rng.choice(values), ts, ttl, ts // 1_000_000 + ttl)
    return ("c", rng.choice(values), ts, None, None)


def _atom(name: bytes, cell: tuple) -> bytes:
    kind, value, ts, ttl, ldt = cell
    if kind == "e":
        return b"".join((_U16.pack(len(name)), name, b"\x02",
                         _EXPIRING.pack(ttl, ldt), _TS_VLEN.pack(ts, len(value)), value))
    flag = b"\x01" if kind == "d" else b"\x00"
    return b"".join((_U16.pack(len(name)), name, flag,
                     _TS_VLEN.pack(ts, len(value)), value))


def jb_row(key: bytes, deleted_at: int, cells: dict) -> bytes:
    """One 2.x (jb) row: key, DeletionTime, atoms in name order, end marker."""
    ldt = INT_MAX if deleted_at == LONG_MIN else deleted_at // 1_000_000
    parts = [_U16.pack(len(key)), key, _ROW_HEAD.pack(ldt, deleted_at)]
    parts.extend(_atom(n, cells[n]) for n in sorted(cells))
    parts.append(b"\x00\x00")
    return b"".join(parts)


def _model_2x(rng: random.Random, keys: int, generations: int, rewrite: float,
              p_row_tomb: float = 0.05):
    """keys -> per-generation row contents.

    Returns (key_list, gens) where gens[g] maps key -> (deleted_at, cells)
    for the rows generation g (1-based) writes. Generation 1 writes every
    key; each later one rewrites a random ``rewrite`` share of them with
    newer cells, and some of those rows carry a row tombstone placed in the
    middle of the generation's timestamp window (so it shadows the older
    generations and part of its own)."""
    values = _value_pool(rng)
    key_set = set()
    while len(key_set) < keys:
        key_set.add(rng.getrandbits(80).to_bytes(10, "big"))
    key_list = sorted(key_set)
    gens = {}
    for g in range(1, generations + 1):
        chosen = key_list if g == 1 else sorted(rng.sample(key_list, int(keys * rewrite)))
        rows = {}
        for k in chosen:
            names = rng.sample(_NAMES, rng.randint(5, 10))
            cells = {n: _random_cell(rng, g, values) for n in names}
            deleted_at = LONG_MIN
            if g > 1 and rng.random() < p_row_tomb:
                deleted_at = TS0 + g * GEN_SPAN + GEN_SPAN // 2
            rows[k] = (deleted_at, cells)
        gens[g] = rows
    return key_list, gens


def merge_2x(key_list: list[bytes], row_sets) -> dict:
    """Expected compaction of every row version in ``row_sets`` (an iterable
    of {key: (deleted_at, cells)} maps): key -> (deleted_at, cells)."""
    merged: dict = {}
    for rows in row_sets:
        for k, (deleted_at, cells) in rows.items():
            cur = merged.get(k)
            if cur is None:
                merged[k] = [deleted_at, dict(cells)]
                continue
            if deleted_at > cur[0]:
                cur[0] = deleted_at
            have = cur[1]
            for n, c in cells.items():
                old = have.get(n)
                if old is None or c[2] > old[2]:
                    have[n] = c
    out = {}
    for k in key_list:
        if k not in merged:
            continue
        deleted_at, cells = merged[k]
        out[k] = (deleted_at, {n: c for n, c in cells.items() if c[2] > deleted_at})
    return out


def aeg_json_line(key: bytes, deleted_at: int, cells: dict) -> str:
    """The aeg-JSON line the snapshot must contain for one row (BytesType
    rendering: lower-case hex keys, names and values)."""
    hk = key.hex()
    cols = []
    for n in sorted(cells):
        kind, value, ts, ttl, ldt = cells[n]
        entry = f'["{n.hex()}","{value.hex()}",{ts}'
        if kind == "d":
            entry += ',"d"'
        elif kind == "e":
            entry += f',"e",{ttl},{ldt}'
        cols.append(entry + "]")
    return f'{hk}\t{{"{hk}":{{"deletedAt":{deleted_at},"columns":[{",".join(cols)}]}}}}'


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------


def _write_jb(path: str, rows) -> None:
    """Write (key, deleted_at, cells) rows in the given order as a jb table
    with its Index.db."""
    raw = bytearray()
    index = bytearray()
    for key, deleted_at, cells in rows:
        index += _U16.pack(len(key)) + key + _I64.pack(len(raw)) + _I32.pack(0)
        raw += jb_row(key, deleted_at, cells)
    with open(path, "wb") as f:
        f.write(raw)
    with open(path.replace("-Data.db", "-Index.db"), "wb") as f:
        f.write(index)


def _lz4_compress(path: str, chunk: int = 64 * 1024) -> None:
    """Rewrite an uncompressed Data.db in Cassandra's LZ4Compressor chunk
    format and add its CompressionInfo.db. Each chunk is the little-endian
    uncompressed length, the LZ4 block, then a 4-byte checksum trailer."""
    import pyarrow as pa

    codec = pa.Codec("lz4_raw")
    with open(path, "rb") as f:
        raw = f.read()
    offsets = []
    with open(path, "wb") as f:
        for pos in range(0, len(raw), chunk):
            block = raw[pos:pos + chunk]
            offsets.append(f.tell())
            f.write(struct.pack("<i", len(block)))
            f.write(codec.compress(block).to_pybytes())
            f.write(_I32.pack(0))
    name = b"LZ4Compressor"
    with open(path.replace("-Data.db", "-CompressionInfo.db"), "wb") as f:
        f.write(_U16.pack(len(name)) + name + _I32.pack(0))
        f.write(_I32.pack(chunk) + _I64.pack(len(raw)))
        f.write(_I32.pack(len(offsets)))
        f.write(b"".join(_I64.pack(o) for o in offsets))


def _gen_merge_json(root: str, rng: random.Random, s: dict) -> dict:
    key_list, gens = _model_2x(rng, s["keys"], s["generations"], s["rewrite"])
    for g, rows in gens.items():
        d = os.path.join(root, "data", f"gen{g}")
        os.makedirs(d)
        _write_jb(os.path.join(d, f"bench-events-jb-{g}-Data.db"),
                  ((k, *rows[k]) for k in sorted(rows)))
    expected = Digest()
    for k, (deleted_at, cells) in merge_2x(key_list, gens.values()).items():
        expected.add(aeg_json_line(k, deleted_at, cells).encode())
    return {**expected.as_dict(), "partitions": len(key_list)}


# ---------------------------------------------------------------------------
# 3.x CQL table in a Priam backup layout
# ---------------------------------------------------------------------------

_M = "org.apache.cassandra.db.marshal."
CQL_REGULARS = [  # (column, marshal type), in name order
    (b"flag", _M + "BooleanType"),
    (b"name", _M + "UTF8Type"),
    (b"payload", _M + "BytesType"),
    (b"ratio", _M + "DoubleType"),
    (b"score", _M + "LongType"),
]

#: text every stale-batch cell carries; it must never reach the snapshot
STALE_MARK = "STALE-BATCH"


def _cql_value(rng: random.Random, col: bytes, words: list[str]):
    """(python value, serialized bytes) for one typed regular column."""
    if col == b"flag":
        v = rng.random() < 0.5
        return v, b"\x01" if v else b"\x00"
    if col == b"name":
        v = "%s-%s-%d" % (rng.choice(words), rng.choice(words), rng.getrandbits(20))
        return v, v.encode()
    if col == b"payload":
        v = rng.getrandbits(8 * 24).to_bytes(24, "big")
        return v, v
    if col == b"ratio":
        v = rng.uniform(-1e6, 1e6)
        return v, struct.pack(">d", v)
    v = rng.randrange(-(1 << 62), 1 << 62)
    return v, _I64.pack(v)


def cql_row_canonical(pk: str, ck: int, values: dict) -> bytes:
    """Canonical bytes of one exported CQL row (columns by name; doubles by
    their exact bit pattern)."""
    parts = [pk, str(ck)]
    for col, _t in CQL_REGULARS:
        v = values.get(col.decode())
        if isinstance(v, float):
            v = struct.pack(">d", v).hex()
        elif isinstance(v, bytes):
            v = "b:" + v.hex()
        parts.append(repr(v))
    return "|".join(parts).encode()


def _cql_generations(rng: random.Random, s: dict):
    """Per-generation partitions of the CQL table, plus the expected rows.

    Generation 1 writes every row with all columns; each later one
    rewrites a random ``rewrite`` share of every partition's rows, setting
    one to four columns with newer cells, a tenth of them tombstones."""
    words = ["north", "south", "east", "west", "up", "down", "left", "right"]
    pks: set = set()
    while len(pks) < s["partitions"]:
        pks.add("user-%012d" % rng.getrandbits(40))
    pks = sorted(pks)
    state: dict = {}  # (pk, ck) -> {column: value, None for a tombstone}
    gens = {}
    n_rows = s["rows_per_partition"]
    for g in range(1, s["generations"] + 1):
        partitions = []
        for pk in pks:
            rows = []
            cks = range(n_rows) if g == 1 else sorted(rng.sample(range(n_rows), int(n_rows * s["rewrite"])))
            for ck in cks:
                live_ts = TS0 + g * GEN_SPAN + rng.randrange(GEN_SPAN)
                cur = state.setdefault((pk, ck), {})
                cols = CQL_REGULARS if g == 1 else rng.sample(CQL_REGULARS, rng.randint(1, 4))
                cells = []
                for col, _t in sorted(cols):
                    ts = TS0 + g * GEN_SPAN + rng.randrange(GEN_SPAN)
                    if g > 1 and rng.random() < 0.1:
                        cells.append({"column": col, "value": b"", "ts": ts,
                                      "deleted": ts // 1_000_000})
                        cur[col.decode()] = None
                    else:
                        v, raw = _cql_value(rng, col, words)
                        cells.append({"column": col, "value": raw, "ts": ts})
                        cur[col.decode()] = v
                rows.append({"clustering": [_I32.pack(ck)], "liveness": (live_ts,),
                             "cells": cells})
            partitions.append({"key": pk.encode(), "rows": rows})
        gens[g] = partitions
    return pks, gens, state


def _gen_priam_cql(root: str, rng: random.Random, s: dict) -> dict:
    """Three replica nodes of a Priam backup of a 3.x CQL table, as
    LZ4-compressed ma files.

    Every node holds every partition; each node cuts every generation into
    its own file boundaries. Nodes 0 and 1 keep their files under
    ``batch_id=2`` next to a superseded ``batch_id=1``; node 2 lists its
    files in ``_manifest/_manifest`` and also holds files the manifest
    omits. The superseded and unlisted files carry cells with the newest
    timestamps and the STALE_MARK text, so reading any of them changes the
    snapshot."""
    from aegisthus_spark.sstable.modern_writer import UTF8, write_sstable_ma

    table = dict(key_type=UTF8, clustering_types=[_M + "Int32Type"],
                 regular_columns=list(CQL_REGULARS))
    pks, gens, state = _cql_generations(rng, s)
    generation = 0
    for node in range(s["nodes"]):
        base = os.path.join(root, "data", f"node{node}", "bench", "events")
        live = os.path.join(base, "batch_id=2") if node < 2 else base
        listed = []
        for parts in gens.values():
            n_files = max(1, min(s["files_per_generation"], len(parts)))
            cuts = sorted(rng.sample(range(1, len(parts)), n_files - 1))
            for lo, hi in zip([0] + cuts, cuts + [len(parts)]):
                generation += 1
                path = write_sstable_ma(live, parts[lo:hi], generation=generation, **table)
                _lz4_compress(path)
                listed.append(os.path.basename(path))
        stale_dir = os.path.join(base, "batch_id=1") if node < 2 else base
        for _ in range(s["stale_files"]):
            generation += 1
            ts = TS0 + 99 * GEN_SPAN + rng.randrange(GEN_SPAN)
            stale = [
                {"key": pk.encode(), "rows": [{
                    "clustering": [_I32.pack(rng.randrange(s["rows_per_partition"]))],
                    "liveness": (ts,),
                    "cells": [{"column": b"name", "value": STALE_MARK.encode(), "ts": ts}],
                }]}
                for pk in sorted(rng.sample(pks, min(50, len(pks))))
            ]
            _lz4_compress(write_sstable_ma(stale_dir, stale, generation=generation, **table))
        if node == 2:
            os.makedirs(os.path.join(base, "_manifest"))
            with open(os.path.join(base, "_manifest", "_manifest"), "w") as f:
                f.write("".join(n + "\n" for n in listed))
    expected = Digest()
    for (pk, ck), cols in state.items():
        expected.add(cql_row_canonical(pk, ck, cols))
    return {**expected.as_dict(), "partitions": len(pks)}


_GENERATORS = {"merge_json": _gen_merge_json, "priam_cql_avro": _gen_priam_cql}


def scaled_sizes(workload: str, scale: float = 1.0) -> dict:
    """The workload's sizes with its key or partition count times ``scale``
    (the cold warm-up pass and the generator tests use small corpora)."""
    s = dict(SIZES[workload])
    for k in ("keys", "partitions"):
        if k in s:
            s[k] = max(50, int(s[k] * scale))
    return s


def generate(workload: str, seed: int, root: str, scale: float = 1.0) -> dict:
    """Write the corpus of ``workload`` for ``seed`` under ``root/data`` and
    return its metadata (expected rows and digest, input bytes)."""
    rng = random.Random(f"{workload}:{seed}")
    expected = _GENERATORS[workload](root, rng, scaled_sizes(workload, scale))
    data = os.path.join(root, "data")
    data_bytes = n_data = 0
    for d, _dirs, files in os.walk(data):
        for f in files:
            if f.endswith("-Data.db"):
                n_data += 1
                data_bytes += os.path.getsize(os.path.join(d, f))
    return {"workload": workload, "seed": seed, "version": VERSION,
            "data_files": n_data, "data_bytes": data_bytes, **expected}


def ensure(workload: str, seed: int, cache_root: str, keep: int = 4,
           scale: float = 1.0) -> dict:
    """The cached corpus for (workload, seed, scale), generated on first use.

    Returns its metadata plus ``dir`` (the input directory), ``gen_s``
    (the generation time recorded when it was made) and ``cached``. At most
    ``keep`` corpora per workload stay on disk; the least recently used go."""
    tag = "" if scale == 1.0 else f"-x{scale:g}"
    final = os.path.join(cache_root, f"{workload}-v{VERSION}{tag}-s{seed}")
    meta_path = os.path.join(final, "meta.json")
    cached = os.path.isfile(meta_path)
    if not cached:
        os.makedirs(cache_root, exist_ok=True)
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        meta = generate(workload, seed, tmp, scale)
        meta["gen_s"] = time.perf_counter() - t0
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    os.utime(final)  # most recently used: the last to be evicted
    _evict(cache_root, workload, keep, final)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = os.path.join(final, "data")
    meta["cached"] = cached
    return meta


def _evict(cache_root: str, workload: str, keep: int, newest: str) -> None:
    mine = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if d.startswith(workload + "-")]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in [d for d in mine if d != newest][keep - 1:]:
        shutil.rmtree(d, ignore_errors=True)
