"""Property/fuzz parity between the C scanner and its Python twin.

The C scanner (`sstable/_scan.c`) decodes every byte of every table at
scale; a bounds slip there is silent corruption. The golden tests pin
valid files — these tests pin the ADVERSARIAL space: random truncations,
bit flips, and spliced length fields over the same buffer must make the
two decode paths, C (cparse) and Python (arrow_decode), agree: identical
cells, or corrupt in both. On valid buffers both must return exactly the
cells the strategy serialized.

Corrupt-agreement contract: with skip_corrupt=False both raise; with
skip_corrupt=True both yield the cells decoded before the error plus one
kind='!' sentinel row. Cell prefixes for PARTIAL rows may legitimately
differ in bookkeeping-only fields under nulls, so comparison projects the
logical cell values (see _rows).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aegisthus_spark.sstable import cparse
from aegisthus_spark.sstable.arrow_decode import scan_data_buffer_batches as py_scan
from aegisthus_spark.sstable.writer import serialize_row

pytestmark = pytest.mark.skipif(
    not cparse.available(), reason="no C compiler on this host"
)

_KINDS = ["c", "d", "e", "x", "t"]
LONG_MIN = -(1 << 63)


@st.composite
def cells_strategy(draw):
    kind = draw(st.sampled_from(_KINDS))
    name = draw(st.binary(min_size=1, max_size=12))
    cell = {
        "name": name,
        "value": draw(st.binary(min_size=0, max_size=20)),
        "ts": draw(st.integers(min_value=-(1 << 62), max_value=1 << 62)),
        "kind": kind,
        "ttl": None,
        "local_deletion_time": None,
        "ts_of_last_delete": None,
    }
    if kind == "e":
        cell["ttl"] = draw(st.integers(min_value=0, max_value=1 << 30))
        cell["local_deletion_time"] = draw(st.integers(min_value=0, max_value=1 << 30))
    elif kind == "x":
        cell["ts_of_last_delete"] = draw(
            st.integers(min_value=-(1 << 62), max_value=1 << 62)
        )
    elif kind == "t":
        cell["local_deletion_time"] = draw(st.integers(min_value=0, max_value=1 << 30))
        cell["cell_name_max"] = draw(st.binary(min_size=1, max_size=12))
        cell["value"] = None
    elif kind == "d":
        # deletion cells usually carry a 4-byte localDeletionTime value
        if draw(st.booleans()):
            cell["value"] = (draw(st.integers(0, 1 << 30))).to_bytes(4, "big")
    return cell


def _serialized(key, deleted_at, cells):
    """The logical cells (see _rows) that one serialized row decodes to."""
    if not cells:  # an empty row survives as a row-only cell
        return [("r", key, deleted_at, None, None, None, LONG_MIN, None, None, None)]
    out = []
    for c in cells:
        kind, value, ldt = c["kind"], c["value"], c["local_deletion_time"]
        if kind == "t":
            value = None
        elif kind == "d":
            # a deleted cell's 4-byte value is its localDeletionTime
            ldt = int.from_bytes(value, "big", signed=True) if len(value) == 4 else None
        out.append((kind, key, deleted_at, c["name"], c.get("cell_name_max"), value,
                    c["ts"], c["ttl"], ldt, c["ts_of_last_delete"]))
    return out


@st.composite
def buffer_strategy(draw):
    """(buffer, version, the cells serialized into it)."""
    version = draw(st.sampled_from(["ic", "jb"]))
    n_rows = draw(st.integers(min_value=1, max_value=6))
    rows = []
    expected = []
    for i in range(n_rows):
        key = draw(st.binary(min_size=1, max_size=10))
        deleted_at = draw(
            st.sampled_from([LONG_MIN, 0, draw(st.integers(-(1 << 62), 1 << 62))])
        )
        cells = draw(st.lists(cells_strategy(), min_size=0, max_size=5))
        rows.append(serialize_row(key, deleted_at, cells, version=version))
        expected += _serialized(key, deleted_at, cells)
    return b"".join(rows), version, expected


def _rows(batches):
    """Project batches to comparable logical tuples."""
    out = []
    for b in batches:
        for d in b.to_pylist():
            out.append(
                (
                    d["kind"],
                    None if d["partition_key"] is None else bytes(d["partition_key"]),
                    d["row_deleted_at"],
                    None if d["cell_name"] is None else bytes(d["cell_name"]),
                    None if d["cell_name_max"] is None else bytes(d["cell_name_max"]),
                    None if d["value"] is None else bytes(d["value"]),
                    d["ts"],
                    d["ttl"],
                    d["local_deletion_time"],
                    d["ts_of_last_delete"],
                )
            )
    return out


def _scan_all(buf, version, *, skip_corrupt, batch_rows=1024):
    """(ok, rows) for both paths; ok=False means raised."""
    results = {}
    for label, fn in (
        ("c", lambda: _rows(
            cparse.scan_data_buffer_batches(
                buf, version=version, source_path="f", batch_rows=batch_rows,
                skip_corrupt=skip_corrupt,
            )
        )),
        ("py", lambda: _rows(
            py_scan(
                buf, version=version, source_path="f", batch_rows=batch_rows,
                skip_corrupt=skip_corrupt,
            )
        )),
    ):
        try:
            results[label] = (True, fn())
        except Exception:
            results[label] = (False, None)
    return results


_SETTINGS = settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(buffer_strategy())
@_SETTINGS
def test_valid_buffers_parity(bufv):
    buf, version, expected = bufv
    res = _scan_all(buf, version, skip_corrupt=False)
    assert res["c"][0] and res["py"][0], "valid buffer must decode in both paths"
    assert res["c"][1] == res["py"][1]
    assert res["c"][1] == expected


@given(bufv=buffer_strategy(), cut=st.integers(min_value=0, max_value=200))
@_SETTINGS
def test_truncation_parity(bufv, cut):
    buf, version, _ = bufv
    if not buf:
        return
    trunc = buf[: max(0, len(buf) - 1 - (cut % len(buf)))]
    res = _scan_all(trunc, version, skip_corrupt=False)
    assert res["c"][0] == res["py"][0], (
        f"corrupt-disagreement on truncation: C ok={res['c'][0]} "
        f"py ok={res['py'][0]} len={len(trunc)} version={version}"
    )
    if res["c"][0]:
        assert res["c"][1] == res["py"][1]


@given(
    bufv=buffer_strategy(),
    pos=st.integers(min_value=0, max_value=1 << 30),
    bit=st.integers(min_value=0, max_value=7),
)
@_SETTINGS
def test_bitflip_parity_skip_corrupt(bufv, pos, bit):
    buf, version, _ = bufv
    if not buf:
        return
    b = bytearray(buf)
    b[pos % len(b)] ^= 1 << bit
    b = bytes(b)
    res = _scan_all(b, version, skip_corrupt=True)
    # skip_corrupt=True must never raise in either path
    assert res["c"][0] and res["py"][0]
    c_rows, p_rows = res["c"][1], res["py"][1]
    c_bad = [r for r in c_rows if r[0] == "!"]
    p_bad = [r for r in p_rows if r[0] == "!"]
    assert len(c_bad) == len(p_bad) <= 1, "sentinel presence must agree"
    if not c_bad:
        assert c_rows == p_rows
    else:
        # both kept a decoded prefix then stopped; the prefixes must agree on
        # COMPLETE rows. The final (partial) row's kept-cell count may differ
        # by bookkeeping, so compare up to the shorter complete prefix.
        c_cells = [r for r in c_rows if r[0] != "!"]
        p_cells = [r for r in p_rows if r[0] != "!"]
        k = min(len(c_cells), len(p_cells))
        assert c_cells[:k] == p_cells[:k]


@given(
    bufv=buffer_strategy(),
    pos=st.integers(min_value=0, max_value=1 << 30),
    val=st.integers(min_value=-(1 << 31), max_value=(1 << 31) - 1),
)
@_SETTINGS
def test_spliced_i32_parity(bufv, pos, val):
    """Overwrite 4 bytes anywhere with an adversarial i32 (big negative /
    huge lengths) — the classic way to force backwards cursors or giant
    slices."""
    buf, version, _ = bufv
    if len(buf) < 4:
        return
    b = bytearray(buf)
    p = pos % (len(b) - 3)
    b[p : p + 4] = int(val & 0xFFFFFFFF).to_bytes(4, "big")
    b = bytes(b)
    res = _scan_all(b, version, skip_corrupt=False)
    assert res["c"][0] == res["py"][0], (
        f"corrupt-disagreement on splice at {p} val={val} version={version}"
    )
    if res["c"][0]:
        assert res["c"][1] == res["py"][1]


def test_negative_value_length_is_corrupt():
    """Regression (ADVICE r2): a negative i32 value length used to move the
    Python cursor backwards — potential infinite loop. Both paths must
    reject it."""
    cell = {
        "name": b"n", "value": b"vvvv", "ts": 7, "kind": "c",
        "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None,
    }
    buf = bytearray(serialize_row(b"k", -(1 << 63), [cell], version="jb"))
    # value length field: key(2+1) + ldt/deleted(12) + name_len(2)+name(1)+flags(1)+ts(8) -> i32 vlen
    off = 2 + 1 + 12 + 2 + 1 + 1 + 8
    buf[off : off + 4] = (-5 & 0xFFFFFFFF).to_bytes(4, "big")
    buf = bytes(buf)
    with pytest.raises(Exception):
        list(py_scan(buf, version="jb", source_path="f"))
    with pytest.raises(Exception):
        list(cparse.scan_data_buffer_batches(buf, version="jb", source_path="f"))
