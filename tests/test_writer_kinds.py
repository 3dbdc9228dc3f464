"""Writer/decoder round-trip for every cell kind (live, deleted, expiring,
counter) in both layouts — synthetic coverage beyond what the fixtures
happen to contain."""

import struct

import pytest

from aegisthus_spark.sstable import cparse
from aegisthus_spark.sstable.arrow_decode import scan_data_buffer_batches
from aegisthus_spark.sstable.writer import serialize_row

LONG_MIN = -(1 << 63)


def _cols():
    return [
        {"name": b"live", "value": b"v1", "ts": 100, "kind": "c",
         "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None},
        {"name": b"dead", "value": struct.pack(">i", 1234), "ts": 90, "kind": "d",
         "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None},
        {"name": b"exp", "value": b"v3", "ts": 80, "kind": "e",
         "ttl": 3600, "local_deletion_time": 1234, "ts_of_last_delete": None},
        {"name": b"cnt", "value": struct.pack(">q", 42), "ts": 70, "kind": "x",
         "ttl": None, "local_deletion_time": None, "ts_of_last_delete": 5},
    ]


@pytest.mark.parametrize("version", ["ic", "jb"])
def test_all_kinds_roundtrip(version):
    data = serialize_row(b"key1", 1_000_000, _cols(), version=version)
    data += serialize_row(b"key2", LONG_MIN, [], version=version)  # empty row

    scanners = [scan_data_buffer_batches]
    if cparse.available():
        scanners.append(cparse.scan_data_buffer_batches)
    for scan in scanners:
        _check_all_kinds([c for b in scan(data, version=version) for c in b.to_pylist()])


def _check_all_kinds(cells):
    by_name = {bytes(c["cell_name"]): c for c in cells if c["cell_name"]}

    assert bytes(by_name[b"live"]["value"]) == b"v1"
    assert by_name[b"live"]["kind"] == "c"

    assert by_name[b"dead"]["kind"] == "d"
    # DeletedColumn value payload is its i32 localDeletionTime
    assert by_name[b"dead"]["local_deletion_time"] == 1234

    assert by_name[b"exp"]["kind"] == "e"
    assert by_name[b"exp"]["ttl"] == 3600
    assert by_name[b"exp"]["local_deletion_time"] == 1234

    assert by_name[b"cnt"]["kind"] == "x"
    assert by_name[b"cnt"]["ts_of_last_delete"] == 5
    assert struct.unpack(">q", bytes(by_name[b"cnt"]["value"]))[0] == 42

    # all four cells carry the row deletion; the empty row is preserved
    assert all(c["row_deleted_at"] == 1_000_000 for c in cells[:4])
    empties = [c for c in cells if c["kind"] == "r"]
    assert len(empties) == 1
    assert bytes(empties[0]["partition_key"]) == b"key2"
    assert empties[0]["row_deleted_at"] == LONG_MIN


def test_java_int_div_semantics():
    from aegisthus_spark.sstable.writer import _java_int_div_1000

    assert _java_int_div_1000(1999) == 1
    assert _java_int_div_1000(-1999) == -1  # Java truncates toward zero
    # Java: (int)(Long.MIN_VALUE/1000): trunc toward zero then low 32 bits
    assert _java_int_div_1000(LONG_MIN) == 1511828489
