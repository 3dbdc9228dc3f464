"""SSTable writer round-trip: compact fixtures -> write Data.db -> re-decode
-> the same aeg-JSON (mirrors AegisthusIntegrationTest.groovy:198-227,
which verifies the write path through the read path for versions ic/jb).
Inputs are the in-repository 2.x fixtures (tests/fixtures/legacy)."""

import glob
import os

import pytest

from tests.test_golden import compact_to_lines

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures", "legacy"
)


def _compacted(spark, files):
    from aegisthus_spark.compact import compact
    from aegisthus_spark.sstable import scan_file
    from tests.conftest import CELLS_SCHEMA

    fields = ("source_path", "generation", "partition_key", "row_deleted_at",
              "kind", "cell_name", "cell_name_max", "value", "ts", "ttl",
              "local_deletion_time", "ts_of_last_delete")
    rows = [tuple(c[k] for k in fields) for f in files for c in scan_file(f)]
    return compact(spark.createDataFrame(rows, CELLS_SCHEMA)).sortWithinPartitions("partition_key")


@pytest.mark.parametrize("out_version", ["ic", "jb"])
@pytest.mark.parametrize("layout", ["ic", "jb"])
def test_roundtrip(spark, tmp_path, layout, out_version):
    """The ic generation and the two overlapping jb generations, each
    written as ic and as jb: re-decoding the written files compacts to the
    same aeg-JSON as the fixture cells."""
    from aegisthus_spark.sstable import write_sstable

    files = sorted(glob.glob(f"{FIXTURE}/{layout}/*-Data.db"))
    assert files, f"no fixture data files for {layout}"

    out_dir = str(tmp_path / "sstable_out")
    written = write_sstable(
        _compacted(spark, files), out_dir, version=out_version, dataset="ks-table"
    )
    assert written, "no sstable files written"
    assert all(f"-{out_version}-" in p and p.endswith("-Data.db") for p in written)
    assert sorted(written) == sorted(glob.glob(f"{out_dir}/*-Data.db"))

    expected = compact_to_lines(spark, files)
    assert len(expected) > 20
    assert compact_to_lines(spark, sorted(written)) == expected


def test_serialize_row_layouts():
    """Byte-level spot checks of both row layouts."""
    from aegisthus_spark.sstable.writer import serialize_row

    col = {"name": b"\x00n", "value": b"v", "ts": 7, "kind": "c",
           "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}
    jb = serialize_row(b"k", 1000, [col], version="jb")
    # u16 keylen, key, i32 ldt(=1), i64 deletedAt(=1000), atom, u16 end-of-row
    assert jb[:3] == b"\x00\x01k"
    assert jb[3:7] == (1).to_bytes(4, "big")
    assert jb[7:15] == (1000).to_bytes(8, "big")
    assert jb.endswith(b"\x00\x00")

    ic = serialize_row(b"k", 1000, [col], version="ic")
    # u16 keylen, key, i64 dataSize(=16+atom), i32 ldt, i64 deletedAt, i32 count
    atom_size = 2 + 2 + 1 + 8 + 4 + 1
    assert ic[3:11] == (16 + atom_size).to_bytes(8, "big")
    assert ic[11:15] == (1).to_bytes(4, "big")  # ldt = deletedAt/1000
    assert ic[15:23] == (1000).to_bytes(8, "big")
    assert ic[23:27] == (1).to_bytes(4, "big")  # column count
    assert len(ic) == 27 + atom_size
