import os

import pytest

#: the reference Aegisthus checkout: its fixture SSTables, the goldens it
#: produced from them, and its sample tables (``scripts/data``)
REFERENCE = "/root/reference"
TESTDATA = f"{REFERENCE}/aegisthus-hadoop/src/test/resources/testdata"
#: the in-repo 2.x fixture (tools/make_legacy_fixture.py, FIXTURES.md §13)
LEGACY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "legacy")

HAS_REFERENCE = os.path.isdir(REFERENCE)

#: for checks against output that only the reference's inputs reproduce
needs_reference = pytest.mark.skipif(
    not HAS_REFERENCE, reason="needs the reference repository's fixtures"
)


def with_reference(legacy_case, reference_case):
    """The in-repo case, followed by the reference's where its checkout
    exists: a test checks its assertions on both."""
    return [legacy_case] + ([reference_case] if HAS_REFERENCE else [])


#: registry queries that decode the reference's fixtures
#: (``queries._SST_TESTDATA``); their oracle is the reference's golden
REFERENCE_QUERIES = frozenset({
    "sst_decode_randomtable", "sst_decode_rangetombstone", "sst_decode_compressed",
    "sst_decode_combined", "sst_decode_staged", "aeg_incremental_snapshot",
})


@pytest.fixture(scope="session")
def spark():
    from aegisthus_spark.session import get_spark

    s = get_spark("tests", cpus=4)
    yield s


CELLS_SCHEMA = (
    "source_path string, generation int, partition_key binary, row_deleted_at long, "
    "kind string, cell_name binary, cell_name_max binary, value binary, ts long, "
    "ttl int, local_deletion_time int, ts_of_last_delete long"
)


@pytest.fixture(scope="session")
def cells_schema():
    return CELLS_SCHEMA


#: keys in the ``jb_input_dir`` fixture
JB_KEYS = 120


@pytest.fixture(scope="session")
def jb_input_dir(tmp_path_factory):
    """A self-contained multi-generation jb input directory, written with
    the repository's own row serializer: generation 1 holds JB_KEYS
    partitions x 4 cells; generation 2 overwrites one cell of every third
    key, adds a cell tombstone to every fifth and a row tombstone to every
    seventh. Both carry an Index.db, so the planner can cut intra-file
    splits. Returns the directory; every key survives compaction (a
    row-tombstoned key still emits its row)."""
    import struct

    from aegisthus_spark.sstable.writer import serialize_row

    d = tmp_path_factory.mktemp("jb_input")

    def cell(name, value, ts, kind="c"):
        return {"name": name, "value": value, "ts": ts, "kind": kind, "ttl": None,
                "local_deletion_time": None, "ts_of_last_delete": None}

    def write(gen, rows):
        index = bytearray()
        data = bytearray()
        for key, deleted_at, cols in rows:
            index += struct.pack(">H", len(key)) + key + struct.pack(">q", len(data))
            index += struct.pack(">i", 0)  # empty promoted index
            data += serialize_row(key, deleted_at, cols, version="jb")
        (d / f"ks-t-jb-{gen}-Data.db").write_bytes(bytes(data))
        (d / f"ks-t-jb-{gen}-Index.db").write_bytes(bytes(index))

    keys = [struct.pack(">q", i) for i in range(JB_KEYS)]
    no_delete = -(1 << 63)
    write(1, [
        (k, no_delete, [cell(b"c%d" % j, b"v1-%d" % j, 100 + j) for j in range(4)])
        for k in keys
    ])
    gen2 = []
    for i, k in enumerate(keys):
        cols = []
        if i % 3 == 0:
            cols.append(cell(b"c1", b"v2", 200))
        if i % 5 == 0:
            cols.append(cell(b"c3", struct.pack(">i", 0), 300, kind="d"))
        if cols or i % 7 == 0:
            gen2.append((k, 250 if i % 7 == 0 else no_delete, cols))
    write(2, gen2)
    return str(d)
