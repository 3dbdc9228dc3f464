"""Golden end-to-end tests: decode the reference repo's SSTable fixtures,
compact with our Spark pipeline, render aeg-JSON, and byte-compare against
the reference's checked-in golden outputs
(testdata/*/aeg_json_output/aeg-00000; mirrors
AegisthusIntegrationTest.groovy:181-195's exact-match assertion)."""

import glob
import os

import pytest

from tests.conftest import TESTDATA, needs_reference

pytestmark = needs_reference

CASES = [
    ("2.0.10/randomtable", None),
    ("2.0.10/rangetombstone", None),
    ("1.2.18/randomtable", None),
    ("1.2.18/rangetombstone", None),
    ("2.2.4/randomtable", None),
    ("2.2.4/rangetombstone", None),
    ("2.0.10_compressed/randomtable", None),
    ("2.0.10_1.2.18_combined/randomtable", None),
]


def data_files(case: str) -> list[str]:
    files = glob.glob(f"{TESTDATA}/{case}/input/**/*-Data.db", recursive=True)
    # exclude secondary index sstables, mirroring Distcp.java:250-255
    return sorted(f for f in files if ".idx" not in os.path.basename(f))


def golden_lines(case: str) -> list[str]:
    out = []
    for path in sorted(glob.glob(f"{TESTDATA}/{case}/aeg_json_output/aeg-*")):
        with open(path) as f:
            out.extend(line.rstrip("\n") for line in f if line.strip())
    return out


def compact_to_lines(spark, files: list[str]) -> list[str]:
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import to_aeg_json
    from aegisthus_spark.sstable import scan_file
    from tests.conftest import CELLS_SCHEMA

    corrupt = []
    rows = []
    for f in files:
        for c in scan_file(f, errors="skip", on_corrupt=lambda p, e: corrupt.append(p)):
            rows.append(tuple(c[k] for k in (
                "source_path", "generation", "partition_key", "row_deleted_at",
                "kind", "cell_name", "cell_name_max", "value", "ts", "ttl",
                "local_deletion_time", "ts_of_last_delete")))
    # the reference tolerates up to max_corrupt_files_to_skip corrupt inputs
    # (Aegisthus.java:246-257); the combined fixture ships exactly one
    assert len(corrupt) <= 1, f"too many corrupt files: {corrupt}"
    cells = spark.createDataFrame(rows, CELLS_SCHEMA)
    lines = [r.value for r in to_aeg_json(compact(cells)).collect()]
    return sorted(lines, key=lambda ln: bytes.fromhex(ln.split("\t", 1)[0]))


def test_golden_forced_splits(spark):
    """The reference's forced-splitting variant (aegisthus.blocksize=1024,
    AegisthusIntegrationTest.groovy:133-135): with 1 KB target splits every
    file fragments into many index-aligned pieces, and the distributed read
    must still reproduce the golden byte-for-byte."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import to_aeg_json
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sources.sstable_source import plan_partitions

    case = "2.0.10/randomtable"
    files = data_files(case)
    parts = plan_partitions(files, target_bytes=1024, combine_target=0)
    n_splits = sum(len(p) for p in parts)
    assert n_splits > len(files), "1 KB blocksize should force multi-splitting"

    cells = read_sstable_cells(
        spark, [f"{TESTDATA}/{case}/input"], target_bytes=1024, combine=False
    )
    actual = sorted(
        (r.value for r in to_aeg_json(compact(cells)).collect()),
        key=lambda ln: bytes.fromhex(ln.split("\t", 1)[0]),
    )
    expected = sorted(
        golden_lines(case), key=lambda ln: bytes.fromhex(ln.split("\t", 1)[0])
    )
    assert actual == expected


@pytest.mark.parametrize("case,_", CASES, ids=[c for c, _ in CASES])
def test_golden(spark, case, _):
    files = data_files(case)
    assert files, f"no fixture data files for {case}"
    expected = sorted(
        golden_lines(case), key=lambda ln: bytes.fromhex(ln.split("\t", 1)[0])
    )
    actual = compact_to_lines(spark, files)
    assert len(actual) == len(expected), (
        f"row count: ours={len(actual)} golden={len(expected)}"
    )
    for i, (a, e) in enumerate(zip(actual, expected)):
        assert a == e, f"line {i} differs:\nours:   {a[:300]}\ngolden: {e[:300]}"
