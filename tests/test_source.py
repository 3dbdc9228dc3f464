"""Distributed SSTable source: discovery, split planning, mapInPandas decode."""

import glob

from aegisthus_spark.sources import discover_data_files, plan_partitions, read_sstable_cells
from aegisthus_spark.sources.sstable_source import _plan_one

TESTDATA = "/root/reference/aegisthus-hadoop/src/test/resources/testdata"


def test_discovery_filters():
    files = discover_data_files(f"{TESTDATA}/2.0.10/randomtable/input")
    assert len(files) == 6  # 3 replicas x (live gen 5 + snapshot gen 1)
    assert all(f.endswith("-Data.db") for f in files)


def test_plan_small_files_binpack():
    files = discover_data_files(f"{TESTDATA}/2.0.10/randomtable/input")
    parts = plan_partitions(files, target_bytes=1 << 20, combine_target=1 << 20)
    # all fixture files are tiny -> should bin-pack into one partition
    assert len(parts) == 1
    assert len(parts[0]) == 6


def test_plan_forced_split():
    # forcing a 1 KB target must produce multiple index-aligned splits,
    # mirroring the reference's blocksize=1024 test (:133-135)
    f = sorted(glob.glob(f"{TESTDATA}/2.0.10/randomtable/input/**/*-jb-5-Data.db", recursive=True))[0]
    splits = _plan_one(f, target_bytes=1024)
    assert len(splits) > 1
    # contiguous, full coverage
    assert splits[0][1] == 0
    for (_, s1, e1, *_), (_, s2, e2, *_) in zip(splits, splits[1:]):
        assert e1 == s2
    import os

    assert splits[-1][2] == os.path.getsize(f)


import pytest


@pytest.mark.parametrize(
    "case", ["2.0.10/rangetombstone", "2.0.10_compressed/randomtable", "1.2.18/randomtable"]
)
def test_distributed_equals_driver_decode(spark, case):
    from aegisthus_spark.sstable import scan_file

    inputs = f"{TESTDATA}/{case}/input"
    df = read_sstable_cells(spark, inputs)
    got = df.count()
    want = sum(len(list(scan_file(f))) for f in discover_data_files(inputs))
    assert got == want > 0


def test_distributed_split_decode_equals_whole(spark, jb_input_dir):
    # force tiny splits and verify the union of split decodes == whole decode
    assert len(plan_partitions(discover_data_files(jb_input_dir), target_bytes=1024,
                               combine_target=0)) > 2
    whole = read_sstable_cells(spark, jb_input_dir).count()
    split = read_sstable_cells(spark, jb_input_dir, target_bytes=1024, combine=False).count()
    assert whole == split > 0


def test_job_end_to_end(spark, tmp_path):
    from aegisthus_spark.job import compact_snapshot, write_snapshot_json

    rows = compact_snapshot(spark, [f"{TESTDATA}/2.0.10/randomtable/input"])
    n = write_snapshot_json(rows, str(tmp_path / "out"))

    # output matches the golden file content (order-insensitive)
    got = set()
    for p in glob.glob(str(tmp_path / "out" / "part-*")):
        with open(p) as f:
            got.update(line.rstrip("\n") for line in f if line.strip())
    with open(f"{TESTDATA}/2.0.10/randomtable/aeg_json_output/aeg-00000") as f:
        want = {line.rstrip("\n") for line in f if line.strip()}
    assert got == want
    assert n == len(want)


def test_columnar_decode_matches_tuple_path():
    """arrow_decode.scan_data_buffer_batches must be byte-identical to the
    golden-tested tuple parser on every reference fixture (all versions,
    all cell kinds), including mid-row batch boundaries (batch_rows=97)."""
    import glob
    import mmap
    import os

    from aegisthus_spark.sstable.arrow_decode import scan_data_buffer_batches
    from aegisthus_spark.sstable.decoder import scan_data_buffer_rows
    from aegisthus_spark.sstable.descriptor import version_of

    from tests.test_golden import TESTDATA

    checked = 0
    for path in sorted(glob.glob(f"{TESTDATA}/*/*/input/**/*-Data.db", recursive=True)):
        try:
            v = version_of(path)
        except ValueError:
            continue
        if os.path.getsize(path) == 0:
            continue
        with open(path, "rb") as fh, mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
            try:
                tuples = list(scan_data_buffer_rows(mm, version=v, source_path=path, generation=7))
            except Exception:
                continue  # the combined fixture ships one corrupt file
            rows = [
                tuple(d.values())
                for b in scan_data_buffer_batches(
                    mm, version=v, source_path=path, generation=7, batch_rows=97)
                for d in b.to_pylist()
            ]
        assert rows == tuples, path
        checked += 1
    assert checked >= 30  # every decodable fixture file was compared


def test_columnar_decode_mid_row_corruption_keeps_prefix():
    """A file truncated MID-ROW with skip_corrupt must keep the cells decoded
    so far and emit exactly one '!' sentinel — the accumulator's per-row
    bookkeeping has to be reconciled, not crash in flush()."""
    import struct as st

    from aegisthus_spark.sstable.arrow_decode import scan_data_buffer_batches
    from aegisthus_spark.sstable.writer import serialize_row

    def cell(name, value, ts):
        return {"name": name, "value": value, "ts": ts, "kind": "c",
                "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}

    good = serialize_row(b"k1", -(1 << 63), [cell(b"a", b"v1", 1), cell(b"b", b"v2", 2)],
                         version="jb")
    partial = serialize_row(b"k2", -(1 << 63), [cell(b"c", b"v3", 3), cell(b"d", b"v4", 4)],
                            version="jb")
    # truncate the second row in the middle of its second cell
    buf = good + partial[: len(partial) - 5]

    rows = [d for b in scan_data_buffer_batches(
        buf, version="jb", source_path="f", skip_corrupt=True) for d in b.to_pylist()]
    kinds = [r["kind"] for r in rows]
    assert kinds.count("!") == 1 and kinds[-1] == "!"
    decoded = [(bytes(r["partition_key"]), bytes(r["cell_name"])) for r in rows if r["kind"] == "c"]
    assert (b"k1", b"a") in decoded and (b"k1", b"b") in decoded
    assert (b"k2", b"c") in decoded  # prefix of the corrupt row survives
    # row_deleted_at repeats consistently across the partial row
    assert all(r["row_deleted_at"] is not None for r in rows if r["kind"] == "c")

    # without skip_corrupt the same buffer must raise
    import pytest as _pytest

    with _pytest.raises(Exception):
        list(scan_data_buffer_batches(buf, version="jb"))


def test_c_scanner_parity_and_corruption():
    """The gcc-built scanner (cparse) must match the Python columnar parser
    byte-for-byte on every fixture, grow its buffers for rows larger than
    the batch caps, and keep the decoded prefix on mid-row corruption."""
    import mmap
    import os

    import pytest as _pytest

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import scan_data_buffer_batches as py_scan

    if not cparse.available():
        _pytest.skip("no C compiler on this host")

    import glob

    from aegisthus_spark.sstable.descriptor import version_of
    from tests.test_golden import TESTDATA

    checked = 0
    for path in sorted(glob.glob(f"{TESTDATA}/*/*/input/**/*-Data.db", recursive=True)):
        try:
            v = version_of(path)
        except ValueError:
            continue
        if os.path.getsize(path) == 0:
            continue
        with open(path, "rb") as fh, mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
            try:
                want = [tuple(d.values()) for b in py_scan(mm, version=v, source_path=path, generation=7) for d in b.to_pylist()]
            except Exception:
                continue
            got = [tuple(d.values()) for b in cparse.scan_data_buffer_batches(
                mm, version=v, source_path=path, generation=7, batch_rows=1031) for d in b.to_pylist()]
        assert got == want, path
        checked += 1
    assert checked >= 30

    # buffer growth: a row with more cells than the starting cap
    import struct as st

    from aegisthus_spark.sstable.writer import serialize_row

    def cell(name, value, ts):
        return {"name": name, "value": value, "ts": ts, "kind": "c",
                "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}

    wide = serialize_row(b"k", -(1 << 63), [cell(b"n%04d" % i, b"v", i) for i in range(50)],
                         version="jb")
    rows = [d for b in cparse.scan_data_buffer_batches(wide, version="jb", batch_rows=4)
            for d in b.to_pylist()]
    assert len(rows) == 50

    # mid-row corruption with skip: prefix kept + one sentinel
    good = serialize_row(b"k1", -(1 << 63), [cell(b"a", b"v1", 1), cell(b"b", b"v2", 2)], version="jb")
    partial = serialize_row(b"k2", -(1 << 63), [cell(b"c", b"v3", 3), cell(b"d", b"v4", 4)], version="jb")
    buf = good + partial[: len(partial) - 5]
    rows = [d for b in cparse.scan_data_buffer_batches(buf, version="jb", skip_corrupt=True)
            for d in b.to_pylist()]
    kinds = [r["kind"] for r in rows]
    assert kinds.count("!") == 1 and kinds[-1] == "!"
    assert (b"k2", b"c") in [(bytes(r["partition_key"]), bytes(r["cell_name"])) for r in rows if r["kind"] == "c"]
    with _pytest.raises(ValueError):
        list(cparse.scan_data_buffer_batches(buf, version="jb"))


def test_c_scanner_single_cell_rows_at_batch_cap():
    """Regression: a batch of exactly cap_cells single-cell rows left
    rows == n == cap_cells when the NEXT row's header was parsed, and the
    scanner stored row_deleted[rows] before any capacity check — an 8-byte
    heap write past the caller's numpy array. The fix guards at the top of
    the row loop (returns MORE at the row boundary instead). Decode well
    past the minimum cap (1024) in one-cell rows and assert exact parity
    with the Python columnar parser."""
    import pytest as _pytest

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.arrow_decode import scan_data_buffer_batches as py_scan
    from aegisthus_spark.sstable.writer import serialize_row

    if not cparse.available():
        _pytest.skip("no C compiler on this host")

    def cell(name, value, ts):
        return {"name": name, "value": value, "ts": ts, "kind": "c",
                "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}

    n_rows = 3000  # > 2 full 1024-cell batches of one-cell rows
    buf = b"".join(
        serialize_row(b"k%05d" % i, -(1 << 63), [cell(b"only", b"v%05d" % i, i)],
                      version="jb")
        for i in range(n_rows)
    )

    batches = list(cparse.scan_data_buffer_batches(
        buf, version="jb", source_path="f", batch_rows=1024))
    # every batch respects the cap — no row entry was ever indexed at cap
    assert all(b.num_rows <= 1024 for b in batches)
    got = [tuple(d.values()) for b in batches for d in b.to_pylist()]
    want = [tuple(d.values())
            for b in py_scan(buf, version="jb", source_path="f")
            for d in b.to_pylist()]
    assert got == want
    assert len(got) == n_rows


def test_stage_to_parquet_matches_direct_read(spark, tmp_path):
    """stage_dir decode-to-parquet path returns exactly the same cells as
    the direct mapInArrow path, across versions and compression."""
    from aegisthus_spark.sources import read_sstable_cells
    from tests.test_golden import TESTDATA

    inputs = [
        f"{TESTDATA}/2.0.10/randomtable/input",
        f"{TESTDATA}/2.0.10/compressedrandomtable/input",
        f"{TESTDATA}/1.2.18/randomtable/input",
    ]
    direct = read_sstable_cells(spark, inputs)
    staged = read_sstable_cells(spark, inputs, stage_dir=str(tmp_path / "stage"))

    def norm(df):
        return sorted(
            (r["source_path"], r["generation"],
             None if r["partition_key"] is None else bytes(r["partition_key"]),
             r["row_deleted_at"], r["kind"],
             None if r["cell_name"] is None else bytes(r["cell_name"]),
             None if r["value"] is None else bytes(r["value"]), r["ts"])
            for r in df.collect()
        )

    a, b = norm(direct), norm(staged)
    assert len(a) > 0 and a == b
    # schema identical to the canonical cells schema
    assert staged.schema == direct.schema


def test_stage_to_parquet_corrupt_sentinel(spark, tmp_path):
    """skip_corrupt staging keeps the sentinel-row contract ('!' rows)."""
    from aegisthus_spark.sources import read_sstable_cells

    bad_dir = tmp_path / "in"
    bad_dir.mkdir()
    (bad_dir / "ks-cf-jb-1-Data.db").write_bytes(b"\x00\x08garbage!garbage")
    df = read_sstable_cells(
        spark, [str(bad_dir)], skip_corrupt=True, stage_dir=str(tmp_path / "st")
    )
    rows = df.collect()
    assert [r.kind for r in rows] == ["!"]


def test_discovery_priam_manifest_and_batches(tmp_path):
    """S9 parity with the reference DirectoryWalker: a _manifest/_manifest
    file is the authoritative listing for its directory, and among sibling
    batch_id=N upload retries only the greatest is walked."""
    import os
    import shutil

    src = sorted(
        glob.glob(f"{TESTDATA}/2.0.10/randomtable/input/**/*-Data.db", recursive=True)
    )
    assert len(src) >= 3

    root = tmp_path / "backup"
    # plain keyspace dir with two generations
    plain = root / "ks" / "cf"
    plain.mkdir(parents=True)
    shutil.copy(src[0], plain / os.path.basename(src[0]))
    # batch retries: batch_id=1 (stale) and batch_id=2 (current)
    for b, f in (("batch_id=1", src[1]), ("batch_id=2", src[2])):
        d = root / "ks" / "cf2" / b
        d.mkdir(parents=True)
        shutil.copy(f, d / os.path.basename(f))

    found = discover_data_files(str(root))
    names = [os.path.basename(f) for f in found]
    assert os.path.basename(src[0]) in names
    assert os.path.basename(src[2]) in names  # greatest batch kept
    assert all("batch_id=1" not in f for f in found)  # stale batch skipped
    assert len(found) == 2

    # batched=False keeps every batch dir (reference default behavior)
    assert len(discover_data_files(str(root), batched=False)) == 3

    # now drop a manifest into cf2 naming ONLY the stale batch's file: the
    # manifest overrides the walk entirely
    man = root / "ks" / "cf2" / "_manifest"
    man.mkdir()
    (man / "_manifest").write_text(str(root / "ks" / "cf2" / "batch_id=1" / os.path.basename(src[1])) + "\n")
    found = discover_data_files(str(root))
    assert os.path.basename(src[1]) in [os.path.basename(f) for f in found]
    assert all("batch_id=2" not in f for f in found)
    # manifest off -> back to batch dedup
    found = discover_data_files(str(root), honor_manifest=False)
    assert all("batch_id=1" not in f for f in found)


def test_discovery_numeric_batch_order_and_relative_manifest(tmp_path):
    """Two review-found S9 edges: batch retry dedup must compare batch ids
    NUMERICALLY (lexicographic max picks batch_id=9 over batch_id=10), and
    _manifest lines may be relative to the directory owning the manifest."""
    import os
    import shutil

    src = sorted(
        glob.glob(f"{TESTDATA}/2.0.10/randomtable/input/**/*-Data.db", recursive=True)
    )
    root = tmp_path / "backup"
    for b, f in (("batch_id=9", src[0]), ("batch_id=10", src[1])):
        d = root / "ks" / "cf" / b
        d.mkdir(parents=True)
        shutil.copy(f, d / os.path.basename(f))
    found = discover_data_files(str(root))
    assert len(found) == 1
    assert "batch_id=10" in found[0], found  # numeric, not lexicographic

    # relative manifest lines resolve against the manifest's directory
    man = root / "ks" / "cf" / "_manifest"
    man.mkdir()
    rel = os.path.join("batch_id=9", os.path.basename(src[0]))
    (man / "_manifest").write_text(rel + "\n")
    found = discover_data_files(str(root))
    assert len(found) == 1 and "batch_id=9" in found[0], found
