"""Bucketed incremental merge: correctness (merge == one-shot compact) and
the scale property that motivates it — the snapshot side of the merge join
reads its buckets in place with no Exchange; only the new batch shuffles."""

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import LEGACY, TESTDATA, with_reference

BUCKETS = 8
#: two overlapping generations; split by source_path, one per batch
INPUTS = with_reference(f"{LEGACY}/jb", f"{TESTDATA}/2.0.10/randomtable/input")


def _cells(spark, input_dir):
    from aegisthus_spark.sstable import scan_file
    from tests.conftest import CELLS_SCHEMA

    fields = ("source_path", "generation", "partition_key", "row_deleted_at",
              "kind", "cell_name", "cell_name_max", "value", "ts", "ttl",
              "local_deletion_time", "ts_of_last_delete")
    files = sorted(
        f for f in glob.glob(f"{input_dir}/**/*-Data.db", recursive=True)
        if ".idx" not in os.path.basename(f)
    )
    rows = [tuple(c[k] for k in fields) for f in files for c in scan_file(f)]
    return spark.createDataFrame(rows, CELLS_SCHEMA), files


def test_merge_compacted_equals_one_shot(spark):
    from aegisthus_spark.compact import compact, merge_compacted
    from aegisthus_spark.output import to_aeg_json

    for input_dir in INPUTS:
        cells, files = _cells(spark, input_dir)
        cells = cells.cache()
        half = files[len(files) // 2]
        a = compact(cells.filter(F.col("source_path") < half))
        b = compact(cells.filter(F.col("source_path") >= half))
        merged = merge_compacted(a, b)
        got = sorted(r.value for r in to_aeg_json(merged).collect())
        want = sorted(r.value for r in to_aeg_json(compact(cells)).collect())
        assert got == want


@pytest.mark.parametrize("buckets", [BUCKETS, 32])
def test_bucketed_merge_snapshot_side_does_not_shuffle(spark, tmp_path, buckets):
    """Pinned at TWO bucket counts (r12 verdict task #8): the Exchange-free
    snapshot side must be a property of the bucketed-table design, not an
    artifact of one bucket count happening to match a session default —
    a refactor that re-shuffles the snapshot at any count fails here, and
    the measured consequence (17.9x fewer shuffle bytes/batch at 200k
    partitions, stress.py --incremental) is recorded in BASELINE.md."""
    from aegisthus_spark.compact import compact, merge_compacted
    from aegisthus_spark.plans import physical_plan
    from aegisthus_spark.streaming.incremental import (
        merge_bucketed,
        write_snapshot_bucketed,
    )

    for n, input_dir in enumerate(INPUTS):
        cells, files = _cells(spark, input_dir)
        cells = cells.cache()
        half = files[len(files) // 2]
        t0, t1 = f"snap_b{buckets}_{n}_v0", f"snap_b{buckets}_{n}_v1"

        try:
            write_snapshot_bucketed(
                compact(cells.filter(F.col("source_path") < half)), t0, buckets=buckets
            )
            merge_bucketed(
                spark, cells.filter(F.col("source_path") >= half), t0, t1,
                buckets=buckets,
            )

            # correctness: the merged table (minus retained RT metadata) equals
            # one-shot compaction
            from aegisthus_spark.output import to_aeg_json
            from aegisthus_spark.streaming.incremental import strip_range_tombstones

            got = sorted(
                r.value
                for r in to_aeg_json(strip_range_tombstones(spark.table(t1))).collect()
            )
            want = sorted(r.value for r in to_aeg_json(compact(cells)).collect())
            assert got == want

            # scale property: in the merge plan, the bucketed scan side has no
            # Exchange between the table scan and the join
            snap = spark.table(t0)
            batch_rows = compact(
                cells.filter(F.col("source_path") >= half)
            ).repartition(buckets, "partition_key")
            plan = physical_plan(merge_compacted(snap, batch_rows), "formatted")
            # bucketed read markers: the scan reports selected bucket count
            assert re.search(r"Bucketed: true", plan), plan[:2000]
            exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
            assert exchanges <= 1, f"expected only the batch-side exchange:\n{plan[:3000]}"
        finally:
            # DROP in finally: a leaked managed-table dir fails every later run
            # with LOCATION_ALREADY_EXISTS, masking the original failure
            for t in (t0, t1):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_merge_retains_range_tombstones_for_late_cells(spark):
    """A cell arriving a LATER merge, older than an already-applied RT, must
    stay dead: compact(keep_range_tombstones=True) carries the RT, and
    merge_compacted re-applies + re-emits it."""
    from aegisthus_spark.compact import compact, merge_compacted
    from tests.conftest import CELLS_SCHEMA

    MIN = -(1 << 63)
    batch1 = spark.createDataFrame([
        ("f", 1, b"k", MIN, "t", b"b", b"c", None, 150, None, 99, None),
        ("f", 1, b"k", MIN, "c", b"b2", None, b"newer", 200, None, None, None),
        ("f", 1, b"k", MIN, "c", b"a", None, b"out", 100, None, None, None),
    ], CELLS_SCHEMA)
    # late arrivals: b@100 (covered, older), b@300 (newer than RT -> lives)
    batch2 = spark.createDataFrame([
        ("f", 2, b"k", MIN, "c", b"b", None, b"late_old", 100, None, None, None),
    ], CELLS_SCHEMA)
    batch3 = spark.createDataFrame([
        ("f", 3, b"k", MIN, "c", b"b", None, b"late_new", 300, None, None, None),
    ], CELLS_SCHEMA)

    snap = compact(batch1, keep_range_tombstones=True)
    rt_entries = [c for c in snap.collect()[0].columns if c.kind == "t"]
    assert len(rt_entries) == 1
    assert bytes(rt_entries[0].name) == b"b" and bytes(rt_entries[0].value) == b"c"

    snap2 = merge_compacted(snap, compact(batch2, keep_range_tombstones=True))
    names2 = [(bytes(c.name), c.kind) for c in snap2.collect()[0].columns]
    assert (b"b", "c") not in names2          # late old cell stayed dead
    assert (b"b", "t") in names2              # RT still carried

    snap3 = merge_compacted(snap2, compact(batch3, keep_range_tombstones=True))
    cols3 = {bytes(c.name): c for c in snap3.collect()[0].columns if c.kind != "t"}
    assert bytes(cols3[b"b"].value) == b"late_new"  # newer write survives
    assert set(cols3) == {b"a", b"b", b"b2"}


def test_merge_batch_retains_range_tombstones(spark, tmp_path):
    """Same guarantee through the directory-versioned merge_batch path."""
    from aegisthus_spark.streaming.incremental import merge_batch, read_snapshot
    from tests.conftest import CELLS_SCHEMA

    MIN = -(1 << 63)
    root = str(tmp_path / "snap")
    os.makedirs(root)
    b1 = spark.createDataFrame([
        ("f", 1, b"k", MIN, "t", b"b", b"c", None, 150, None, 99, None),
        ("f", 1, b"k", MIN, "c", b"z", None, b"live", 100, None, None, None),
    ], CELLS_SCHEMA)
    b2 = spark.createDataFrame([
        ("f", 2, b"k", MIN, "c", b"bb", None, b"late_covered", 120, None, None, None),
    ], CELLS_SCHEMA)
    merge_batch(spark, b1, root)
    merge_batch(spark, b2, root)
    cols = {bytes(c.name): c.kind for c in read_snapshot(spark, root).collect()[0].columns}
    assert cols == {b"z": "c", b"b": "t"}  # bb resurrected? no — RT held


def test_merge_compacted_preserves_row_too_big(spark):
    """A row truncated by an earlier compact(max_row_size=...) must stay
    flagged through later merges — the flag is the only lossy-row signal."""
    import struct

    from pyspark.sql import functions as F

    from aegisthus_spark.compact import compact, merge_compacted
    from tests.conftest import CELLS_SCHEMA

    def cell(i):
        return ("f", 1, b"k", -(1 << 63), "c",
                b"n%03d" % i, None, b"v" * 40, 100 + i, None, None, 0)

    big = spark.createDataFrame([cell(i) for i in range(20)], CELLS_SCHEMA)
    snap = compact(big, max_row_size=100)  # forces truncation
    assert snap.collect()[0].row_too_big is True

    batch = compact(spark.createDataFrame([cell(99)], CELLS_SCHEMA))
    merged = merge_compacted(snap, batch).collect()[0]
    assert merged.row_too_big is True
