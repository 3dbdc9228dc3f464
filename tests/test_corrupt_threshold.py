"""P6 corrupt-input containment: cells decoded before the error are kept,
corrupt files are counted exactly, and the job fails above the configured
threshold (reference: Aegisthus.java:246-257)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import LEGACY, TESTDATA, with_reference


@pytest.fixture()
def corrupt_dirs(tmp_path):
    """Copies of the legacy jb input (and of the reference's randomtable
    input, where it exists), each with one truncated Data.db."""
    dsts = []
    for i, src in enumerate(with_reference(f"{LEGACY}/jb", f"{TESTDATA}/2.0.10/randomtable/input")):
        dst = str(tmp_path / f"input{i}")
        shutil.copytree(src, dst)
        victims = []
        for root, _dirs, files in os.walk(dst):
            for fn in files:
                if fn.endswith("-Data.db"):
                    victims.append(os.path.join(root, fn))
        victims.sort()
        v = victims[0]
        size = os.path.getsize(v)
        with open(v, "rb") as f:
            head = f.read(size // 2 + 7)  # mid-row truncation
        with open(v, "wb") as f:
            f.write(head)
        dsts.append(dst)
    return dsts


def test_corrupt_sentinels_and_containment(spark, corrupt_dirs):
    from aegisthus_spark.sources import read_sstable_cells

    for corrupt_dir in corrupt_dirs:
        cells = read_sstable_cells(spark, [corrupt_dir], skip_corrupt=True)
        marks = cells.filter(F.col("kind") == "!")
        assert marks.select("source_path").distinct().count() == 1
        # the good files still decode fully
        assert cells.filter(F.col("kind") != "!").count() > 0


def test_threshold_enforced_via_cli(spark, corrupt_dirs, tmp_path, monkeypatch):
    import aegisthus_spark.session as sess
    from aegisthus_spark import job as jobmod

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)

    for i, corrupt_dir in enumerate(corrupt_dirs):
        # threshold 1: succeeds, reports the skipped file
        jobmod.main([
            "--input-dir", corrupt_dir,
            "--output", str(tmp_path / f"ok{i}"),
            "--max-corrupt-files-to-skip", "1",
        ])

        # threshold 0 with skip disabled: the decode error itself fails the job
        with pytest.raises(Exception):
            jobmod.main([
                "--input-dir", corrupt_dir,
                "--output", str(tmp_path / f"fail{i}"),
            ])


def test_compact_ignores_sentinels(spark, corrupt_dirs):
    from aegisthus_spark.compact import compact
    from aegisthus_spark.sources import read_sstable_cells

    for corrupt_dir in corrupt_dirs:
        cells = read_sstable_cells(spark, [corrupt_dir], skip_corrupt=True)
        rows = compact(cells)
        assert rows.filter(F.col("partition_key").isNull()).count() == 0



@pytest.mark.parametrize("sink", [
    ["--cql-schema", "CREATE TABLE t (key blob PRIMARY KEY, v blob)"],
    ["--produce-sstable"],
], ids=["cql", "sstable"])
def test_file_sinks_enforce_threshold(spark, tmp_path, monkeypatch, capsys, sink):
    """The CQL and SSTable exports count corrupt inputs against
    ``--max-corrupt-files-to-skip`` like the aeg-JSON path. Both write
    through the file sink, whose job runs outside a SQL execution: the
    count must still arrive instead of leaving the job waiting for it."""
    import aegisthus_spark.session as sess
    from aegisthus_spark import job as jobmod

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    src = str(tmp_path / "input")
    shutil.copytree(f"{LEGACY}/jb", src)
    for fn in os.listdir(src):
        if fn.endswith("-Data.db"):
            path = os.path.join(src, fn)
            with open(path, "rb") as f:
                head = f.read(os.path.getsize(path) // 2)  # mid-row in both
            with open(path, "wb") as f:
                f.write(head)
    args = ["--input-dir", src, *sink]
    with pytest.raises(RuntimeError, match="2 corrupt input files exceed"):
        jobmod.main(args + ["--output", str(tmp_path / "one"),
                            "--max-corrupt-files-to-skip", "1"])
    capsys.readouterr()
    jobmod.main(args + ["--output", str(tmp_path / "two"),
                        "--max-corrupt-files-to-skip", "2"])
    out = capsys.readouterr().out.splitlines()
    assert "corrupt_files_skipped=2" in out, out
    assert any("rows_written=" in line for line in out), out
