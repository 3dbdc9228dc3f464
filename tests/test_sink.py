"""The file sink's commit protocol (aegisthus_spark/sink.py): a retried task
commits one file set, and a failed job leaves nothing behind."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: runs in a child process: the test session allows no task retry, while
#: local[2,2] gives every task a second attempt
_RETRY_CHILD = r'''
import itertools, json, os, shutil, sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

from aegisthus_spark import avro_out
from aegisthus_spark.sstable import writer

out, marker = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2,2]").appName("sink-retry")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(0, 64, 1, 4).selectExpr(
    "cast(format_string('k%04d', id) as binary) as partition_key",
    "if(id % 5 = 0, id * 1000, -9223372036854775808) as deleted_at",
    "array(named_struct('name', cast('c0' as binary), "
    "'value', cast(repeat(string(id), 2000) as binary), 'ts', id, 'kind', 'c', "
    "'ttl', cast(null as int), 'local_deletion_time', cast(null as int), "
    "'ts_of_last_delete', cast(null as long))) as columns")
records = spark.range(0, 64, 1, 4).selectExpr(
    "id", "if(id % 3 = 0, null, repeat(string(id), 50)) as s",
    "array(id, -id) as a", "timestamp_micros(id * 86400000000 - 5) as ts")


def fail_after_eight_rows(rows, directory):
    yield from itertools.islice(rows, 8)
    with open(marker, "a") as f:
        sizes = {n: os.path.getsize(os.path.join(directory, n)) for n in os.listdir(directory)}
        f.write(json.dumps(sizes) + "\n")
    raise RuntimeError("injected task failure")


def flaky(write_partition):
    """Partition 1's first attempt encodes eight rows into its file, then
    fails."""
    def wrapped(partition, rows, directory, **kw):
        if partition == 1 and TaskContext.get().attemptNumber() == 0:
            rows = fail_after_eight_rows(rows, directory)
        return write_partition(partition, rows, directory, **kw)

    return wrapped


def listing():
    return {n: open(os.path.join(out, n), "rb").read() for n in sorted(os.listdir(out))}


result = {}
for name, df, module, write in (("sstable", rows, writer, writer.write_sstable),
                                ("avro", records, avro_out, avro_out.write_avro)):
    shutil.rmtree(out, ignore_errors=True)
    write(df, out)
    clean = listing()
    shutil.rmtree(out)
    real = module._write_partition
    module._write_partition = flaky(real)
    written = write(df, out)
    module._write_partition = real
    result[name] = {
        "clean": sorted(clean),
        "same_bytes": listing() == clean,
        "returned": [os.path.basename(p) for p in written],
        "rows": written.rows,
        "failed_attempts": [json.loads(line) for line in open(marker)],
    }
    os.remove(marker)
print("RESULT " + json.dumps(result))
'''


def test_retried_task_commits_one_file_set(tmp_path):
    """One partition's first attempt fails after its file is open under
    _temporary; the retry commits the same bytes a clean run writes into a
    directory of the same name, and nothing of the failed attempt stays."""
    script = tmp_path / "child.py"
    script.write_text(_RETRY_CHILD)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "out"), str(tmp_path / "failed")],
        capture_output=True, text=True, timeout=600, env=env, cwd=ROOT,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    result = json.loads(lines[0][len("RESULT "):])
    for name, suffix in (("sstable", "-Data.db"), ("avro", ".avro")):
        r = result[name]
        data = [n for n in r["clean"] if n != "_SUCCESS"]
        assert len(data) == 4 and all(n.endswith(suffix) for n in data), r
        assert r["clean"] == ["_SUCCESS"] + data
        assert r["same_bytes"], name
        assert r["returned"] == data and r["rows"] == 64
        # exactly one failed attempt, which had begun partition 1's file
        [partial] = r["failed_attempts"]
        assert list(partial) == [data[1]], partial
        if name == "sstable":  # its rows reach the disk as they are encoded
            assert partial[data[1]] > 0


def _failing_encoder(fail):
    def encode(partition, rows, directory):
        name, n = f"part-{partition}", 0
        with open(os.path.join(directory, name), "wb") as f:
            for n, row in enumerate(rows, 1):
                f.write(b"%d\n" % row["id"])
                if fail:
                    raise RuntimeError("injected encode failure")
        return [(name, n)]

    return encode


def test_failed_write_leaves_nothing(spark, tmp_path):
    """A failed job removes what the write created: the whole directory
    when the write created it, else only its own files, so an earlier
    committed output stays as it was."""
    from aegisthus_spark.sink import write_partitions

    df = spark.range(0, 40, 1, 4)
    fresh = tmp_path / "fresh"
    with pytest.raises(Exception, match="injected encode failure"):
        write_partitions(df, str(fresh), _failing_encoder(True))
    assert not fresh.exists()

    kept = tmp_path / "kept"
    written = write_partitions(df, str(kept), _failing_encoder(False))
    assert sorted(os.listdir(kept)) == ["_SUCCESS", "part-0", "part-1", "part-2", "part-3"]
    assert written.rows == 40
    before = {p.name: p.read_bytes() for p in kept.iterdir()}
    with pytest.raises(Exception, match="injected encode failure"):
        write_partitions(df, str(kept), _failing_encoder(True))
    assert {p.name: p.read_bytes() for p in kept.iterdir()} == before


def test_abort_removes_files_added_during_the_abort(spark, tmp_path, monkeypatch):
    """Tasks of a failed job may still write while the driver removes the
    output: a file a straggler adds after the removal listed its directory
    must not leave the directory behind. The straggler runs in a thread
    started at the removal's first rmdir, before that rmdir, so the race
    is the same on every run."""
    import threading

    from aegisthus_spark.sink import write_partitions

    out = tmp_path / "out"
    temporary = out / "_temporary"
    added = []
    real_rmdir = os.rmdir

    def straggle():
        for attempt in temporary.iterdir():
            late = attempt / "late"
            late.write_bytes(b"late")
            added.append(late)

    def rmdir(path, *args, **kwargs):
        if not added and temporary.is_dir() and any(temporary.iterdir()):
            thread = threading.Thread(target=straggle)
            thread.start()
            thread.join()
        return real_rmdir(path, *args, **kwargs)

    monkeypatch.setattr(os, "rmdir", rmdir)
    with pytest.raises(Exception, match="injected encode failure"):
        write_partitions(spark.range(0, 40, 1, 4), str(out), _failing_encoder(True))
    assert added
    assert not out.exists()
