"""The one file sink of the SSTable and Avro exports: a per-partition
encoder run in the executors, committed atomically the way the
reference's Hadoop committer does (CleanOutputCommitter.java:19-71).

Each task writes into ``<output>/_temporary/<partition>-<task attempt>/``
and returns its file names and row counts; ``collect()`` holds exactly one
successful attempt per partition, so the driver moves those files, and
only those, into ``<output>``, deletes ``_temporary`` and the files an
earlier run left there, and writes ``_SUCCESS``. A failed job removes
everything the write created. Files are named by partition index, so a
retry writes the same bytes under the same name. The output must be a
path every executor sees. Tasks read Rows, not ``mapInArrow`` batches:
after an Arrow sink job the JVM kept the pages of the sorts feeding it
live (~400 MB on the Priam CQL export, +40% peak RSS).
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark import TaskContext
from pyspark.sql import DataFrame


class Written(list):
    """The committed files' paths in name order; ``rows`` counts the rows
    they hold (the reference's ``rows_written`` counter)."""

    rows = 0


def write_partitions(df: DataFrame, output_dir: str, encode, *, keep_empty: bool = False) -> Written:
    """Commit ``encode(partition, rows, directory) -> [(file name, rows)]``
    over every non-empty partition of ``df`` into ``output_dir``; ``rows``
    iterates the partition's pyspark Rows. With ``keep_empty``, an export
    without rows commits what ``encode`` writes for an empty partition 0."""
    output_dir = os.path.abspath(output_dir)
    temporary = os.path.join(output_dir, "_temporary")
    created = not os.path.exists(output_dir)

    def task(rows):
        ctx = TaskContext.get()
        first = next(rows, None)
        if first is None:
            return
        directory = os.path.join(temporary, f"{ctx.partitionId()}-{ctx.taskAttemptId()}")
        # mkdir, not makedirs: an attempt still running after its job
        # failed must not recreate the _temporary the driver removed
        os.mkdir(directory)
        for name, n in encode(ctx.partitionId(), itertools.chain([first], rows), directory):
            yield directory, name, n

    written = Written()
    try:
        # a driver that died mid-write left attempt ids this run reuses
        shutil.rmtree(temporary, ignore_errors=True)
        os.makedirs(temporary)
        files = df.rdd.mapPartitions(task).collect()
        if not files and keep_empty:
            files = [(temporary, n, r) for n, r in encode(0, iter(()), temporary)]
        for name in os.listdir(output_dir):
            if os.path.isfile(os.path.join(output_dir, name)):
                os.remove(os.path.join(output_dir, name))
        for directory, name, rows in sorted(files, key=lambda f: f[1]):
            written.append(os.path.join(output_dir, name))
            os.replace(os.path.join(directory, name), written[-1])
            written.rows += rows
        shutil.rmtree(temporary)
        open(os.path.join(output_dir, "_SUCCESS"), "wb").close()
    except BaseException:
        shutil.rmtree(output_dir if created else temporary, ignore_errors=True)
        for path in written:
            if os.path.exists(path):
                os.remove(path)
        raise
    return written
