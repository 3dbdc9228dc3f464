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

import errno
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
        _complete_observations(df)
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
        _remove(output_dir if created else temporary)
        for path in written:
            if os.path.exists(path):
                os.remove(path)
        raise
    return written


def _remove(path: str) -> None:
    """Remove ``path`` while tasks of the failed job may still add files
    under it: a directory that gains an entry after rmtree listed it fails
    its rmdir, so rmtree runs again until the path is gone. Nothing can
    recreate the tree, since attempt directories are made with mkdir under
    ``_temporary``. Any other error ends the removal, so the job's own
    failure is what propagates."""
    while os.path.lexists(path):
        try:
            shutil.rmtree(path)
        except OSError as e:
            if e.errno not in (errno.ENOTEMPTY, errno.ENOENT):
                return


def _complete_observations(df: DataFrame) -> None:
    """Hand the ``DataFrame.observe`` metrics of the plan that just ran to
    their observations. A job run through ``rdd`` posts no SQL execution
    end, which is what completes them otherwise: ``Observation.get`` on a
    sink's input (the corrupt-input count) would wait forever. The call is
    the one Spark's own listener makes (private in Scala, hence the
    mangled name)."""
    manager = df.sparkSession._jsparkSession.observationManager()
    complete = getattr(manager, "org$apache$spark$sql$classic$ObservationManager$$tryComplete")
    complete(df._jdf.queryExecution())
