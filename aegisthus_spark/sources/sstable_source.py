"""SSTable -> cells DataFrame source.

Scale design (the reference's input pipeline re-thought for Spark):

- **Discovery** on the driver: recursive walk for ``*-Data.db``, hidden-file
  and secondary-index filters (reference: Aegisthus.getDataFiles:113-130,
  DirectoryWalker, Distcp.java:250-255).
- **Partition planning** on the driver: files larger than the target split
  size are cut at row boundaries read from the ``-Index.db`` sidecar
  (reference: AegisthusInputFormat.getSSTableSplitsForFile:119-187);
  compressed files stay whole-file (reference :131-135); small files are
  bin-packed into combined partitions (reference:
  AegisthusCombinedInputFormat:56-102). Planning is threaded, mirroring the
  reference's 20-thread split pool (:206).
- **Decode** in executors: each planned partition is a row of a small
  "tasks" DataFrame; ``mapInArrow`` streams the Arrow batches of
  ``sstable.decoder.scan_split`` (the C scanner, or its pure-Python twin on
  hosts without a compiler), one split at a time — no row-at-a-time
  pickling, pipelined with downstream JVM operators. At 100 TB this is
  embarrassingly parallel: ~1 partition per split, no shuffle until
  compact()'s single Exchange.
"""

from __future__ import annotations

import errno
import os
import re
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..sstable.arrow_decode import CELLS
from ..sstable.decoder import scan_split

#: the canonical cells schema, as Spark sees the decoders' Arrow batches
CELLS_SCHEMA = from_arrow_schema(CELLS)

#: one row per planned split; the columns are scan_split's arguments
_TASKS_SCHEMA = (
    "path string, start long, end long, version string, generation int, "
    "compression_path string, skip_corrupt boolean"
)

DEFAULT_TARGET_SPLIT = 128 * 1024 * 1024  # Spark maxPartitionBytes analog
COMBINE_TARGET = 100 * 1024 * 1024  # reference combined-split default
MAX_COMBINED_FILES = 200  # reference aegisthus.max_combined_splits


#: Priam batch directory marker (DirectoryWalker.java:156)
_BATCH_RE = re.compile(r"batch_?id=[0-9]+/?$")


def _accept_data_file(fn: str) -> bool:
    if not fn.endswith("-Data.db") or fn.startswith((".", "_")):
        return False
    return ".idx" not in fn  # secondary index sstable


def discover_data_files(
    paths: list[str] | str,
    *,
    honor_manifest: bool = True,
    batched: bool = True,
) -> list[str]:
    """Recursive discovery of *-Data.db inputs.

    Filters hidden files/dirs (`_`/`.` prefixes) and secondary-index
    sstables (`<cf>.<index>` filename arity), like the reference. Two
    Priam-layout behaviors from the reference's DirectoryWalker
    (DirectoryWalker.java:310-341):

    - ``honor_manifest``: a directory holding ``_manifest/_manifest`` is
      enumerated from that manifest (one file path per line) INSTEAD of
      being walked — the manifest is the authoritative file list for the
      backup partition.
    - ``batched``: sibling ``batch_id=N`` / ``batchid=N`` directories are
      upload retries; only the greatest (the reference compares path
      strings, DirectoryWalker.filterBatch:167-177 — lexicographic, kept
      identical here) is current, the rest are skipped.
    """
    if isinstance(paths, str):
        paths = [paths]
    out: list[str] = []
    for p in paths:
        if os.path.isfile(p):
            if p.endswith("-Data.db"):
                out.append(p)
            continue
        if not os.path.isdir(p):
            # a mistyped root must fail the job, not compact to an empty
            # snapshot that looks like a successful run
            raise FileNotFoundError(errno.ENOENT, "SSTable input does not exist", p)
        _walk_dir(p, out, honor_manifest, batched)
    return sorted(out)


def _walk_dir(d: str, out: list[str], honor_manifest: bool, batched: bool) -> None:
    if honor_manifest:
        manifest = os.path.join(d, "_manifest", "_manifest")
        if os.path.isfile(manifest):
            with open(manifest) as fh:
                for line in fh:
                    f = line.strip()
                    if not f:
                        continue
                    # manifest lines may be absolute or relative to the
                    # directory that owns the manifest
                    if not os.path.isabs(f):
                        f = os.path.join(d, f)
                    if not _accept_data_file(os.path.basename(f)):
                        continue
                    if not os.path.isfile(f):
                        # the manifest is the backup's file list: a listed
                        # file that is gone must not compact silently
                        raise FileNotFoundError(
                            errno.ENOENT, f"listed in {manifest} but missing", f
                        )
                    if os.path.getsize(f) > 0:
                        out.append(f)
            return
    entries = sorted(os.listdir(d))
    subdirs = [
        e
        for e in entries
        if not e.startswith((".", "_")) and os.path.isdir(os.path.join(d, e))
    ]
    if batched:
        batch_dirs = [e for e in subdirs if _BATCH_RE.search(e)]
        if batch_dirs:
            # newest retry wins NUMERICALLY: lexicographic max would pick
            # batch_id=9 over batch_id=10
            keep = max(batch_dirs, key=lambda e: int(re.search(r"[0-9]+", _BATCH_RE.search(e).group()).group()))
            subdirs = [
                e for e in subdirs if not _BATCH_RE.search(e) or e == keep
            ]
    for e in subdirs:
        _walk_dir(os.path.join(d, e), out, honor_manifest, batched)
    for e in entries:
        full = os.path.join(d, e)
        if os.path.isfile(full) and _accept_data_file(e) and os.path.getsize(full) > 0:
            out.append(full)


def _plan_one(path: str, target_bytes: int) -> list[tuple]:
    """Split plan for one file: (path, start, end, version, gen, comp)."""
    from ..sstable.compression import find_compression_sidecar
    from ..sstable.descriptor import parse_filename, version_of
    from ..sstable.index import plan_splits

    size = os.path.getsize(path)
    version = version_of(path)
    if version >= "ma":
        from ..sstable.descriptor import check_modern_version

        check_modern_version(version)
    try:
        gen = parse_filename(path).generation
    except ValueError:
        gen = 0
    comp = find_compression_sidecar(path)
    if comp is not None:
        # compressed: split on UNCOMPRESSED offsets — the chunk map gives
        # random access at chunk granularity (CompressionInfo.decompress),
        # and the Index.db offsets are already uncompressed positions, so
        # splits cut at row boundaries exactly like plain files. The
        # reference cannot do this (whole-file scheduling,
        # AegisthusInputFormat.java:131-135, limitation noted in its
        # README.md:40-41).
        from ..sstable.compression import CompressionInfo

        info = CompressionInfo.read_path(comp)
        if info.data_length > int(target_bytes * 1.2):
            offsets = _boundary_offsets(path, version, comp, target_bytes)
            if offsets is not None:
                return [
                    (path, s, e, version, gen, comp)
                    for s, e in plan_splits(info.data_length, offsets, target_bytes)
                ]
        return [(path, 0, info.data_length, version, gen, comp)]
    if size > int(target_bytes * 1.2):
        offsets = _boundary_offsets(path, version, None, target_bytes)
        if offsets is not None:
            return [
                (path, s, e, version, gen, None)
                for s, e in plan_splits(size, offsets, target_bytes)
            ]
    return [(path, 0, size, version, gen, None)]


def _bti_granularity(target_bytes: int) -> int:
    """Offset-thinning gap for BTI boundary walks: ~8 boundaries per
    target split keeps plan_splits' cut precision within ~12% of the goal
    while bounding the cached list to size/granularity entries."""
    return max(1, target_bytes // 8)


def _boundary_offsets(
    path: str, version: str, comp: str | None, target_bytes: int
) -> list[int] | None:
    """Partition-start offsets for split planning, or None (-> whole file).

    Preference order: the Index.db sidecar (big format — free, already
    offset-typed, read per-plan exactly like the reference's
    IndexDatabaseScanner.java:58-85) else, for BTI tables whose trie
    sidecars we deliberately do not parse (no authoritative offline layout
    source; see descriptor.py), CACHED boundaries from a prior walk
    (sstable/offsets_cache.py — the walk is O(rows of the file), so it
    runs once per file ever, not once per plan) else a sequential
    skip-walk of the Data.db itself (modern.partition_offsets_from_data)
    whose thinned result is persisted for every later plan."""
    from ..sstable.index import row_offsets

    idx = path.replace("-Data.db", "-Index.db")
    if os.path.exists(idx):
        return row_offsets(idx, version)
    spec = _bti_probe_spec(path, version, comp)
    if spec is None:
        return None
    from ..sstable import offsets_cache

    granularity = _bti_granularity(target_bytes)
    cached = offsets_cache.load(path, granularity=granularity)
    if cached is not None:
        return cached
    offsets = _walk_bti_offsets(spec, granularity)
    offsets_cache.store(path, offsets, granularity=granularity)
    return offsets


def _bti_probe_spec(
    path: str, version: str, comp: str | None
) -> tuple[str, str, str | None] | None:
    """(path, effective version, compression sidecar) if ``path`` is a BTI
    table whose boundaries must come from a Data.db walk, else None."""
    from ..sstable.descriptor import parse_filename

    try:
        if parse_filename(path).fmt != "bti":
            return None
    except ValueError:
        return None
    return (path, version, comp)


def _walk_bti_offsets(spec: tuple[str, str, str | None], granularity: int) -> list[int]:
    from ..sstable.modern import partition_offsets_from_data

    path, version, comp = spec
    return partition_offsets_from_data(
        path, version=version, compression_sidecar=comp, min_gap=granularity
    )


def prime_bti_offset_cache(
    spark: SparkSession,
    files: list[str],
    *,
    target_bytes: int = DEFAULT_TARGET_SPLIT,
) -> int:
    """Distribute first-touch BTI boundary walks to EXECUTORS.

    The per-file walk is inherently sequential, but across files it is
    embarrassingly parallel — one Spark task per uncached big BTI file
    reads that file's headers and returns the thinned boundary list
    (~size/granularity longs, small) to the driver, which persists it in
    the offsets cache. At 100 TB this turns hours of serial driver I/O
    into one short cluster pass; subsequent plans (this driver or, with a
    shared cache dir, any driver) never touch Data.db for planning again.
    Returns the number of files probed."""
    from ..sstable import offsets_cache
    from ..sstable.compression import CompressionInfo, find_compression_sidecar
    from ..sstable.descriptor import version_of

    granularity = _bti_granularity(target_bytes)

    def uncached_spec(path):
        """Cache check FIRST (warm files must cost one sidecar read, not a
        CompressionInfo chunk-map parse — the serial-driver-I/O shape this
        function exists to eliminate); size-gate only the cold ones."""
        spec = _bti_probe_spec(path, version_of(path), find_compression_sidecar(path))
        if spec is None:
            return None
        if offsets_cache.load(path, granularity=granularity) is not None:
            return None
        _, _, comp = spec
        length = (
            CompressionInfo.read_path(comp).data_length
            if comp is not None
            else os.path.getsize(path)
        )
        if length <= int(target_bytes * 1.2):
            return None  # planned whole-file; no walk will happen
        return spec

    # threaded like plan_partitions' split pool: the per-file work is
    # sidecar I/O, not CPU
    with ThreadPoolExecutor(max_workers=20) as pool:
        todo = [s for s in pool.map(uncached_spec, files) if s is not None]
    if not todo:
        return 0
    walked = (
        spark.sparkContext.parallelize(todo, len(todo))
        .map(lambda spec: (spec[0], _walk_bti_offsets(spec, granularity)))
        .collect()
    )
    for path, offsets in walked:
        offsets_cache.store(path, offsets, granularity=granularity)
    return len(walked)


def plan_partitions(
    files: list[str],
    *,
    target_bytes: int = DEFAULT_TARGET_SPLIT,
    combine_target: int = COMBINE_TARGET,
    max_combined_files: int = MAX_COMBINED_FILES,
    threads: int = 20,
) -> list[list[tuple]]:
    """Plan executor partitions: big files -> index-aligned splits (one
    partition each), small files -> bin-packed groups."""
    with ThreadPoolExecutor(max_workers=threads) as pool:
        per_file = list(pool.map(lambda f: _plan_one(f, target_bytes), files))

    partitions: list[list[tuple]] = []
    small: list[tuple] = []
    small_bytes = 0
    for splits in per_file:
        if len(splits) > 1:
            # fragments of a deliberately-split big file each get their own
            # partition — re-packing them would serialize the intra-file
            # parallelism the split exists to create
            partitions.extend([sp] for sp in splits)
            continue
        for sp in splits:
            sz = sp[2] - sp[1]
            if sz >= combine_target:
                partitions.append([sp])
            else:
                small.append(sp)
                small_bytes += sz
                if small_bytes >= combine_target or len(small) >= max_combined_files:
                    partitions.append(small)
                    small, small_bytes = [], 0
    if small:
        partitions.append(small)
    return partitions


def _decode_tasks(batches) -> "Iterator":
    """mapInArrow worker: decode the assigned splits into Arrow
    RecordBatches, one split at a time (a task row holds scan_split's
    arguments)."""
    for arrow_batch in batches:
        for task in arrow_batch.to_pylist():
            yield from scan_split(**task)


def read_sstable_cells(
    spark: SparkSession,
    paths: list[str] | str,
    *,
    target_bytes: int = DEFAULT_TARGET_SPLIT,
    combine: bool = True,
    skip_corrupt: bool = False,
    stage_dir: str | None = None,
) -> DataFrame:
    """Read SSTable file(s)/dir(s) into the canonical cells DataFrame.

    ``stage_dir``: decode-to-parquet staging. Each task writes its decoded
    Arrow batches straight to a parquet file (pyarrow, C++-side) and the
    returned DataFrame is a NATIVE parquet scan of the staged files. This
    skips the Python->JVM Arrow socket hop entirely — the ceiling on the
    direct path — and every downstream query gets whole-stage codegen,
    column pruning, and predicate pushdown against parquet. The cost is one
    extra write+read through storage, so it pays when the snapshot is
    queried more than once (the normal analytics pattern) or when the
    direct path's transfer bound dominates; on a cluster, point it at DFS.
    """
    files = discover_data_files(paths)
    if not files:
        # an input holding no data files must fail the job, not compact
        # to an empty snapshot that looks like a successful run
        raise FileNotFoundError(
            errno.ENOENT, "no SSTable Data.db file under the input",
            ", ".join([paths] if isinstance(paths, str) else paths),
        )
    bti = [f for f in files if "-bti-" in os.path.basename(f)]
    if bti:
        # first touch of a big BTI file pays an O(rows) boundary walk;
        # run those walks as one executor-parallel job (and persist the
        # results) instead of serially on the driver inside plan_partitions
        prime_bti_offset_cache(spark, bti, target_bytes=target_bytes)
    partitions = plan_partitions(
        files,
        target_bytes=target_bytes,
        combine_target=COMBINE_TARGET if combine else 0,
    )
    # exactly one Spark partition per planned partition, via parallelize
    # slices — NOT a repartition('pid') shuffle, which AQE would coalesce
    # into a single partition (the task table is bytes-small even when each
    # task decodes 100+ MB) and thereby serialize all decode work
    groups = [
        [(path, start, end, version, gen, comp, skip_corrupt)
         for (path, start, end, version, gen, comp) in part]
        for part in partitions
    ]
    rdd = spark.sparkContext.parallelize(groups, len(groups)).flatMap(lambda g: g)
    tasks_df = spark.createDataFrame(rdd, _TASKS_SCHEMA)
    if stage_dir is None:
        return tasks_df.mapInArrow(_decode_tasks, CELLS_SCHEMA)

    os.makedirs(stage_dir, exist_ok=True)
    staged = tasks_df.mapInArrow(
        _stage_tasks_factory(stage_dir), "path string, n_cells long"
    )
    written = [r.path for r in staged.collect() if r.path]
    if not written:
        return spark.createDataFrame([], CELLS_SCHEMA)
    return spark.read.schema(CELLS_SCHEMA).parquet(*written)


def _stage_tasks_factory(stage_dir: str):
    """mapInArrow worker: decode splits and write parquet files directly.

    Only (path, cell-count) rows cross the Python->JVM boundary; the data
    itself goes Arrow->parquet in C++ (pyarrow) at memory-bandwidth speed.
    One file per Spark partition; snappy (cheap to decode JVM-side)."""

    def stage(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        out_path = None
        writer = None
        n = 0
        try:
            for arrow_batch in batches:
                for task in arrow_batch.to_pylist():
                    for cell_batch in scan_split(**task):
                        if writer is None:
                            import uuid

                            # collision-free name: pid + random tag (a name
                            # clash would silently overwrite another task's
                            # staged file)
                            out_path = os.path.join(
                                stage_dir,
                                f"stage-{os.getpid()}-{uuid.uuid4().hex[:12]}.parquet",
                            )
                            writer = pq.ParquetWriter(
                                out_path, CELLS, compression="snappy"
                            )
                        writer.write_batch(cell_batch)
                        n += cell_batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if out_path is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array([out_path]), pa.array([n], pa.int64())],
                names=["path", "n_cells"],
            )

    return stage
