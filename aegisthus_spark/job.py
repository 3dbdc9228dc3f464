"""The compaction snapshot job — CLI parity with the reference
(com.netflix.Aegisthus: -input/-inputDir/-output plus the aegisthus.*
feature options, Aegisthus.java:132-177,262-336).

    python -m aegisthus_spark.job --input-dir /sstables --output /snapshot \\
        [--max-corrupt-files-to-skip N] [--maxcolsize BYTES] \\
        [--key-type T --column-type T --column-value-type T]
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Observation

from .avro_out import avro_schema, write_avro
from .compact import cleanse, compact
from .cql import CqlSchema, cql_rows
from .output import to_aeg_json
from .sources import read_sstable_cells


def compact_snapshot(
    spark: SparkSession,
    inputs: list[str],
    *,
    max_row_size: int | None = None,
    skip_corrupt: bool = False,
    column_type: str = "BytesType",
    sort_columns_by_name: bool = False,
    legacy_column_name_formatting: bool = False,
    trace_source: bool = False,
    blocksize: int | None = None,
    corrupt_check: list | None = None,
    stage_dir: str | None = None,
) -> DataFrame:
    """inputs -> compacted rows DataFrame (sorted within partitions by key,
    mirroring the reference's per-reducer output order, SURVEY O5).

    ``trace_source`` groups by (key, source file) instead of key — rows from
    different files are NOT combined, for debugging (CONF_TRACE_DATA_FROM_SOURCE).
    ``sort_columns_by_name`` re-sorts output columns by stringified name (O4).
    ``blocksize`` overrides the target split size (CONF_BLOCKSIZE).
    ``stage_dir`` routes decode through the parquet-staging path (decode
    once in the workers, all downstream work on a native columnar scan).
    """
    src_kw = {"target_bytes": blocksize} if blocksize else {}
    cells = read_sstable_cells(
        spark, inputs, skip_corrupt=skip_corrupt, stage_dir=stage_dir, **src_kw
    )
    if skip_corrupt and corrupt_check is not None:
        # P6 threshold: count corrupt-file sentinels ('!') during the same
        # pass; the caller verifies the count after its write action
        # (Aegisthus.java:246-257 does the same check post-job)
        # plain count of sentinels: the reference's error_skipped_input
        # counter is also per failed split, not per distinct file
        corrupt_obs = Observation()
        cells = cells.observe(
            corrupt_obs,
            F.count(F.when(F.col("kind") == "!", F.lit(1))).alias("n"),
        ).filter(F.col("kind") != "!")
        corrupt_check.append(corrupt_obs)
    name_sort_key = None
    if column_type == "auto":
        # derive the comparator from the input files themselves: 3.x+
        # SSTables carry a self-describing serialization header (clustering
        # types), so the typed name order needs no user DDL. 2.x files have
        # no type info on disk — they keep the raw-bytes default.
        from .sources.sstable_source import discover_data_files
        from .sstable.descriptor import check_modern_version, version_of
        from .sstable.modern import (
            header_for_data_file,
            is_complex,
            name_sort_key_for_header,
        )

        modern = [
            f for f in discover_data_files(inputs) if version_of(f) >= "ma"
        ]
        for f in modern:
            # reject unsupported versions BEFORE parsing their
            # Statistics.db with the wrong layout — the planner would
            # catch it later, but a garbled header parse must not win
            check_modern_version(version_of(f))
        if modern:
            # ONE comparator governs the whole compaction: parse every
            # file's header and demand agreement on everything the sort
            # key derives from (clustering types; collection columns,
            # whose cell paths order by their own comparators). Trusting
            # modern[0] alone would silently compact inputs spanning
            # differently-clustered tables under the wrong order. Parsed
            # through a thread pool like the split planner — a snapshot
            # holds thousands of small Statistics.db files, and a serial
            # open+read+CRC loop would dominate job setup on slow stores.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=20) as pool:
                headers = dict(zip(modern, pool.map(header_for_data_file, modern)))
            header = headers[modern[0]]

            def _sort_inputs(h):
                colls = tuple(
                    (bytes(n), t)
                    for n, t in tuple(h.regular_columns) + tuple(h.static_columns)
                    if is_complex(t)
                )
                return (h.clustering_types, tuple(sorted(colls)))

            want = _sort_inputs(header)
            for f, h in headers.items():
                if _sort_inputs(h) != want:
                    raise ValueError(
                        "column_type='auto' needs one clustering schema "
                        "across all modern inputs, but headers disagree: "
                        f"{modern[0]!r} has {want}, {f!r} has "
                        f"{_sort_inputs(h)} — run per-table jobs or pass "
                        "an explicit column_type/name_sort_key"
                    )
            # every marshal class the repo knows (incl. DecimalType /
            # varint at any width, via functions.bignum) has a JVM-side
            # order-preserving encoding; a ValueError here means a custom
            # AbstractType the Python registry wouldn't know either —
            # propagate its pass-a-UDF guidance instead of swallowing it
            name_sort_key = name_sort_key_for_header(header)
    elif column_type not in ("BytesType", "UTF8Type", "AsciiType"):
        from . import types as aegtypes
        from .functions import sortkeys as _sortkeys

        try:
            # JVM-side order-preserving encoding: no BatchEvalPython
            # exchange, the compaction stays in whole-stage codegen
            # (probe now so unsupported specs fall back before planning)
            _sortkeys.comparator_sort_key(F.col("cell_name"), column_type)

            def sort_key(c):
                return _sortkeys.comparator_sort_key(c, column_type)

            name_sort_key = sort_key
        except ValueError:
            # the only reachable fallback: CompositeType specs past the
            # 12-component unroll bound (every simple marshal class,
            # incl. any-width DecimalType/varint, is JVM-side now) —
            # same order as types.Comparator.sort_key
            comp = aegtypes.get(column_type)

            @F.udf("binary")
            def sort_key_udf(b):
                return comp.sort_key(bytes(b)) if b is not None else None

            # callable form: compact() applies it to BOTH cell_name and
            # cell_name_max, so range-tombstone bounds compare in the same
            # encoding as the cell keys (CassSSTableReducer.java:142,148-153)
            name_sort_key = sort_key_udf
    rows = compact(
        cells,
        max_row_size=max_row_size,
        name_sort_key=name_sort_key,
        group_by_source=trace_source,
    )
    if sort_columns_by_name:
        from .output import sort_columns_by_display_name

        rows = sort_columns_by_display_name(
            rows, name_type=column_type, legacy_formatting=legacy_column_name_formatting
        )
    # compact() leaves data hash-partitioned by partition_key; an in-partition
    # sort adds no shuffle and reproduces the reference's output ordering
    return rows.sortWithinPartitions("partition_key")


def write_snapshot_json(
    rows: DataFrame,
    output: str,
    *,
    key_type: str = "BytesType",
    column_type: str = "BytesType",
    column_value_type: str = "BytesType",
    max_col_size: int | None = None,
    trace_source: bool = False,
    legacy_column_name_formatting: bool = False,
) -> int:
    """Write aeg-JSON text files; returns rows written (reference counter
    ``rows_written``, via the Observation API instead of Hadoop counters)."""
    obs = Observation("rows_written")
    lines = to_aeg_json(
        rows.observe(obs, F.count(F.lit(1)).alias("n")),
        key_type=key_type,
        name_type=column_type,
        value_type=column_value_type,
        max_col_size=max_col_size,
        trace_source=trace_source,
        legacy_formatting=legacy_column_name_formatting,
    )
    lines.write.mode("overwrite").text(output)
    return int(obs.get["n"])


def export_cql(
    spark: SparkSession,
    inputs: list[str],
    ddl: str | CqlSchema,
    output: str,
    *,
    skip_corrupt: bool = False,
) -> tuple[str, int]:
    """SSTableExport analog (org/coursera/SSTableExport.java:142-190): CQL
    rows from SSTables to Avro — run on *merged* cells, so multi-generation
    inputs are fine (the reference's map-only job requires one compacted
    generation).

    The rows go to Avro object container files through the pure-Python OCF
    sink (:mod:`.avro_out` — real Avro, readable by any implementation),
    committed atomically. A schema Avro cannot express (such as a map
    whose keys are not strings) is written as parquet instead. A failure
    while writing raises and leaves no file of this write behind. Returns
    the format used, 'avro-ocf' or 'parquet', and the rows written."""
    wide = cql_rows(cleanse(compact_snapshot(spark, inputs, skip_corrupt=skip_corrupt)), ddl)
    try:
        avro_schema(wide.schema)
    except ValueError:
        obs = Observation("cql_rows_written")
        wide.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(output)
        return "parquet", int(obs.get["n"])
    return "avro-ocf", write_avro(wide, output).rows


def main(argv: list[str] | None = None):
    """CLI with the reference's full option surface (Aegisthus.Feature):
    -input/-inputDir/-output/-produceSSTable/-sstable_output_version plus the
    aegisthus.* configs as flags. ``--combine-splits`` is accepted for
    compatibility; small-file packing is always on in the Spark source."""
    ap = argparse.ArgumentParser(description="Aegisthus compaction snapshot on Spark")
    ap.add_argument("--input", action="append", default=[], help="SSTable file (repeatable)")
    ap.add_argument("--input-dir", action="append", default=[], help="directory to walk (repeatable)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--produce-sstable", action="store_true",
                    help="write SSTable Data.db output instead of aeg-JSON")
    ap.add_argument("--sstable-output-version", default="jb")
    ap.add_argument("--dataset", default="keyspace-dataset",
                    help="output sstable filename prefix (aegisthus.dataset)")
    ap.add_argument("--combine-splits", action="store_true",
                    help="accepted for parity; Spark source always bin-packs small files")
    ap.add_argument("--blocksize", type=int, default=None,
                    help="target split size in bytes (aegisthus.blocksize)")
    ap.add_argument("--max-corrupt-files-to-skip", type=int, default=0)
    ap.add_argument("--maxcolsize", type=int, default=None)
    ap.add_argument("--key-type", default="BytesType")
    ap.add_argument("--column-type", default="BytesType")
    ap.add_argument("--column-value-type", default="BytesType")
    ap.add_argument("--sort-columns-by-name", action="store_true")
    ap.add_argument("--legacy-column-name-formatting", action="store_true")
    ap.add_argument("--trace-source", action="store_true",
                    help="keep rows per source file and output the filename (aegisthus.trace_source)")
    ap.add_argument("--cql-schema", default=None,
                    help="CREATE TABLE DDL: export typed CQL rows (aegisthus.cql_schema)")
    ap.add_argument("--stage-dir", default=None,
                    help="decode-to-parquet staging directory (workers write "
                         "parquet; downstream runs on a native columnar scan)")
    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark("aegisthus-snapshot")
    corrupt_check: list = []

    def check_corrupt_threshold():
        if corrupt_check:
            n = int(corrupt_check[0].get["n"])
            if n > args.max_corrupt_files_to_skip:
                raise RuntimeError(
                    f"{n} corrupt input files exceed "
                    f"max_corrupt_files_to_skip={args.max_corrupt_files_to_skip}"
                )
            if n:
                print(f"corrupt_files_skipped={n}")

    if args.cql_schema:
        fmt, n = export_cql(
            spark,
            args.input + args.input_dir,
            args.cql_schema,
            args.output,
            skip_corrupt=args.max_corrupt_files_to_skip > 0,
        )
        print(f"cql_rows_written={n} format={fmt}")
        return
    rows = compact_snapshot(
        spark,
        args.input + args.input_dir,
        max_row_size=args.maxcolsize,
        skip_corrupt=args.max_corrupt_files_to_skip > 0,
        column_type=args.column_type,
        sort_columns_by_name=args.sort_columns_by_name,
        legacy_column_name_formatting=args.legacy_column_name_formatting,
        trace_source=args.trace_source,
        blocksize=args.blocksize,
        corrupt_check=corrupt_check,
        stage_dir=args.stage_dir,
    )
    if args.produce_sstable:
        from .sstable import write_sstable

        written = write_sstable(
            rows, args.output, version=args.sstable_output_version, dataset=args.dataset
        )
        check_corrupt_threshold()
        print(f"sstables_written={len(written)} rows_written={written.rows}")
        return
    n = write_snapshot_json(
        rows,
        args.output,
        key_type=args.key_type,
        column_type=args.column_type,
        column_value_type=args.column_value_type,
        max_col_size=args.maxcolsize,
        trace_source=args.trace_source,
        legacy_column_name_formatting=args.legacy_column_name_formatting,
    )
    check_corrupt_threshold()
    print(f"rows_written={n}")


if __name__ == "__main__":
    main()
