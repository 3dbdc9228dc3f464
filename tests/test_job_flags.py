"""Feature-flag parity tests: sort_columns_by_name (O4), legacy formatting,
trace_source, produce-sstable CLI, and the blocksize option."""

import glob
import os
import struct

import pytest
from pyspark.sql import functions as F

from tests.conftest import LEGACY, REFERENCE, needs_reference

MA = os.path.join(os.path.dirname(LEGACY), "ma")
#: the CQL table of tests/fixtures/ma
MA_DDL = (
    "CREATE TABLE t (key text, ck0 text, owner text static, name text, score bigint, "
    "tags list<text>{extra}, PRIMARY KEY (key, ck0))"
)


def _typed_cells(spark):
    """Synthetic cells with LongType column names: comparator order (numeric)
    differs from stringified order ('10' < '2')."""
    from tests.conftest import CELLS_SCHEMA

    def cell(name_int, ts):
        return ("f", 1, b"k", -(1 << 63), "c", struct.pack(">q", name_int),
                None, b"v", ts, None, None, None)

    rows = [cell(2, 1), cell(10, 2), cell(9, 3)]
    return spark.createDataFrame(rows, CELLS_SCHEMA)


def test_sort_columns_by_name_typed(spark):
    from aegisthus_spark import types as aegtypes
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import sort_columns_by_display_name

    comp = aegtypes.get("LongType")

    @F.udf("binary")
    def sk(b):
        return comp.sort_key(bytes(b)) if b is not None else None

    rows = compact(_typed_cells(spark), name_sort_key=sk(F.col("cell_name")))
    default_order = [
        struct.unpack(">q", bytes(c["name"]))[0]
        for c in rows.collect()[0]["columns"]
    ]
    assert default_order == [2, 9, 10]  # comparator (numeric) order

    by_name = sort_columns_by_display_name(rows, name_type="LongType")
    got = [
        struct.unpack(">q", bytes(c["name"]))[0]
        for c in by_name.collect()[0]["columns"]
    ]
    assert got == [10, 2, 9]  # lexicographic over rendered '10','2','9'


def test_sort_columns_by_name_bytes_is_stable(spark):
    """For BytesType, hex stringification is order-preserving — by-name order
    equals comparator order, matching the reference."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import sort_columns_by_display_name
    from tests.conftest import CELLS_SCHEMA

    rows_in = [
        ("f", 1, b"k", -(1 << 63), "c", bytes([n]), None, b"v", n, None, None, None)
        for n in (5, 250, 1)
    ]
    cells = spark.createDataFrame(rows_in, CELLS_SCHEMA)
    a = compact(cells).collect()[0]["columns"]
    b = sort_columns_by_display_name(compact(cells)).collect()[0]["columns"]
    assert [bytes(c["name"]) for c in a] == [bytes(c["name"]) for c in b]


def test_trace_source_keeps_rows_separate(spark):
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import to_aeg_json
    from tests.conftest import CELLS_SCHEMA

    rows_in = [
        ("gen1", 1, b"k", -(1 << 63), "c", b"n", None, b"v1", 1, None, None, None),
        ("gen2", 2, b"k", -(1 << 63), "c", b"n", None, b"v2", 2, None, None, None),
    ]
    cells = spark.createDataFrame(rows_in, CELLS_SCHEMA)
    merged = compact(cells)
    assert merged.count() == 1  # normally: one merged row

    traced = compact(cells, group_by_source=True)
    assert traced.count() == 2  # trace mode: one row per source file
    lines = sorted(
        r.value
        for r in to_aeg_json(traced, trace_source=True).collect()
    )
    assert lines[0].split("\t")[1] == "gen1"  # key\tsource\t{json}
    assert lines[1].split("\t")[1] == "gen2"
    assert lines[0].count("\t") == 2


def test_output_side_max_col_size_marker(spark):
    """P4: the JVM fast path emits the byte-identical error marker row
    (JsonOutputFormat.java:127-146) when a row exceeds maxColSize."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import render_row_json, to_aeg_json
    from tests.conftest import CELLS_SCHEMA

    rows_in = [("f", 1, b"k", -(1 << 63), "c", b"n" * 10, None, b"v" * 600,
                1, None, None, None)]
    cells = spark.createDataFrame(rows_in, CELLS_SCHEMA)
    line = to_aeg_json(compact(cells), max_col_size=500).collect()[0].value
    assert '["error","row too large: 625 bytes - limit 500 bytes",0]' in line
    py = render_row_json(
        b"k", -(1 << 63),
        [{"name": b"n" * 10, "value": b"v" * 600, "ts": 1, "kind": "c",
          "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}],
        max_col_size=500,
    )
    assert line == py  # JVM fast path == Python twin, byte-for-byte


def _run_job(spark, monkeypatch, capsys, argv) -> str:
    import aegisthus_spark.session as sess
    from aegisthus_spark import job as jobmod

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    capsys.readouterr()
    jobmod.main(argv)
    return capsys.readouterr().out.strip()


def test_cli_produce_sstable(spark, tmp_path, monkeypatch, capsys):
    """--produce-sstable over the two overlapping jb generations writes
    every compacted key once and reports files and rows written."""
    from aegisthus_spark.sstable import scan_file

    out = str(tmp_path / "sst")
    report = _run_job(spark, monkeypatch, capsys, [
        "--input-dir", f"{LEGACY}/jb",
        "--output", out,
        "--produce-sstable",
        "--sstable-output-version", "jb",
        "--dataset", "testks-testcf",
        "--blocksize", "1024",
    ])
    written = sorted(glob.glob(f"{out}/testks-testcf-jb-*-Data.db"))
    assert written, "CLI did not write sstable output"
    assert report == f"sstables_written={len(written)} rows_written=60"
    keys = [bytes(c["partition_key"]) for f in written for c in scan_file(f)]
    assert len(set(keys)) == 60  # jb-2 holds keys 0-39, jb-3 keys 20-59


def test_cli_produce_sstable_again_replaces_the_output(spark, tmp_path, monkeypatch, capsys):
    """A second run into the same output, with fewer non-empty partitions,
    leaves no file of the first run behind."""
    out = tmp_path / "sst"
    argv = ["--input-dir", f"{LEGACY}/jb", "--output", str(out), "--produce-sstable"]
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        first = _run_job(spark, monkeypatch, capsys, argv)
    finally:
        spark.conf.set(key, "true")
    n_first = len(list(out.glob("*-Data.db")))
    assert n_first > 1 and first == f"sstables_written={n_first} rows_written=60"
    second = _run_job(spark, monkeypatch, capsys, argv)
    assert second == "sstables_written=1 rows_written=60"
    assert sorted(p.name for p in out.iterdir()) == [
        "_SUCCESS", "keyspace-dataset-jb-0000000000-Data.db"]


@pytest.mark.parametrize("extra,fmt", [("", "avro-ocf"), (", m map<int, text>", "parquet")],
                         ids=["avro", "int_map_keys"])
def test_cli_cql_export_reports_rows_and_format(spark, tmp_path, monkeypatch, capsys, extra, fmt):
    """The sink follows the schema: Avro unless a map has non-string keys,
    which Avro cannot express; the job reports the rows and the format."""
    out = tmp_path / "export"
    report = _run_job(spark, monkeypatch, capsys, [
        "--input-dir", f"{MA}/gen1", "--input-dir", f"{MA}/gen2",
        "--output", str(out), "--cql-schema", MA_DDL.format(extra=extra),
    ])
    assert report == f"cql_rows_written=36 format={fmt}"
    suffix = ".avro" if fmt == "avro-ocf" else ".parquet"
    assert list(out.glob(f"*{suffix}")) and (out / "_SUCCESS").exists()
    if fmt == "parquet":
        assert spark.read.parquet(str(out)).count() == 36


def test_cli_json_with_sort_flag(spark, tmp_path, monkeypatch, jb_input_dir):
    import aegisthus_spark.session as sess
    from aegisthus_spark import job as jobmod
    from tests.conftest import JB_KEYS

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    out = str(tmp_path / "snap")
    jobmod.main([
        "--input-dir", jb_input_dir,
        "--output", out,
        "--sort-columns-by-name",
    ])
    got = sorted(
        ln.split("\t")[0]
        for p in glob.glob(f"{out}/part-*")
        for ln in open(p).read().splitlines()
    )
    want = sorted(struct.pack(">q", i).hex() for i in range(JB_KEYS))
    assert got == want


def test_max_col_size_counts_expiring_counter_framing(spark):
    """Size model: expiring ('e') and counter ('x') atoms add 8 framing bytes
    (serializedSizeForSSTable) — a row that fits with regular cells can
    exceed the limit when the same cells are expiring."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import to_aeg_json
    from tests.conftest import CELLS_SCHEMA

    # name(2) + value(3) + 15 = 20 per regular cell; 28 if expiring
    def row(kind, name):
        ttl = 60 if kind == "e" else None
        ldt = 99 if kind == "e" else None
        return ("f", 1, b"k", -(1 << 63), kind, name, None, b"vvv", 1, ttl, ldt, None)

    reg = spark.createDataFrame([row("c", b"n1"), row("c", b"n2")], CELLS_SCHEMA)
    exp = spark.createDataFrame([row("e", b"n1"), row("e", b"n2")], CELLS_SCHEMA)
    line_reg = to_aeg_json(compact(reg), max_col_size=41).collect()[0].value
    line_exp = to_aeg_json(compact(exp), max_col_size=41).collect()[0].value
    assert "error" not in line_reg  # 40 <= 41
    assert "row too large: 56 bytes" in line_exp  # 2*28 > 41
    # merge-side truncation guard uses the same model: limit 41 keeps only
    # the first expiring cell (28), not both (56)
    trunc = compact(exp, max_row_size=41).collect()[0]
    assert trunc.row_too_big and len(trunc.columns) == 1


def test_render_row_json_non_ascii_utf8():
    """Jackson emits raw UTF-8, not \\uXXXX escapes — byte parity for
    non-ASCII UTF8Type names/values."""
    from aegisthus_spark import types as aegtypes
    from aegisthus_spark.output import parse_aeg_json_line, render_row_json

    utf8 = aegtypes.get("UTF8Type")
    line = render_row_json(
        "clé".encode(), -(1 << 63),
        [{"name": "naïve".encode(), "value": "héllo→".encode(), "ts": 5,
          "kind": "c", "ttl": None, "local_deletion_time": None,
          "ts_of_last_delete": None}],
        key_conv=utf8, name_conv=utf8, value_conv=utf8,
    )
    assert "\\u" not in line and "naïve" in line and "héllo→" in line
    parsed = parse_aeg_json_line(line)
    assert parsed["columns"][0]["name"] == "naïve"


def test_parse_aeg_json_line_tabbed_key_roundtrip():
    """r12 ADVICE: writer and parser must agree that the LAST tab is the
    key/body boundary — a text-comparator key containing a literal tab
    must round-trip through the repo's own parser."""
    from aegisthus_spark import types as aegtypes
    from aegisthus_spark.output import parse_aeg_json_line, render_row_json

    utf8 = aegtypes.get("UTF8Type")
    line = render_row_json(
        "tab\there".encode(), -(1 << 63),
        [{"name": b"n", "value": b"v", "ts": 5, "kind": "c", "ttl": None,
          "local_deletion_time": None, "ts_of_last_delete": None}],
        key_conv=utf8, name_conv=utf8, value_conv=utf8,
    )
    parsed = parse_aeg_json_line(line)
    assert parsed["key"] == "tab\there"
    assert parsed["columns"][0]["ts"] == 5
    # trace_source 3-field form: key \t source_path \t {json}
    head, _, body = line.rpartition("\t")
    traced = f"{head}\t/bucket/path/db-1-Data.db\t{body}"
    parsed2 = parse_aeg_json_line(traced)
    assert parsed2["key"] == "tab\there"


@needs_reference
def test_sstable2json_cli(capsys):
    """sstable2json parity (scripts/README.md:1-17): dump the reference's own
    sample tables — the compressed one is a Snappy ib table, so this also
    exercises the Snappy chunk path end-to-end."""
    import json

    from aegisthus_spark.sstable2json import main

    main([f"{REFERENCE}/scripts/data/test-uncompressed-ib-1-Data.db",
          "--key-type", "UTF8Type", "--column-type", "UTF8Type",
          "--column-value-type", "UTF8Type"])
    plain = capsys.readouterr().out.rstrip("\n").split("\n")
    main([f"{REFERENCE}/scripts/data/test-compressed-ib-1-Data.db",
          "-comp", f"{REFERENCE}/scripts/data/test-compressed-ib-1-CompressionInfo.db",
          "--key-type", "UTF8Type", "--column-type", "UTF8Type",
          "--column-value-type", "UTF8Type"])
    comp = capsys.readouterr().out.rstrip("\n").split("\n")
    assert len(plain) == 100 and len(comp) == 100
    # same logical content in both files (write timestamps differ)
    def logical(lines):
        out = {}
        for ln in lines:
            key, _, body = ln.partition("\t")
            row = json.loads(body)[key]
            out[key] = sorted((c[0], c[1]) for c in row["columns"])
        return out
    assert logical(plain) == logical(comp)
    assert logical(plain)["user48"] == [("ts", "48"), ("user_name", "name_48")]


def test_python_render_fallback_custom_comparator(spark):
    """Reference-breadth restore: an OFF-REGISTRY marshal class (the
    reference instantiates any AbstractType subclass by reflection,
    JsonOutputFormat.java:49-60) registered only Python-side via
    types.register_comparator. Default stays the loud raise; the
    python_render_fallback=True opt-in routes through the spec twin."""
    import json

    import pytest

    from aegisthus_spark import types as aegtypes
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import (
        render_row_json,
        sort_columns_by_display_name,
        to_aeg_json,
    )

    # toy custom marshal class: renders the column name bytes REVERSED as
    # uppercase hex -- numeric-ish names sort very differently under it
    demo = aegtypes.Comparator(
        "DemoRevType", None, _render=lambda b: b[::-1].hex().upper()
    )
    aegtypes.register_comparator("org.example.DemoRevType", demo)
    try:
        rows = compact(_typed_cells(spark))

        # default: loud failure naming the opt-in
        with pytest.raises(ValueError, match="python_render_fallback"):
            sort_columns_by_display_name(rows, name_type="DemoRevType")
        with pytest.raises(ValueError, match="python_render_fallback"):
            to_aeg_json(compact(_typed_cells(spark)), name_type="DemoRevType")

        # opt-in sort: ordered by the custom render of the name bytes
        by_name = sort_columns_by_display_name(
            rows, name_type="DemoRevType", python_render_fallback=True
        )
        cols = by_name.collect()[0]["columns"]
        rendered = [demo.render(bytes(c["name"])) for c in cols]
        assert rendered == sorted(rendered)
        assert len(rendered) == 3

        # opt-in JSON: byte parity with the Python spec twin, custom
        # render visible in the parsed line
        line = to_aeg_json(
            compact(_typed_cells(spark)),
            name_type="DemoRevType",
            python_render_fallback=True,
        ).collect()[0].value
        row = compact(_typed_cells(spark)).collect()[0]
        want = render_row_json(
            bytes(row["partition_key"]),
            row["deleted_at"],
            [c.asDict() for c in row["columns"]],
            name_conv=demo,
        )
        assert line == want
        key_str, _, body = line.partition("\t")
        parsed = json.loads(body)[key_str]
        names = [e[0] for e in parsed["columns"]]
        # struct.pack('>q', 2)[::-1].hex().upper() etc.
        assert names == [
            bytes(c["name"])[::-1].hex().upper()
            for c in compact(_typed_cells(spark)).collect()[0]["columns"]
        ]
    finally:
        del aegtypes._SIMPLE["DemoRevType"]


def test_cli_missing_input_dir_fails_loudly(spark, tmp_path, monkeypatch):
    """A mistyped --input-dir must fail the job; before, the walk swallowed
    the error and the job wrote an empty snapshot with rows_written=0."""
    import pytest

    import aegisthus_spark.session as sess
    from aegisthus_spark import job as jobmod

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    out = tmp_path / "snap"
    with pytest.raises(FileNotFoundError, match="nonexistent"):
        jobmod.main(["--input-dir", str(tmp_path / "nonexistent"), "--output", str(out)])
    assert not out.exists()


def test_discover_rejects_missing_root_among_good_ones(tmp_path):
    """One missing root among existing ones still fails: a partial input
    set must not compact silently."""
    import pytest

    from aegisthus_spark.sources.sstable_source import discover_data_files

    good = tmp_path / "good"
    good.mkdir()
    (good / "ks-t-jb-1-Data.db").write_bytes(b"\x00")
    assert discover_data_files([str(good)]) == [str(good / "ks-t-jb-1-Data.db")]
    with pytest.raises(FileNotFoundError):
        discover_data_files([str(good), str(tmp_path / "typo")])


def test_manifest_listing_a_missing_file_fails_loudly(tmp_path):
    """A _manifest line naming a Data.db that is not on disk fails
    discovery, naming the manifest and the missing file; it used to be
    dropped, so the backup compacted without that file. Listed zero-length
    files stay skipped (P5)."""
    import pytest

    from aegisthus_spark.sources.sstable_source import discover_data_files

    d = tmp_path / "cf"
    (d / "_manifest").mkdir(parents=True)
    (d / "ks-t-jb-1-Data.db").write_bytes(b"\x00")
    (d / "ks-t-jb-2-Data.db").write_bytes(b"")
    manifest = d / "_manifest" / "_manifest"
    manifest.write_text("ks-t-jb-1-Data.db\nks-t-jb-2-Data.db\n")
    assert discover_data_files([str(d)]) == [str(d / "ks-t-jb-1-Data.db")]
    manifest.write_text("ks-t-jb-1-Data.db\nks-t-jb-3-Data.db\n")
    with pytest.raises(FileNotFoundError) as err:
        discover_data_files([str(d)])
    assert str(manifest) in str(err.value)
    assert str(d / "ks-t-jb-3-Data.db") in str(err.value)


def test_input_without_data_files_fails_loudly(spark, tmp_path, monkeypatch):
    """An input root that exists but holds no Data.db fails the read and
    the job; the job used to write an empty snapshot that looked like a
    successful run."""
    import pytest

    import aegisthus_spark.session as sess
    from aegisthus_spark import job as jobmod
    from aegisthus_spark.sources import read_sstable_cells

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "ks-t-jb-1-Index.db").write_bytes(b"\x00")
    with pytest.raises(FileNotFoundError, match="no SSTable Data.db"):
        read_sstable_cells(spark, [str(empty)])
    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    out = tmp_path / "snap"
    with pytest.raises(FileNotFoundError, match="no SSTable Data.db"):
        jobmod.main(["--input-dir", str(empty), "--output", str(out)])
    assert not out.exists()
