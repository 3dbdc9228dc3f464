"""Avro OCF sink tests.

The writer is pure Python (avro_out.py, from the public Avro 1.x spec);
these tests decode its output with the OFFICIAL Avro Java implementation
that ships on Spark's classpath (org.apache.avro.file.DataFileReader via
py4j) — an independent decoder, so a spec violation can't self-validate.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

MA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures", "ma"
)


def _read_with_java(spark, path):
    """Decode one OCF file with Avro-Java; returns list of JSON records."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(path), reader)
    out = []
    while dfr.hasNext():
        out.append(json.loads(dfr.next().toString()))
    dfr.close()
    return out


def test_write_avro_roundtrip_java(spark, tmp_path):
    from aegisthus_spark.avro_out import write_avro

    df = spark.createDataFrame(
        [
            (1, "alpha", 2.5, True, [1, 2, 3], {"k": 10}, (7, "in")),
            (2, None, -0.25, False, [], {}, (8, None)),
        ],
        "id long, name string, x double, flag boolean, arr array<int>, "
        "m map<string, long>, st struct<a: int, b: string>",
    ).repartition(2, "id")
    paths = write_avro(df, str(tmp_path / "out"))
    assert paths, "no files written"
    recs = [r for p in paths for r in _read_with_java(spark, p)]
    recs.sort(key=lambda r: r["id"])
    assert recs == [
        {"id": 1, "name": "alpha", "x": 2.5, "flag": True, "arr": [1, 2, 3],
         "m": {"k": 10}, "st": {"a": 7, "b": "in"}},
        {"id": 2, "name": None, "x": -0.25, "flag": False, "arr": [],
         "m": {}, "st": {"a": 8, "b": None}},
    ]


def test_write_avro_binary_and_timestamp_java(spark, tmp_path):
    from aegisthus_spark.avro_out import write_avro

    df = spark.createDataFrame(
        [(b"\x00\xff\x10", "2024-03-01 12:30:45.123456")],
        "b binary, ts_s string",
    ).select("b", F.col("ts_s").cast("timestamp").alias("ts"))
    paths = write_avro(df, str(tmp_path / "out"))
    # decode binary via the Java API directly (JSON mangles bytes)
    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(paths[0]), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    rec = dfr.next()
    bb = rec.get("b")  # ByteBuffer
    got = bytes([bb.get(i) % 256 for i in range(bb.limit())])
    assert got == b"\x00\xff\x10"
    micros = rec.get("ts")
    import datetime

    want = int(
        datetime.datetime(2024, 3, 1, 12, 30, 45, 123456, tzinfo=datetime.timezone.utc)
        .timestamp() * 1_000_000
    )
    assert micros == want
    dfr.close()


def test_write_avro_many_rows_blocks(spark, tmp_path):
    """>1 block per file (4096 records/block) decodes completely."""
    from aegisthus_spark.avro_out import write_avro

    df = spark.range(10_000).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("s")
    ).coalesce(1)
    paths = write_avro(df, str(tmp_path / "out"))
    assert len(paths) == 1
    recs = _read_with_java(spark, paths[0])
    assert len(recs) == 10_000
    assert recs[0]["id"] == 0 and recs[0]["s"] == "v0"
    assert recs[-1]["id"] == 9_999


def test_export_cql_emits_real_avro(spark, tmp_path):
    """export_cql writes real Avro through the OCF sink; read back with
    Avro-Java, its records are the CQL rows of the same input."""
    from aegisthus_spark.compact import cleanse
    from aegisthus_spark.cql import cql_rows
    from aegisthus_spark.job import compact_snapshot, export_cql
    from aegisthus_spark.sstable.modern import header_for_data_file, infer_cql_schema

    inputs = [f"{MA}/gen1", f"{MA}/gen2"]
    schema = infer_cql_schema(header_for_data_file(f"{MA}/gen1/ma-1-big-Data.db"))
    out = tmp_path / "export"
    fmt, n = export_cql(spark, inputs, schema, str(out))
    assert fmt == "avro-ocf"
    recs = [r for p in sorted(out.glob("*.avro")) for r in _read_with_java(spark, str(p))]
    want = [r.asDict() for r in cql_rows(cleanse(compact_snapshot(spark, inputs)), schema).collect()]
    assert len(want) > 20 and n == len(want)

    def order(r):
        return (r["key"], r["ck0"])

    assert sorted(recs, key=order) == sorted(want, key=order)


def test_write_avro_empty_dataframe_header_only(spark, tmp_path):
    """An all-empty DataFrame still produces one header-only OCF file, so
    the schema and the (empty) record set are durably represented."""
    from aegisthus_spark.avro_out import write_avro

    df = spark.createDataFrame([], "id long, name string")
    paths = write_avro(df, str(tmp_path / "empty"))
    assert len(paths) == 1
    recs = _read_with_java(spark, paths[0])
    assert recs == []


def test_write_avro_wide_decimal_exact(spark, tmp_path):
    """decimal(38,4) survives byte-exact: a value with more than 28
    significant digits — the bare-context Decimal.scaleb the round-9
    review family removed would have ROUNDED its low digits before
    encoding the unscaled bytes."""
    from decimal import Decimal

    from aegisthus_spark.avro_out import write_avro

    wide = Decimal("1234567890123456789012345678901234.5678")
    df = spark.createDataFrame([(1, wide)], "id long, d decimal(38,4)")
    paths = write_avro(df, str(tmp_path / "out"))
    jvm = spark._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(paths[0]),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    rec = dfr.next()
    raw = rec.get("d")
    # Avro-Java returns the unscaled big-endian bytes for decimal logicals
    buf = raw.array() if hasattr(raw, "array") else bytes(raw)
    unscaled = int.from_bytes(bytes(buf), "big", signed=True)
    dfr.close()
    assert unscaled == int(wide.scaleb(4, context=__import__("decimal").Context(prec=60)))
    assert unscaled == 12345678901234567890123456789012345678


def test_export_cql_encode_failure_raises_and_leaves_no_file(spark, tmp_path, monkeypatch):
    """A failure inside the OCF encoder fails the export; it used to fall
    back to a parquet snapshot that reported success."""
    from aegisthus_spark import avro_out
    from aegisthus_spark.job import export_cql
    from aegisthus_spark.sstable.modern import header_for_data_file, infer_cql_schema

    real = avro_out._write_partition

    def failing(partition, rows, directory, **kw):
        def torn():
            yield from rows
            raise RuntimeError("injected OCF encode failure")

        return real(partition, torn(), directory, **kw)

    monkeypatch.setattr(avro_out, "_write_partition", failing)
    schema = infer_cql_schema(header_for_data_file(f"{MA}/gen1/ma-1-big-Data.db"))
    out = tmp_path / "export"
    with pytest.raises(Exception, match="injected OCF encode failure"):
        export_cql(spark, [f"{MA}/gen1", f"{MA}/gen2"], schema, str(out))
    assert not out.exists()
