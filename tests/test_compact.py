"""compact() semantics vs the reference reducer
(CassSSTableReducer.java — see docstrings in aegisthus_spark/compact.py)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from aegisthus_spark.compact import LONG_MIN, cleanse, compact

MIN = LONG_MIN


def rows_of(df):
    out = {}
    for r in df.collect():
        out[bytes(r.partition_key)] = (
            r.deleted_at,
            [(bytes(c.name), None if c.value is None else bytes(c.value), c.ts, c.kind) for c in r.columns],
        )
    return out


def compact_multistep(cells):
    """Independent oracle for compact(): the same merge rules as windows
    and joins (row-deletion window, range tombstones as an anti-join,
    windowed LWW), sharing no code with the production path."""
    w = Window.partitionBy("partition_key")
    deleted = cells.select(
        "partition_key",
        F.max(F.coalesce("row_deleted_at", F.lit(LONG_MIN))).over(w).alias("deleted_at"),
        "kind", "cell_name", "cell_name_max", "value", "ts", "ttl",
        "local_deletion_time", "ts_of_last_delete",
    )
    cols = deleted.filter(F.col("kind").isin("c", "d", "e", "x"))
    rts = deleted.filter(F.col("kind") == "t").select(
        F.col("partition_key").alias("rt_key"),
        F.col("cell_name").alias("rt_min"),
        F.col("cell_name_max").alias("rt_max"),
        F.col("ts").alias("rt_ts"),
    )
    survivors = cols.join(
        rts,
        on=[
            cols.partition_key == rts.rt_key,
            cols.cell_name >= rts.rt_min,
            cols.cell_name <= rts.rt_max,
            cols.ts <= rts.rt_ts,
        ],
        how="left_anti",
    )
    lww_w = (
        Window.partitionBy("partition_key", "cell_name")
        .orderBy(
            F.col("ts").desc(),
            F.when(F.col("kind") == "d", 1).otherwise(0).desc(),
            F.col("value").desc(),
        )
    )
    winners = (
        survivors.withColumn("rn", F.row_number().over(lww_w))
        .filter("rn = 1")
        .filter(F.col("ts") > F.col("deleted_at"))
    )
    all_keys = cells.groupBy("partition_key").agg(
        F.max(F.coalesce("row_deleted_at", F.lit(LONG_MIN))).alias("deleted_at")
    )
    assembled = winners.groupBy("partition_key").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("cell_name").alias("name"),
                    F.col("value").alias("value"),
                    F.col("ts").alias("ts"),
                    F.col("kind").alias("kind"),
                    F.col("ttl").alias("ttl"),
                    F.col("local_deletion_time").alias("local_deletion_time"),
                    F.col("ts_of_last_delete").alias("ts_of_last_delete"),
                )
            )
        ).alias("columns")
    )
    return all_keys.join(assembled, "partition_key", "left").select(
        "partition_key",
        "deleted_at",
        F.coalesce("columns", F.array()).alias("columns"),
        F.lit(False).alias("row_too_big"),
    )


def make(spark, cells_schema, rows):
    return spark.createDataFrame(rows, cells_schema)


def test_lww_keeps_max_ts(spark, cells_schema):
    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "c", b"a", None, b"old", 100, None, None, None),
        ("", 2, b"k", MIN, "c", b"a", None, b"new", 200, None, None, None),
        ("", 3, b"k", MIN, "c", b"a", None, b"mid", 150, None, None, None),
    ])
    out = rows_of(compact(df))
    assert out[b"k"] == (MIN, [(b"a", b"new", 200, "c")])


def test_lww_tie_tombstone_then_value(spark, cells_schema):
    # equal ts: tombstone beats live; among lives, greater value bytes win
    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "c", b"a", None, b"x", 100, None, None, None),
        ("", 2, b"k", MIN, "d", b"a", None, b"", 100, None, 99, None),
        ("", 1, b"k", MIN, "c", b"b", None, b"small", 100, None, None, None),
        ("", 2, b"k", MIN, "c", b"b", None, b"tiny", 100, None, None, None),
    ])
    out = rows_of(compact(df))
    assert out[b"k"][1] == [(b"a", b"", 100, "d"), (b"b", b"tiny", 100, "c")]


def test_cell_tombstone_survives_compact_dropped_by_cleanse(spark, cells_schema):
    # reference keeps DeletedColumn in compacted output (finalizeReduce only
    # removes RTs and row-shadowed cells); the Pig-layer cleanse drops it
    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "c", b"a", None, b"v", 100, None, None, None),
        ("", 1, b"k", MIN, "d", b"a", None, b"", 200, None, 99, None),
    ])
    compacted = compact(df)
    out = rows_of(compacted)
    assert out[b"k"][1] == [(b"a", b"", 200, "d")]
    assert rows_of(cleanse(compacted, drop_empty_rows=False))[b"k"][1] == []
    assert cleanse(compacted).count() == 0


def test_row_tombstone_shadows_and_preserves_empty_row(spark, cells_schema):
    df = make(spark, cells_schema, [
        ("", 1, b"k", 500, "c", b"a", None, b"v", 100, None, None, None),
        ("", 1, b"k", MIN, "c", b"b", None, b"v", 400, None, None, None),
        ("", 2, b"k", MIN, "c", b"c", None, b"v", 600, None, None, None),
    ])
    out = rows_of(compact(df))
    # deletedAt folds to 500; a@100 and b@400 shadowed; c@600 survives
    assert out[b"k"] == (500, [(b"c", b"v", 600, "c")])


def test_row_only_record_preserved(spark, cells_schema):
    df = make(spark, cells_schema, [
        ("", 1, b"k", 500, "r", None, None, None, MIN, None, None, None),
    ])
    out = rows_of(compact(df))
    assert out[b"k"] == (500, [])


def test_range_tombstone_covers_by_name_and_ts(spark, cells_schema):
    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "c", b"b", None, b"dead", 100, None, None, None),
        ("", 1, b"k", MIN, "c", b"b2", None, b"alive_newer", 200, None, None, None),
        ("", 1, b"k", MIN, "c", b"a", None, b"outside", 100, None, None, None),
        ("", 1, b"k", MIN, "c", b"z", None, b"outside2", 100, None, None, None),
        ("", 1, b"k", MIN, "t", b"b", b"c", None, 150, None, 99, None),
    ])
    out = rows_of(compact(df))
    names = [c[0] for c in out[b"k"][1]]
    assert names == [b"a", b"b2", b"z"]


def test_rt_boundary_inclusive_and_ts_equal_deletes(spark, cells_schema):
    # bounds are inclusive; rt.ts >= cell.ts deletes (Tracker semantics)
    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "c", b"b", None, b"eq", 150, None, None, None),
        ("", 1, b"k", MIN, "c", b"c", None, b"max_bound", 100, None, None, None),
        ("", 1, b"k", MIN, "t", b"b", b"c", None, 150, None, 99, None),
    ])
    out = rows_of(compact(df))
    assert out[b"k"] == (MIN, [])


def test_replica_duplicates_collapse(spark, cells_schema):
    # 3 replicas of identical cells -> one winner (LWW with equal everything)
    dup = [("", 1, b"k", MIN, "c", b"a", None, b"v", 100, None, None, None)] * 3
    out = rows_of(compact(make(spark, cells_schema, dup)))
    assert out[b"k"] == (MIN, [(b"a", b"v", 100, "c")])


def test_max_row_size_truncates_and_flags(spark, cells_schema):
    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "c", b"a", None, b"0123456789", 100, None, None, None),
        ("", 1, b"k", MIN, "c", b"b", None, b"0123456789", 100, None, None, None),
        ("", 1, b"k", MIN, "c", b"c", None, b"0123456789", 100, None, None, None),
    ])
    out = compact(df, max_row_size=60).collect()[0]
    # each cell costs 1 + 10 + 15 = 26 bytes; only two fit under 60
    assert out.row_too_big is True
    assert [bytes(c.name) for c in out.columns] == [b"a", b"b"]


def test_expiring_and_counter_fields_carried(spark, cells_schema):
    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "e", b"a", None, b"v", 100, 3600, 12345, None),
        ("", 1, b"k", MIN, "x", b"b", None, b"v", 100, None, None, 77),
    ])
    cols = compact(df).collect()[0].columns
    assert cols[0].kind == "e" and cols[0].ttl == 3600 and cols[0].local_deletion_time == 12345
    assert cols[1].kind == "x" and cols[1].ts_of_last_delete == 77


def test_multistep_equivalent(spark, cells_schema):
    rows = [
        ("", 1, b"k1", MIN, "c", b"a", None, b"v1", 100, None, None, None),
        ("", 2, b"k1", MIN, "c", b"a", None, b"v2", 200, None, None, None),
        ("", 1, b"k1", MIN, "c", b"b", None, b"vb", 100, None, None, None),
        ("", 2, b"k1", MIN, "t", b"b", b"bzz", None, 150, None, 1000, None),
        ("", 1, b"k2", 500, "c", b"a", None, b"v", 100, None, None, None),
    ]
    df = make(spark, cells_schema, rows)
    a = rows_of(compact(df))
    b = rows_of(compact_multistep(df))
    assert a == b


def test_range_tombstone_typed_comparator_bounds(spark, cells_schema):
    """J2 under a typed comparator (LongType): both RT bounds must be encoded
    through the same sort key as the cell names. With raw-byte max bounds,
    negative longs (0xFF...) compare above positive ones and coverage breaks
    (reference: CassSSTableReducer.java:142,148-153 compares via the
    configured comparator on both bounds)."""
    import struct

    from pyspark.sql import functions as F

    from aegisthus_spark import types as aegtypes

    comp = aegtypes.get("LongType")

    @F.udf("binary")
    def sk(b):
        return comp.sort_key(bytes(b)) if b is not None else None

    def enc(n):
        return struct.pack(">q", n)

    df = make(spark, cells_schema, [
        # RT covers [-10, 2] at ts 150
        ("", 1, b"k", MIN, "t", enc(-10), enc(2), None, 150, None, 99, None),
        ("", 1, b"k", MIN, "c", enc(-5), None, b"covered_neg", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(1), None, b"covered_pos", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(10), None, b"outside_hi", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(-20), None, b"outside_lo", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(0), None, b"newer_wins", 200, None, None, None),
    ])
    out = rows_of(compact(df, name_sort_key=sk))
    names = [struct.unpack(">q", c[0])[0] for c in out[b"k"][1]]
    # numeric comparator order, with only the RT-covered older cells dropped
    assert names == [-20, 0, 10]


def test_range_tombstone_typed_explicit_max_key(spark, cells_schema):
    """Column form of the API: pre-built name_sort_key plus name_max_sort_key."""
    import struct

    from pyspark.sql import functions as F

    from aegisthus_spark import types as aegtypes

    comp = aegtypes.get("LongType")

    @F.udf("binary")
    def sk(b):
        return comp.sort_key(bytes(b)) if b is not None else None

    def enc(n):
        return struct.pack(">q", n)

    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "t", enc(-3), enc(3), None, 150, None, 99, None),
        ("", 1, b"k", MIN, "c", enc(-1), None, b"covered", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(5), None, b"outside", 100, None, None, None),
    ])
    out = rows_of(compact(
        df,
        name_sort_key=sk(F.col("cell_name")),
        name_max_sort_key=sk(F.col("cell_name_max")),
    ))
    names = [struct.unpack(">q", c[0])[0] for c in out[b"k"][1]]
    assert names == [5]


def test_compact_salted_equals_compact_on_fixtures(spark, cells_schema):
    """The skew-safe two-stage compact must produce IDENTICAL rows to the
    single-Exchange compact() on every fixture's cell stream (all
    versions, range tombstones, deletions, multi-generation merges): the
    legacy jb, la, ic and compressed tables, and the reference's golden
    fixtures where they exist."""
    import glob

    from aegisthus_spark.compact import compact_salted
    from aegisthus_spark.sstable import scan_file
    from tests.conftest import HAS_REFERENCE, LEGACY
    from tests.test_golden import data_files

    fields = ("source_path", "generation", "partition_key", "row_deleted_at",
              "kind", "cell_name", "cell_name_max", "value", "ts", "ttl",
              "local_deletion_time", "ts_of_last_delete")
    cases = {
        name: sorted(glob.glob(f"{LEGACY}/{name}/**/*-Data.db", recursive=True))
        for name in ("jb", "la", "ic", "compressed")
    }
    if HAS_REFERENCE:
        for case in ("2.0.10/randomtable", "2.2.4/rangetombstone", "1.2.18/randomtable"):
            cases[case] = data_files(case)
    for case, files in cases.items():
        rows = [tuple(c[k] for k in fields) for f in files for c in scan_file(f)]
        assert rows, f"{case} decoded no cells"
        cells = spark.createDataFrame(rows, cells_schema)
        want = rows_of(compact(cells))
        for buckets in (1, 4):
            got = rows_of(compact_salted(cells, buckets=buckets))
            assert got == want, (case, buckets)


def test_compact_salted_kinds_and_guard(spark, cells_schema):
    from aegisthus_spark.compact import compact_salted

    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "c", b"a", None, b"old", 100, None, None, None),
        ("", 2, b"k", MIN, "c", b"a", None, b"new", 200, None, None, None),
        ("", 1, b"k", MIN, "d", b"b", None, b"", 300, None, 9, None),
        ("", 1, b"k", MIN, "e", b"c", None, b"v", 100, 60, 99, None),
        ("", 1, b"k", MIN, "x", b"d", None, b"v", 100, None, None, 7),
        ("", 1, b"k", MIN, "t", b"c", b"cz", None, 150, None, 9, None),
        ("", 1, b"k2", 500, "c", b"a", None, b"v", 100, None, None, None),
        ("", 1, b"k3", MIN, "r", None, None, None, MIN, None, None, None),
    ])
    want = rows_of(compact(df))
    got = rows_of(compact_salted(df, buckets=4))
    assert got == want
    # truncation guard applies on the merged order
    trunc = compact_salted(df, buckets=4, max_row_size=40).collect()
    flagged = {bytes(r.partition_key): r.row_too_big for r in trunc}
    assert flagged[b"k"] is True


def test_compact_salted_truncation_keeps_survivor_prefix(spark, cells_schema):
    """Documented semantics: compact_salted(max_row_size=...) truncates the
    POST-merge survivor stream (comparator order), not compact()'s raw
    merge-order stream — duplicates don't consume budget. Assert the exact
    kept prefix, not just the flag."""
    from aegisthus_spark.compact import compact_salted

    # three surviving cells, each name=1B value=5B -> csize = 1+5+15 = 21.
    # budget 45 keeps exactly two survivors; the duplicate of 'a' (loser)
    # must NOT consume budget in the salted path.
    df = make(spark, cells_schema, [
        ("", 1, b"k", MIN, "c", b"a", None, b"old__", 100, None, None, None),
        ("", 2, b"k", MIN, "c", b"a", None, b"new__", 200, None, None, None),
        ("", 1, b"k", MIN, "c", b"b", None, b"vvvvv", 100, None, None, None),
        ("", 1, b"k", MIN, "c", b"c", None, b"wwwww", 100, None, None, None),
    ])
    out = compact_salted(df, buckets=4, max_row_size=45).collect()
    row = {bytes(r.partition_key): r for r in out}[b"k"]
    assert row.row_too_big is True
    kept = [(bytes(c.name), bytes(c.value)) for c in row.columns]
    assert kept == [(b"a", b"new__"), (b"b", b"vvvvv")]


def test_compact_salted_typed_comparator(spark, cells_schema):
    """Salted path under a LongType comparator: typed sort keys threaded
    through both stages (bounds AND cell names) must equal compact() with
    the same comparator — including RT coverage of negative longs."""
    import struct

    from pyspark.sql import functions as F

    from aegisthus_spark import types as aegtypes
    from aegisthus_spark.compact import compact_salted

    comp = aegtypes.get("LongType")

    @F.udf("binary")
    def sk(b):
        return comp.sort_key(bytes(b)) if b is not None else None

    def enc(n):
        return struct.pack(">q", n)

    df = make(spark, cells_schema, [
        # RT covers [-10, 2] at ts 150
        ("", 1, b"k", MIN, "t", enc(-10), enc(2), None, 150, None, 99, None),
        ("", 1, b"k", MIN, "c", enc(-5), None, b"covered_neg", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(1), None, b"covered_pos", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(10), None, b"outside_hi", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(-20), None, b"outside_lo", 100, None, None, None),
        ("", 1, b"k", MIN, "c", enc(0), None, b"newer_wins", 200, None, None, None),
        # a second key with duplicates across generations
        ("", 1, b"k2", MIN, "c", enc(7), None, b"old", 100, None, None, None),
        ("", 2, b"k2", MIN, "c", enc(7), None, b"new", 200, None, None, None),
    ])
    want = rows_of(compact(df, name_sort_key=sk))
    for buckets in (1, 4):
        got = rows_of(compact_salted(df, buckets=buckets, name_sort_key=sk))
        assert got == want, buckets
    # names decode back through the comparator order
    names = [struct.unpack(">q", c[0])[0] for c in want[b"k"][1]]
    assert names == [-20, 0, 10]
