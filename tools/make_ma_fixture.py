"""Generate the checked-in Cassandra 3.x ("ma") test fixture.

Writes tests/fixtures/ma/{gen1,gen2} — two deterministic ma-format
generations with overlapping keys (LWW), a 3.x row tombstone, a
partition tombstone, TTL'd cells, a static column, and a non-frozen
list column — plus the golden aeg-JSON of their compaction at
tests/golden/decode_golden_ma.parquet (case 'ma_two_gen').

Re-run only when the fixture content deliberately changes; the binaries
and golden are committed so the `sst_decode_ma` driver query is stable.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aegisthus_spark.sstable.modern_writer import UTF8, write_sstable_ma  # noqa: E402

LONG = "org.apache.cassandra.db.marshal.LongType"
LIST_UTF8 = f"org.apache.cassandra.db.marshal.ListType({UTF8})"

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(ROOT, "tests", "fixtures", "ma")
GOLDEN = os.path.join(ROOT, "tests", "golden", "decode_golden_ma.parquet")
GOLDEN_CQL = os.path.join(ROOT, "tests", "golden", "cql_golden_ma.parquet")

SCHEMA = dict(
    clustering_types=[UTF8],
    static_columns=[(b"owner", UTF8)],
    regular_columns=[(b"name", UTF8), (b"score", LONG), (b"tags", LIST_UTF8)],
)

TS0 = 1_600_000_000_000_000  # micros
LDT0 = 1_600_000_000  # seconds


def gen1_partitions():
    parts = []
    for i in range(20):
        key = f"k{i:03d}".encode()
        rows = [
            {"clustering": [b"c1"], "liveness": (TS0 + i,),
             "cells": [
                 {"column": b"name", "value": f"gen1-{i}".encode()},
                 {"column": b"score", "value": (i * 10).to_bytes(8, "big"),
                  "ts": TS0 + i + 1},
             ]},
            {"clustering": [b"c2"], "liveness": (TS0 + i, 3600, LDT0 + 3600),
             "cells": [
                 {"column": b"name", "value": f"ttl-{i}".encode(),
                  "expiring": (3600, LDT0 + 3600)},
             ]},
        ]
        if i == 3:
            rows.insert(0, {"static": True, "cells": [
                {"column": b"owner", "value": b"alice", "ts": TS0}]})
        if i == 4:
            rows[0]["cells"].append(
                {"column": b"tags", "path": b"\x01", "value": b"red",
                 "ts": TS0 + 100})
            rows[0]["cells"].append(
                {"column": b"tags", "path": b"\x02", "value": b"blue",
                 "ts": TS0 + 101})
        parts.append({"key": key, "rows": rows})
    return parts


def gen2_partitions():
    parts = []
    # overwrite half the keys with newer values (LWW must pick these)
    for i in range(0, 20, 2):
        key = f"k{i:03d}".encode()
        parts.append({"key": key, "rows": [
            {"clustering": [b"c1"], "liveness": (TS0 + 1000 + i,),
             "cells": [{"column": b"name", "value": f"gen2-{i}".encode()}]},
        ]})
    # 3.x row tombstone: kills k005/c1 entirely (newer than gen1 writes)
    parts.insert(3, {"key": b"k005", "rows": [
        {"clustering": [b"c1"], "deletion": (TS0 + 2000, LDT0 + 10),
         "cells": []},
    ]})
    # exclusive-end range on k009: [c0 .. c2) deletes c1 but must SPARE
    # the boundary row c2 (pins the exclusive-bound eoc mapping in the
    # driver-gated golden)
    from aegisthus_spark.sstable.modern import (
        KIND_EXCL_END_BOUND,
        KIND_INCL_START_BOUND,
    )

    parts.insert(5, {"key": b"k009", "rows": [
        {"marker": KIND_INCL_START_BOUND, "clustering": [b"c0"],
         "deletion": (TS0 + 4000, LDT0 + 30)},
        {"marker": KIND_EXCL_END_BOUND, "clustering": [b"c2"],
         "deletion": (TS0 + 4000, LDT0 + 30)},
    ]})
    # partition tombstone: k007 wiped
    parts.insert(4, {"key": b"k007",
                     "deletion": (TS0 + 3000, LDT0 + 20), "rows": []})
    parts.sort(key=lambda p: p["key"])
    return parts


def main() -> None:
    write_sstable_ma(
        os.path.join(FIXTURE_DIR, "gen1"), gen1_partitions(),
        generation=1, **SCHEMA,
    )
    write_sstable_ma(
        os.path.join(FIXTURE_DIR, "gen2"), gen2_partitions(),
        generation=2, **SCHEMA,
    )
    print(f"fixture written to {FIXTURE_DIR}")

    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import to_aeg_json
    from aegisthus_spark.session import get_spark
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import name_sort_key_for_header

    spark = get_spark("make-ma-fixture", cpus=4)
    cells = read_sstable_cells(
        spark,
        [os.path.join(FIXTURE_DIR, "gen1"), os.path.join(FIXTURE_DIR, "gen2")],
    )
    from aegisthus_spark.sstable.modern import header_for_data_file as _hdr

    # same comparator-aware ordering as the sst_decode_ma query
    _sk = name_sort_key_for_header(
        _hdr(os.path.join(FIXTURE_DIR, "gen1", "ma-1-big-Data.db"))
    )
    # sorted: collect() returns the lines in no fixed order, and the golden
    # must come out byte for byte the same on every run
    lines = sorted(
        r.value for r in to_aeg_json(compact(cells, name_sort_key=_sk)).collect()
    )

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.DataFrame({"case_name": ["ma_two_gen"] * len(lines), "line": lines})
    pq.write_table(pa.Table.from_pandas(df), GOLDEN)
    print(f"golden ({len(lines)} lines) written to {GOLDEN}")

    # second golden: typed CQL rows via the self-describing 3.x header
    from pyspark.sql import functions as F

    from aegisthus_spark.compact import cleanse
    from aegisthus_spark.cql import cql_rows
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        infer_cql_schema,
    )

    h = header_for_data_file(
        os.path.join(FIXTURE_DIR, "gen1", "ma-1-big-Data.db")
    )
    rows = (
        cql_rows(cleanse(compact(cells, name_sort_key=_sk)), infer_cql_schema(h))
        .select(
            "key", "ck0", "name", "score",
            F.array_join("tags", ",").alias("tags_joined"), "owner",
        )
        .orderBy("key", "ck0")
    )
    # explicit Arrow schema: pandas would coerce nullable int64 -> double
    cql_schema = pa.schema([
        ("key", pa.string()), ("ck0", pa.string()), ("name", pa.string()),
        ("score", pa.int64()), ("tags_joined", pa.string()),
        ("owner", pa.string()),
    ])
    table = pa.Table.from_pylist(
        [r.asDict() for r in rows.collect()], schema=cql_schema
    )
    pq.write_table(table, GOLDEN_CQL)
    print(f"cql golden ({table.num_rows} rows) written to {GOLDEN_CQL}")


if __name__ == "__main__":
    main()
