"""The typed CQL rows of the in-repo 3.x fixture equal their golden.

``aeg_cql_ma_inferred`` runs decode → compact → cleanse → cql_rows over
``tests/fixtures/ma`` (statics, a list column, LWW across two generations,
row, range and partition tombstones) with the schema inferred from the
serialization header; ``tests/golden/cql_golden_ma.parquet`` holds the rows
``tools/make_ma_fixture.py`` froze from that pipeline."""

import pyarrow.parquet as pq


def test_cql_ma_inferred_matches_golden(spark):
    from aegisthus_spark.queries import _MA_CQL_GOLDEN, REGISTRY

    df = REGISTRY["aeg_cql_ma_inferred"].fn(spark, None)
    want = pq.read_table(_MA_CQL_GOLDEN)
    assert df.columns == want.column_names
    got = [r.asDict() for r in df.collect()]
    assert len(got) == want.num_rows == 36
    assert got == want.to_pylist()
    # the statics and the list column are exercised, not all-null
    assert sum(r["owner"] is not None for r in got) > 0
    assert sum(r["tags_joined"] is not None for r in got) > 0
