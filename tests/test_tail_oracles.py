"""Value-gate for the GATE_TAIL queries.

The driver's CORRECTNESS file records only the first GATE_WINDOW
registered queries; everything in GATE_TAIL runs un-gated there. This
module closes that gap in CI: every tail query is compared against its
DuckDB oracle (row count, schema, sorted values) with the same comparison
tools/driver_sim.py uses — so a tail query is never merely "registered",
it is value-checked on every test run.

Checked at BOTH sf0.001 and sf0.01: the driver gates at sf0.01 because
some behaviors (quantile interpolation branches, LSH bucket collisions,
sketch estimate spread) only manifest with enough rows — sf0.001 alone
would under-test exactly the queries the tail defers. Shard with
`-k sf0_001` / `-k sf0_01` when iterating locally.
"""

import os
import sys

import duckdb
import pytest

from tests.conftest import REFERENCE_QUERIES, needs_reference

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _sf_id(sf_dir):
    return sf_dir.rsplit("/", 1)[-1].replace(".", "_")


@pytest.fixture(scope="module", params=SF_DIRS, ids=_sf_id)
def sf_oracle(request):
    sf_dir = request.param
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return sf_dir, con


def _tail_names():
    from aegisthus_spark.queries import GATE_TAIL, REGISTRY

    # the queries that decode the reference's fixtures run where it exists
    return [
        pytest.param(n, marks=needs_reference) if n in REFERENCE_QUERIES else n
        for n in GATE_TAIL if n in REGISTRY
    ]


@pytest.mark.parametrize("name", _tail_names())
def test_tail_query_matches_oracle(spark, sf_oracle, name):
    from driver_sim import compare

    from aegisthus_spark.queries import REGISTRY

    sf_dir, con = sf_oracle
    q = REGISTRY[name]
    assert q.sql is not None, f"{name} has no oracle SQL"
    got = q.fn(spark, sf_dir)
    want = con.sql(q.sql).df()
    problem = compare(got, want, name)
    assert problem is None, problem
