"""Property-based verification of compact(): random cell streams vs an
independent Python model of the reference reducer's semantics
(CassSSTableReducer: A2 deletion fold, J2 range tombstones, A1 LWW with
the deterministic tie rule, P2' row-shadow filter, P7 empty-row keep).

The reference has no property tests (SURVEY §5); this closes that gap."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

LONG_MIN = -(1 << 63)

KEYS = [b"k1", b"k2"]
NAMES = [b"a", b"b", b"c", b"d"]

cell_st = st.fixed_dictionaries({
    "key": st.sampled_from(KEYS),
    "kind": st.sampled_from(["c", "c", "c", "d", "e", "t"]),  # bias live
    "name": st.sampled_from(NAMES),
    "name_max": st.sampled_from(NAMES),
    "ts": st.integers(min_value=0, max_value=6),
    "value": st.binary(min_size=0, max_size=2),
    "row_del": st.one_of(st.just(None), st.integers(min_value=0, max_value=6)),
})


def model_compact(cells):
    """Reference semantics, implemented independently of Spark."""
    by_key = {}
    for c in cells:
        by_key.setdefault(c["key"], []).append(c)
    out = {}
    for key, group in by_key.items():
        deleted_at = max(
            (c["row_del"] for c in group if c["row_del"] is not None),
            default=LONG_MIN,
        )
        rts = [c for c in group if c["kind"] == "t" and c["name"] <= c["name_max"]]
        plain = [c for c in group if c["kind"] in ("c", "d", "e")]
        survivors = [
            c
            for c in plain
            if not any(
                r["name"] <= c["name"] <= r["name_max"] and r["ts"] >= c["ts"]
                for r in rts
            )
        ]
        winners = {}
        for c in survivors:
            # full deterministic tie chain (compact._cell_struct order):
            # ts, tombstone-rank, value, then the remaining struct fields
            # (kind here; ttl/deletion times are constant in this model) —
            # a TOTAL order, so equal-ts duplicates resolve identically
            # under any partitioning
            rank = (c["ts"], 1 if c["kind"] == "d" else 0, c["value"], c["kind"])
            prev = winners.get(c["name"])
            if prev is None or rank > prev[0]:
                winners[c["name"]] = (rank, c)
        cols = [
            (n, w[1]["kind"], w[1]["ts"], w[1]["value"])
            for n, w in sorted(winners.items())
            if w[1]["ts"] > deleted_at
        ]
        out[key] = (deleted_at, cols)
    return out


def test_wide_row_guard_is_linear(spark):
    """P3 on a pathological wide row: the truncation fold must stay O(n)
    (an array-building fold is quadratic and effectively hangs at 1M+ cells
    in one partition)."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.compact import compact

    wide = spark.range(300_000).select(
        F.lit("f").alias("source_path"), F.lit(1).alias("generation"),
        F.lit(b"hot").alias("partition_key"),
        F.lit(-(1 << 63)).alias("row_deleted_at"), F.lit("c").alias("kind"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("cell_name"),
        F.lit(None).cast("binary").alias("cell_name_max"),
        F.lit(b"x" * 32).alias("value"), F.col("id").alias("ts"),
        F.lit(None).cast("int").alias("ttl"),
        F.lit(None).cast("int").alias("local_deletion_time"),
        F.lit(None).cast("long").alias("ts_of_last_delete"),
    )
    t = time.time()
    r = compact(wide, max_row_size=100_000).collect()
    assert time.time() - t < 120, "wide-row guard is not linear"
    assert len(r) == 1 and r[0].row_too_big
    # longest prefix in merge order under the limit: ~100k / (name+32+15)
    assert 0 < len(r[0].columns) < 3000


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(cell_st, min_size=0, max_size=60))
def test_compact_matches_model(spark, cells_in):
    from aegisthus_spark.compact import compact
    from tests.conftest import CELLS_SCHEMA

    rows = []
    for c in cells_in:
        is_t = c["kind"] == "t"
        if is_t and c["name"] > c["name_max"]:
            continue  # malformed RT interval: generator artifact, skip
        rows.append((
            "f", 1, c["key"],
            c["row_del"] if c["row_del"] is not None else LONG_MIN,
            c["kind"], c["name"],
            c["name_max"] if is_t else None,
            None if is_t else c["value"],
            c["ts"], None, None, None,
        ))
    if not rows:
        return
    cells = spark.createDataFrame(rows, CELLS_SCHEMA)
    got = {
        bytes(r["partition_key"]): (
            r["deleted_at"],
            [
                (bytes(col["name"]), col["kind"], col["ts"],
                 bytes(col["value"]) if col["value"] is not None else None)
                for col in r["columns"]
            ],
        )
        for r in compact(cells).collect()
    }
    want = model_compact([
        {**c, "value": (None if c["kind"] == "t" else c["value"])}
        for c in cells_in
        if not (c["kind"] == "t" and c["name"] > c["name_max"])
    ])
    expected = {
        k: (da, [(n, kind, ts, v) for (n, kind, ts, v) in cols])
        for k, (da, cols) in want.items()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0], f"deleted_at mismatch for {k}"
        assert got[k][1] == expected[k][1], (
            f"columns mismatch for {k}:\n  got {got[k][1]}\n  want {expected[k][1]}"
        )


def test_salted_noninjective_comparator_matches_compact(spark, cells_schema):
    """A comparator that maps distinct raw names to EQUAL sort keys (here:
    lowercasing) must dedup identically in compact() and compact_salted():
    salting buckets the computed sort key, so such duplicates co-locate."""
    from aegisthus_spark.compact import compact, compact_salted

    rows = [
        ("g1", 1, b"k1", None, "c", b"COL", None, b"old", 10, None, None, None),
        ("g2", 2, b"k1", None, "c", b"col", None, b"new", 20, None, None, None),
        ("g1", 1, b"k1", None, "c", b"other", None, b"v", 5, None, None, None),
        ("g1", 1, b"k2", None, "c", b"Name", None, b"a", 1, None, None, None),
        ("g2", 2, b"k2", None, "c", b"NAME", None, b"b", 2, None, None, None),
    ]
    cells = spark.createDataFrame(rows, cells_schema)
    lower = lambda c: f"cast(lower(cast({c} as string)) as binary)"  # noqa: E731

    def rendered(df):
        return sorted(
            (bytes(r.partition_key), [(bytes(c.name), bytes(c.value), c.ts) for c in r.columns])
            for r in df.collect()
        )

    got = rendered(compact_salted(cells, buckets=4, name_sort_key=lower))
    want = rendered(compact(cells, name_sort_key=lower))
    assert got == want
    # and the survivors are the newer-ts values (LWW resolved across names)
    flat = {k: cols for k, cols in got}
    assert [(v, ts) for _, v, ts in flat[b"k1"]] == [(b"new", 20), (b"v", 5)]


# ---------------------------------------------------------------------------
# property guards for the iterative/graph operators (random structures vs
# independent Python models)
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, raw_edges):
    """Min-label propagation with pointer doubling vs a plain union-find
    over random graphs (self-loops and duplicates included)."""
    from aegisthus_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b]
    n = 31
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in range(n)}

    pairs = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    if not edges:
        pairs = pairs.filter("a != a")  # empty frame, typed
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r.doc_id: r.component
        for r in connected_components(pairs, verts).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(0, 40), min_size=1, max_size=120))
def test_cms_never_underestimates_random_streams(spark, keys):
    """CMS estimates >= true counts on arbitrary (skewed, tiny-domain)
    streams — the one-sided error bound that makes the sketch usable."""
    from collections import Counter

    from aegisthus_spark.operators.sketch import cms_heavy_hitters

    truth = Counter(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    est = {r.k: r.est_count for r in cms_heavy_hitters(df, "k", k=1000).collect()}
    assert set(est) == set(truth)
    for key, true_n in truth.items():
        assert est[key] >= true_n
