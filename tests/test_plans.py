"""Scale guards: assert the physical-plan properties that must survive a
100x-1000x scale-up. A regression here (lost pushdown, broadcast turning
into a fact-table shuffle, extra Exchange) fails CI instead of melting a
cluster at 100 TB."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


@pytest.fixture(autouse=True)
def _uncached(spark):
    # cached tables (from other test modules) would serve scans from memory
    # with the full schema, hiding the pruning these tests assert
    spark.catalog.clearCache()
    yield


def test_q3_broadcasts_dims_and_pushes_filters(spark, queries):
    from aegisthus_spark.plans import join_strategies, pushed_filters, read_schema

    df = queries["q3_shipping_priority"](spark, SF_DIR)
    joins = join_strategies(df)
    assert joins.count("BroadcastHashJoin") == 2, joins  # no fact-table shuffle join
    pushed = pushed_filters(df)
    li = next(v for k, v in pushed.items() if "lineitem" in k)
    assert "l_shipdate" in li  # predicate reaches the parquet scan
    cu = next(v for k, v in pushed.items() if "customer" in k)
    assert "EqualTo(c_mktsegment,BUILDING)" in cu
    schemas = read_schema(df)
    li_cols = next(v for k, v in schemas.items() if "lineitem" in k)
    # lineitem is the 100 TB table: only the 4 needed columns may be read
    assert li_cols.count(":") <= 4, li_cols


def test_q1_single_shuffle_partial_agg(spark, queries):
    from aegisthus_spark.plans import count_exchanges, physical_plan

    df = queries["q1_pricing_summary"](spark, SF_DIR)
    # partial (map-side) agg + one hash exchange + final agg
    assert count_exchanges(df) <= 2  # agg exchange + orderBy range exchange
    assert "partial" in physical_plan(df, "simple").lower()


def test_q6_reads_only_needed_columns(spark, queries):
    from aegisthus_spark.plans import pushed_filters, read_schema

    df = queries["q6_revenue_forecast"](spark, SF_DIR)
    pushed = next(v for k, v in pushed_filters(df).items() if "lineitem" in k)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    cols = next(v for k, v in read_schema(df).items() if "lineitem" in k)
    assert cols.count(":") <= 4, cols


def test_compact_is_single_shuffle(spark):
    from aegisthus_spark.compact import compact
    from aegisthus_spark.plans import count_exchanges
    from tests.conftest import CELLS_SCHEMA

    cells = spark.createDataFrame([], CELLS_SCHEMA)
    assert count_exchanges(compact(cells)) == 1


def test_compact_snapshot_streams_one_sort_aggregate(spark, tmp_path):
    """The reference's reducer shape: decoded cells shuffle once, sort once
    by (key, name, ts), and merge in one streaming SortAggregate. No
    map-side ObjectHashAggregate (it ran inside the single decode task and
    fell back to a row-at-a-time sort past 128 keys), and no second Sort:
    the aggregate's output order satisfies compact_snapshot's in-partition
    key sort, so Spark drops that one as redundant."""
    import re
    import struct

    from aegisthus_spark.job import compact_snapshot
    from aegisthus_spark.output import to_aeg_json
    from aegisthus_spark.plans import physical_plan
    from aegisthus_spark.sstable.writer import serialize_row

    for gen in (1, 2):
        raw = bytearray()
        for i in range(40):
            cols = [
                {"name": f"c{j}".encode(), "value": b"v%d" % gen, "ts": 100 * gen + j,
                 "kind": "c", "ttl": None, "local_deletion_time": None,
                 "ts_of_last_delete": None}
                for j in range(3)
            ]
            raw += serialize_row(struct.pack(">q", i), -(1 << 63), cols, version="jb")
        (tmp_path / f"ks-t-jb-{gen}-Data.db").write_bytes(bytes(raw))
    df = to_aeg_json(compact_snapshot(spark, [str(tmp_path)]))
    assert len(df.collect()) == 40
    plan = physical_plan(df, "simple")
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"(?<!Broadcast)Exchange ", final)) == 1, final
    assert len(re.findall(r"\bSort \[", final)) == 1, final
    assert "SortAggregate" in final and "ObjectHashAggregate" not in final, final


def test_rt_storm_stays_single_compact_shuffle(spark, queries):
    """The round-9 two-tier RT dispatch adds columns inside the
    aggregated row (skyline + survivor arrays) but must NOT add an
    Exchange: decode -> compact -> render stays one hash shuffle plus
    the presentation orderBy."""
    from aegisthus_spark.plans import count_exchanges

    df = queries["sst_decode_rt_storm"](spark, SF_DIR)
    assert count_exchanges(df) <= 2  # compact hash + orderBy range


def test_q5_no_cartesian_or_nested_loop(spark, queries):
    from aegisthus_spark.plans import join_strategies

    joins = join_strategies(queries["q5_local_supplier_volume"](spark, SF_DIR))
    assert "CartesianProduct" not in joins
    assert "BroadcastNestedLoopJoin" not in joins
    assert "BroadcastHashJoin" in joins  # small dims broadcast


def test_dedup_exact_prunes_to_two_columns(spark, queries):
    from aegisthus_spark.plans import read_schema

    df = queries["dedup_exact"](spark, SF_DIR)
    cols = next(v for k, v in read_schema(df).items() if "documents" in k)
    assert cols.count(":") <= 2, cols  # doc_id + text only


#: Queries ALLOWED an unpartitioned (single-task) Window, each justified
#: by dimension-cardinality input. Anything else funneling its input
#: through one task is a fact-scale cliff and fails the sweep below.
GLOBAL_WINDOW_ALLOWLIST = {
    # post-aggregation rank over |suppliers| rows (queries.py: the
    # two-stage machinery cost a measured 2x regression in round 2)
    "q_supplier_revenue_rank",
    # cumulative sum over the O(shuffle partitions) offset table of the
    # two-stage fact-scale rank (operators/ranking.py)
    "ev_value_rank",
    # RRF rank fusion over two top-of-funnel lists (<= 2k rows by
    # construction; operators/similarity.py)
    "sim_hybrid_rrf",
    # SNM's global sort rides global_row_number: its only unpartitioned
    # window is the O(num range partitions) offset table (same documented
    # shape as ev_value_rank; operators/ranking.py module docstring)
    "dedup_sorted_neighborhood",
    # the in-plan dynamic shortlist (r15): its global rank window sees
    # only the <= partitions x shortlist survivors of a per-partition
    # top-shortlist prune — the exact row count the former literal-limit
    # TakeOrderedAndProject merged on the DRIVER (pq_topk docstring);
    # a corpus-derived LIMIT can't be a literal, so this is the
    # scale-equivalent executor-side shape
    "sim_ivfpq_refine",
}


def test_queries_stay_jvm_side(spark, queries):
    """Two invariants over EVERY registered query plan (the queries that
    decode the reference's fixtures are planned where it exists; elsewhere
    the test checks the rest and then reports itself skipped):

    - no Python UDF evaluation (multimodal stubs excepted by design —
      they are Pandas-UDF plumbing);
    - no unpartitioned Window outside the documented dimension-scale
      allowlist (a global window single-tasks its whole input — the
      round-10 verdict asked for this lint so a future fact-scale
      Window.orderBy can't slip in silently)."""
    from aegisthus_spark.plans import physical_plan, unpartitioned_windows
    from tests.conftest import HAS_REFERENCE, REFERENCE_QUERIES

    unbuilt = []
    for name, fn in queries.items():
        if name in REFERENCE_QUERIES and not HAS_REFERENCE:
            unbuilt.append(name)  # its input is the reference's fixtures
            continue
        df = fn(spark, SF_DIR)
        plan = physical_plan(df, "simple")
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} uses a scalar pandas UDF"
        if name not in GLOBAL_WINDOW_ALLOWLIST:
            globs = unpartitioned_windows(df)
            assert not globs, (
                f"{name} has an unpartitioned Window (single-task funnel "
                f"at scale): {globs[0][:200]} — partition it, use the "
                "two-stage rank (operators/ranking.py), or justify + "
                "allowlist it"
            )
    if unbuilt:
        pytest.skip(f"needs the reference repository's fixtures: {', '.join(unbuilt)}")


def test_global_window_sweep_catches_fact_scale_rank(spark):
    """Negative control: a deliberate fact-scale Window.orderBy must be
    visible to the sweep's detector."""
    from pyspark.sql import Window

    from aegisthus_spark.plans import unpartitioned_windows

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    bad = ev.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("value")))
    )
    assert unpartitioned_windows(bad), "detector missed a global window"
    ok = ev.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("value"))),
    )
    assert not unpartitioned_windows(ok), "detector false-positives on partitioned windows"

    # review finding: a global window hiding inside a SUBQUERY expression
    # is not in children() — the walk must follow subqueries() too
    ev.createOrReplaceTempView("_lint_ev")
    sneaky = spark.sql(
        "SELECT user_id, (SELECT max(rk) FROM (SELECT row_number() OVER "
        "(ORDER BY value DESC) AS rk FROM _lint_ev)) AS worst "
        "FROM _lint_ev"
    )
    assert unpartitioned_windows(sneaky), "detector missed a subquery global window"


def test_supplier_rank_uses_plain_window_on_dimension_input(spark, queries):
    """q_supplier_revenue_rank ranks POST-aggregation dimension-cardinality
    data (|suppliers| rows): the single-task Window.orderBy is the right
    plan there — the two-stage machinery cost a 2x regression in round 2.
    The window input must be the aggregated frame, not the fact table."""
    from aegisthus_spark.plans import physical_plan

    df = queries["q_supplier_revenue_rank"](spark, SF_DIR)
    plan = physical_plan(df, "formatted")
    assert "windowspecdefinition" in plan
    # no two-stage rank leftovers on this query
    assert "_pid" not in plan, plan[:1500]
    # the window consumes an aggregate, so a HashAggregate sits below it
    assert "HashAggregate" in plan


def test_fact_scale_rank_no_global_window_funnel(spark, queries):
    """ev_value_rank ranks the FACT-scale events table: it must keep the
    two-stage shape — range-partitioned sort + partition-local rank; the
    only single-partition exchange feeds the N-row offset table."""
    from aegisthus_spark.plans import physical_plan

    df = queries["ev_value_rank"](spark, SF_DIR)
    plan = physical_plan(df, "formatted")
    assert "windowspecdefinition(_pid" in plan, "rank window must be partition-local"
    # offsets cumulative-sum window is the only unpartitioned one (N rows)
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_components_plan_has_no_shingle_self_join(spark, queries):
    """dedup_components must consume LSH band-key candidates, never the raw
    shingle self-join (O(df^2) blowup on hot shingles). The only equi-joins
    on a shingle column allowed are the candidate-pair verification joins,
    which are bounded by the LSH candidate set."""
    from aegisthus_spark.operators.dedup import lsh_candidate_pairs, minhash_lsh_dedup, word_shingles
    from aegisthus_spark.plans import physical_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_lsh_dedup(docs, threshold=0.1)
    plan = physical_plan(pairs, "formatted")
    # band-key join present; a raw shingle self-join would join on [s, s]
    # with BOTH sides the full shingle table and no band/key column
    assert "band" in plan and "key" in plan, plan[:1500]


def test_knn_join_no_nested_loop(spark, queries):
    """sim_knn_join blocks candidates through ONE equi-join on bucket id;
    a nested-loop/cartesian join here is the O(n^2) cliff at scale. The
    per-vector top-k must also push a WindowGroupLimit below the rank
    shuffle (partial top-k per partition)."""
    from aegisthus_spark.plans import physical_plan

    df = queries["sim_knn_join"](spark, SF_DIR)
    plan = physical_plan(df, "formatted")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:1500]
    assert "HashJoin" in plan
    assert "WindowGroupLimit" in plan  # partial top-k before the exchange


def test_pack_sequences_no_single_task_stratum_window(spark, queries):
    """doc_pack_sequences runs the cumulative sum via the two-stage running
    sum: the data window must be partition-local (_pid in its spec); the
    only stratum-partitioned window is over the O(partitions x strata)
    offset table."""
    from aegisthus_spark.plans import physical_plan

    df = queries["doc_pack_sequences"](spark, SF_DIR)
    plan = physical_plan(df, "formatted")
    assert "windowspecdefinition(_pid" in plan, "data window must be _pid-local"
    assert plan.count("Exchange SinglePartition") == 0, plan


def test_asof_join_single_shuffle_no_join(spark, queries):
    """The as-of join must stay the union+window formulation: ONE hash
    Exchange for the key spine (plus the final presentation sort) and NO
    join operator at all — a SortMergeJoin or nested loop here means the
    formulation regressed to a range join that explodes at scale."""
    from aegisthus_spark.plans import count_exchanges, join_strategies

    df = queries["ev_asof_join"](spark, SF_DIR)
    assert join_strategies(df) == []
    assert count_exchanges(df) <= 2  # key shuffle + output orderBy range


def test_repetition_no_shuffle(spark, queries):
    """Per-row repetition signals must not shuffle (beyond the output
    sort): no groupBy, no explode-regroup."""
    from aegisthus_spark.plans import count_exchanges

    df = queries["text_repetition"](spark, SF_DIR)
    assert count_exchanges(df) <= 1  # output orderBy only


def test_sample_balanced_broadcasts_census(spark, queries):
    """The stratum census must reach the fact table as a broadcast —
    a sort-merge join here would shuffle the whole corpus by lang."""
    from aegisthus_spark.plans import join_strategies

    df = queries["doc_sample_balanced"](spark, SF_DIR)
    strategies = join_strategies(df)
    # fact-side join must be broadcast; the scalar census floor (ONE row)
    # legitimately rides a broadcast nested-loop cross join
    assert "BroadcastHashJoin" in strategies
    assert "SortMergeJoin" not in strategies
    assert "CartesianProduct" not in strategies


def test_quantized_topk_broadcasts_query_row(spark, queries):
    """The single quantized query row joins the scan as a broadcast; the
    scan itself must not shuffle (top-k is sort+limit with partial
    per-partition top-k)."""
    from aegisthus_spark.plans import join_strategies

    df = queries["sim_quantized_topk"](spark, SF_DIR)
    assert "SortMergeJoin" not in join_strategies(df)
    assert "CartesianProduct" not in join_strategies(df)


def test_interval_join_no_nested_loop(spark, queries):
    """The range join must stay the binned equi-join: a
    BroadcastNestedLoopJoin or CartesianProduct here means the
    containment predicate leaked into the join condition."""
    from aegisthus_spark.plans import join_strategies

    df = queries["ev_interval_join"](spark, SF_DIR)
    strategies = join_strategies(df)
    assert strategies, "expected an equi-join in the plan"
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "CartesianProduct" not in strategies


def test_decontaminate_broadcasts_benchmark(spark, queries):
    """The benchmark gram set must reach the corpus as a broadcast — a
    SortMergeJoin would shuffle every corpus n-gram by gram text."""
    from aegisthus_spark.plans import join_strategies

    df = queries["doc_decontaminate"](spark, SF_DIR)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "SortMergeJoin" not in strategies


def test_distinct_sketch_two_hash_aggregates_no_expand(spark, queries):
    """The sketch must stay two hash-aggregates (register min, register
    sum) with partial map-side combine — no distinct-style Expand node,
    which would defeat the point of sketching."""
    from aegisthus_spark.plans import physical_plan

    from aegisthus_spark.operators.sketch import distinct_sketch

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df = distinct_sketch(ev, ["event_type"], "user_id")
    plan = physical_plan(df, "simple")
    assert "Expand" not in plan, plan
    assert plan.lower().count("partial") >= 1, plan


def test_kmeans_assignment_is_shuffle_free_kernel(spark):
    """One k-means assignment pass must stay shuffle-free. Since r15 the
    assignment is a vectorized NumPy kernel (vectorized.assign_cells,
    guide §4.2): the plan is a single MapInArrow over the pre-projected
    (id, vec) scan — no join, no Exchange, and never a row-at-a-time
    Python UDF node (BatchEvalPython/ArrowEvalPython)."""
    from aegisthus_spark.operators.similarity import _kmeans_assign_once
    from aegisthus_spark.plans import (
        count_exchanges,
        join_strategies,
        physical_plan,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    seed = [(i, [float(x) for x in r.embedding]) for i, r in enumerate(
        emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect())]
    for k_c in (1, 3):
        df = _kmeans_assign_once(
            emb, seed, id_col="vec_id", vec_col="embedding", k_c=k_c)
        assert count_exchanges(df) == 0
        assert join_strategies(df) == []
        plan = physical_plan(df, "simple")
        assert "MapInArrow" in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_two_level_matches_flat_routing_quality(spark):
    """The two-level route is exact whenever the routed cell contains the
    true argmin — at k_c covering every centroid (k_c = k) the cells are
    singletons and routing IS the flat search, so results must be
    bit-identical to k_c = 1."""
    from aegisthus_spark.operators.similarity import _kmeans_assign_once

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(300)
    seed = [(i, [float(x) for x in r.embedding]) for i, r in enumerate(
        emb.filter(F.col("vec_id") < 6).orderBy("vec_id").collect())]
    flat = _kmeans_assign_once(
        emb, seed, id_col="vec_id", vec_col="embedding", k_c=1
    ).orderBy("vec_id").collect()
    two = _kmeans_assign_once(
        emb, seed, id_col="vec_id", vec_col="embedding", k_c=len(seed)
    ).orderBy("vec_id").collect()
    assert [(r.vec_id, r.cluster, r.d2) for r in flat] == [
        (r.vec_id, r.cluster, r.d2) for r in two]


def test_sample_weighted_partial_topk_no_global_sort(spark, queries):
    """Selection must be TakeOrdered (per-partition partial top-k merged
    on the driver), never a full Exchange+Sort of the corpus."""
    from aegisthus_spark.plans import physical_plan

    df = queries["doc_sample_weighted"](spark, SF_DIR)
    plan = physical_plan(df, "simple")
    assert "TakeOrdered" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_moving_avg_single_shuffle(spark, queries):
    """The trailing window wants exactly one hash Exchange on user_id
    (plus the output range sort) — a frame-per-row self-join would
    explode at scale."""
    from aegisthus_spark.plans import count_exchanges, join_strategies

    df = queries["ev_moving_avg"](spark, SF_DIR)
    assert join_strategies(df) == []
    assert count_exchanges(df) <= 2  # window hash + output range sort


def test_retention_single_fact_shuffle(spark, queries):
    """Retention reuses the (user, day) distinct set for both the cohort
    min and the join; no cartesian, no nested loop."""
    from aegisthus_spark.plans import join_strategies

    strategies = join_strategies(queries["ev_retention_cohorts"](spark, SF_DIR))
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_json_extract_stays_jvm_side(spark, queries):
    """from_json parses inside codegen: no Python workers in the plan."""
    from aegisthus_spark.plans import physical_plan

    plan = physical_plan(queries["ev_json_extract"](spark, SF_DIR), "simple")
    assert "Python" not in plan, plan
    assert "from_json" in plan


def test_ngram_coverage_no_pair_join(spark, queries):
    """The duplication score decides the shingle vocabulary with ONE
    shingle-partitioned count window (r16) — no doc-pair join (O(n^2) on
    hot shingles), and no join-back whose probe side re-derives the
    tokenize+explode lineage: the corpus must be scanned and exploded
    exactly once."""
    from aegisthus_spark.plans import physical_plan

    plan = physical_plan(queries["dedup_ngram_coverage"](spark, SF_DIR), "formatted")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan  # window form: no join at all
    # single evaluation: one scan, one explode (numbered-operator lines)
    import re
    ops = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert ops.count("Scan") == 1 and ops.count("Generate") == 1, ops


def test_span_queries_single_corpus_evaluation(spark, queries):
    """dup_spans/cut_spans (r16): the cross-doc vocabulary rides a
    shingle-keyed min/max window, so the positional explode is evaluated
    ONCE (the join-back form plan-verified two scans + two Generates);
    and cut_spans' intermediate span orderBy is skipped (sort=False) —
    exactly one range sort (the final orderBy) remains."""
    import re

    from aegisthus_spark.plans import physical_plan

    plan = physical_plan(queries["dedup_dup_spans"](spark, SF_DIR), "formatted")
    ops = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert ops.count("Scan") == 1 and ops.count("Generate") == 1, ops
    assert "Join" not in plan, plan

    plan = physical_plan(queries["dedup_cut_spans"](spark, SF_DIR), "formatted")
    ops = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    # cut_spans re-reads docs once to attach the removed-word sets: two
    # scans total (spans funnel + token table), two Generates (shingles +
    # widx explode), and ONE rangepartitioning (the final orderBy only)
    assert ops.count("Scan") == 2 and ops.count("Generate") == 2, ops
    assert plan.count("rangepartitioning") == 1, plan


def test_q19_disjunction_pushes_to_both_scans(spark, queries):
    """Catalyst must extract each side's projection of the OR-tree and push
    it into the parquet scan: the quantity hull to lineitem, the
    brand/size hull to part. Losing this reads the full fact table."""
    from aegisthus_spark.plans import pushed_filters

    df = queries["q19_disjunctive_pred"](spark, SF_DIR)
    pushed = pushed_filters(df)
    li = next(v for k, v in pushed.items() if "lineitem" in k)
    assert "l_quantity" in li and "Or(" in li, li
    pt = next(v for k, v in pushed.items() if "part.parquet" in k)
    assert "p_brand" in pt and "Or(" in pt, pt


def test_q21_correlations_stay_equi_joins(spark, queries):
    """EXISTS / NOT EXISTS with the supplier-inequality conjunct must plan
    as hash joins on the order-key equi condition (extra conjunct as a
    join filter) — a nested loop here is O(|lineitem|^2)."""
    from aegisthus_spark.plans import join_strategies

    strategies = join_strategies(queries["q21_waiting_supplier"](spark, SF_DIR))
    assert strategies, "expected joins"
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "CartesianProduct" not in strategies


def test_matryoshka_partial_topk_both_stages(spark, queries):
    """Both the prefix shortlist and the final re-rank must run as
    TakeOrderedAndProject (per-partition partial top-k + single small
    merge) — a global Sort here materializes the corpus ordering."""
    from aegisthus_spark.plans import physical_plan

    plan = physical_plan(queries["sim_matryoshka_rerank"](spark, SF_DIR), "simple")
    assert plan.count("TakeOrderedAndProject") == 2, plan


def test_cms_sketch_broadcasts_to_candidates(spark, queries):
    """The d*w-counter sketch must reach the candidate keys as a broadcast
    (it is fixed-size by construction); no Expand node may sneak in."""
    from aegisthus_spark.plans import join_strategies, physical_plan

    df = queries["ev_topk_cms"](spark, SF_DIR)
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "Expand" not in physical_plan(df, "simple")


def test_triangles_equi_joins_only(spark, queries):
    """Triangle enumeration must stay two equi-joins on the pair set."""
    from aegisthus_spark.plans import join_strategies

    strategies = join_strategies(queries["graph_triangles"](spark, SF_DIR))
    assert strategies, "expected joins"
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "CartesianProduct" not in strategies


@pytest.mark.parametrize("ddl", [
    # statics plus a list collection
    "CREATE TABLE t (key text, ck0 text, owner text static, name text, "
    "score bigint, tags list<text>, PRIMARY KEY (key, ck0))",
    # scalar columns only
    "CREATE TABLE t (key text, ck0 text, name text, score bigint, "
    "PRIMARY KEY (key, ck0))",
], ids=["statics_list", "scalars"])
def test_cql_export_builds_rows_inside_compacted_rows(spark, monkeypatch, ddl):
    """CQL rows come out of each compacted row, the way the reference's
    CQLMapper builds them while streaming one row's cells: compact's one
    Exchange, Sort and SortAggregate, then no second aggregate, no Window
    for the statics, and only the typed-order Sort after them."""
    import os
    import re

    from aegisthus_spark import job
    from aegisthus_spark.plans import physical_plan

    frames = []

    def capture(wide, output):
        frames.append(wide)
        raise RuntimeError("captured")

    monkeypatch.setattr(job, "write_avro", capture)
    ma = os.path.join(os.path.dirname(__file__), "fixtures", "ma")
    with pytest.raises(RuntimeError, match="captured"):
        job.export_cql(spark, [ma], ddl, "unused")
    plan = physical_plan(frames[0], "simple")
    assert len(re.findall(r"(?<!Broadcast)Exchange ", plan)) == 1, plan
    aggregates = re.findall(r"\b(\w*Aggregate)\(", plan)
    assert aggregates == ["SortAggregate"], plan
    assert "Window" not in plan, plan
    assert len(re.findall(r"\bSort \[", plan)) <= 2, plan


#: py4j commands building export_cql's frame on tests/fixtures/ma: about
#: 365 with the plan built from SQL text (about 3,340 when every Column
#: operation, Python lambda and call site was its own round trip)
EXPORT_CQL_PY4J_BOUND = 550

_MA_DDL = ("CREATE TABLE t (key text, ck0 text, owner text static, name text, "
           "score bigint, tags list<text>, PRIMARY KEY (key, ck0))")


def test_cql_export_plan_builds_in_few_py4j_calls(spark, monkeypatch):
    """Building the CQL export's plan is driver time before any task runs:
    each py4j command is a socket round trip, so the count is pinned."""
    import gc
    import os
    import threading

    from aegisthus_spark import job

    class Captured(Exception):
        pass

    def capture(wide, output):
        raise Captured

    monkeypatch.setattr(job, "write_avro", capture)
    ma = os.path.join(os.path.dirname(__file__), "fixtures", "ma")
    client = spark.sparkContext._gateway._gateway_client
    me = threading.get_ident()
    counts = []
    for _ in range(2):  # the first build also loads classes on both sides
        sent = [0]
        send = client.send_command

        def counting(command, *args, **kwargs):
            # other threads (a streaming query left by another test) share
            # the client, and releases of JVM objects ("m\nd\n") follow
            # Python object lifetimes, not the build
            sent[0] += threading.get_ident() == me and not command.startswith("m\nd\n")
            return send(command, *args, **kwargs)

        gc.collect()
        gc.disable()
        monkeypatch.setattr(client, "send_command", counting)
        try:
            with pytest.raises(Captured):
                job.export_cql(spark, [ma], _MA_DDL, "unused")
        finally:
            monkeypatch.setattr(client, "send_command", send)
            gc.enable()
        counts.append(sent[0])
    assert counts[-1] <= EXPORT_CQL_PY4J_BOUND, counts


@pytest.mark.parametrize("cql", [False, True], ids=["aeg_json", "cql_avro"])
def test_job_main_runs_two_spark_jobs(spark, tmp_path, cql):
    """The snapshot job is one pass over the inputs plus its write: two
    Spark jobs for the aeg-JSON export and for the CQL->Avro export."""
    import os

    from aegisthus_spark import job

    ma = os.path.join(os.path.dirname(__file__), "fixtures", "ma")
    argv = ["--input-dir", ma, "--output", str(tmp_path / "out")]
    if cql:
        argv += ["--cql-schema", _MA_DDL]
    sc = spark.sparkContext
    group = f"test_job_main_runs_two_spark_jobs-{cql}"
    sc.setJobGroup(group, group)
    try:
        job.main(argv)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
