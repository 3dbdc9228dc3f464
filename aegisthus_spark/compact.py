"""compact() — the compaction transform.

Reproduces the semantics of the reference's reduce phase
(aegisthus-hadoop/src/main/java/com/netflix/aegisthus/mapreduce/CassSSTableReducer.java):

- A2 row-deletion fold:    deleted_at = max(row_deleted_at) per partition key
  (CassSSTableReducer.java:85-87).
- J2 range tombstones:     a cell is dropped when some range tombstone of the
  same partition covers its name (min <= name <= max in comparator order)
  with rt.ts >= cell.ts (CassSSTableReducer.java:142,148-153 via Cassandra's
  RangeTombstone.Tracker).
- A1 last-write-wins:      per (key, name) the strictly-greater timestamp
  wins (CassSSTableReducer.java:154-163). On timestamp ties the reference's
  winner is shuffle-order dependent; we use Cassandra's own deterministic
  rule instead: tombstone beats live, then greater value bytes win, and
  any remaining tie falls through to the rest of the merge struct (kind,
  ttl, deletion times) in ascending field order — a TOTAL order, so
  equal-timestamp duplicates resolve identically under any partitioning.
- P2' row-shadow filter:   surviving cells with ts <= deleted_at are removed
  after LWW (CassSSTableReducer.java:183-191). Cell tombstones (kind 'd')
  are NOT removed here — they survive compaction and are only dropped by
  the downstream cleanse (the Pig loader layer, AegisthusLoader.java:75-90).
- P7 empty-row keep:       a partition whose cells were all deleted still
  emits (key, deleted_at, []) (CassSSTableReducer.java:101-103).
- P3 max row size:         optional guard that truncates oversized rows in
  merge order and flags them (CassSSTableReducer.java:89-96).
- A3 row re-assembly:      surviving cells comparator-sorted into one array
  (CassSSTableReducer.java:173-192).

Scale design: the reference's reducer shape — one shuffle, one sort, one
streaming merge. Every raw cell moves through ONE Exchange on the grouping
keys (the reference's identity mapper does the same), each reduce partition
sorts once by (key, name sort key, ts), and one SortAggregate folds each
key's run of cells. The session's ``replaceHashWithSortAgg`` rule
(session.get_spark) picks the SortAggregate because its input already
arrives sorted on the grouping keys; its output order then satisfies
compact_snapshot's in-partition key sort, which Spark drops as redundant.
All merge logic runs in JVM-side higher-order functions (filter/aggregate/
transform lambdas) — no Python in the hot path, no second shuffle for LWW,
no join for range tombstones. The aggregate and the two projections after
it (RT-filtered cells with the wide-row guard, then LWW/shadow/strip) are
SQL text, so the plan builds in a few py4j calls rather than one per Column
operation. ``sort_array`` stays on the collected lists,
so correctness never depends on collect order; over pre-sorted lists it is
a linear pass. Memory per group is bounded by the row size exactly as in
the reference's reducer (which also holds one row's surviving cells); the
maxRowSize guard covers pathological wide rows, and the sort spills.

The former plan was a hash aggregate: a partial ObjectHashAggregate ran
inside the decode tasks — ONE task when decode plans one split — where
~12k keys overran its 128-key sort-based fallback threshold, so it sorted
row at a time anyway, then shipped partial lists to a final aggregate and
a separate output sort. Measured with perfbench/run.py on 4 cores, 10
alternating pairs: merge_json job_s median 3.37 -> 2.51 s (-26%, faster in
10/10 pairs), cpu_s 7.77 -> 6.54 s, peak RSS 2622 -> 2188 MB; a traced run
(seed 5) puts the saving in compact: self time 2.38 -> 1.17 s, shuffle
23.1 -> 21.6 MB. priam_cql_avro (20 pairs): compact self time 1.42 ->
0.73 s traced, but job_s is unresolved — median 3.48 -> 3.57 s against a
1.17 s quartile spread — and cpu_s (+6%) and peak RSS (+4%) medians rose.

Rejected (measured, no gain or a cost elsewhere): more decode splits (same
job time, +1.9 s CPU; an empty Python task costs 0.13-0.5 s), raising the
fallback threshold, ``repartition`` without the sort, a reduce width equal
to the core count, and disabling ``useObjectHashAggregateExec`` session-wide
(same gain, but it re-plans every ``collect_list`` query in the registry).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LONG_MIN = -(1 << 63)

#: canonical cell-stream schema (FIXTURES.md §1); produced by the SSTable
#: source and accepted by compact().
CELLS_COLUMNS = [
    "source_path",
    "generation",
    "partition_key",
    "row_deleted_at",
    "kind",
    "cell_name",
    "cell_name_max",
    "value",
    "ts",
    "ttl",
    "local_deletion_time",
    "ts_of_last_delete",
]


def _resolve_sort_keys(cells: DataFrame, name_sort_key, name_max_sort_key):
    """Shared comparator plumbing for compact()/compact_salted().

    Returns (cells, sort_key, max_sort_key, raw_names), the keys as column
    names. Corrupt-file sentinels ('!', null key) are filtered — they must
    never form a merge group. Custom sort keys may be Python UDFs, which
    cannot be evaluated inside aggregate expressions, so they materialize
    as projections first; a caller's Column enters the plan only there.
    """
    cells = cells.filter("partition_key IS NOT NULL")
    if name_sort_key is not None and not isinstance(name_sort_key, Column):
        # callable form: derive both bound encodings from one definition
        name_max_sort_key = name_sort_key(F.col("cell_name_max"))
        name_sort_key = name_sort_key(F.col("cell_name"))
    if name_sort_key is None:
        return cells, "cell_name", "cell_name_max", True
    if name_max_sort_key is None:
        # raw max bytes don't compare against an encoded min/cell key;
        # only safe when the input carries no range tombstones
        return cells.withColumn("_name_sk", name_sort_key), "_name_sk", "cell_name_max", False
    # ONE withColumns call: each withColumn is a full JVM plan rebuild, and
    # these sort-key trees are huge (r15 profile: two sequential rebuilds
    # cost ~0.8 s of driver latency)
    cells = cells.withColumns({"_name_sk": name_sort_key, "_name_max_sk": name_max_sort_key})
    return cells, "_name_sk", "_name_max_sk", False


def _cell_struct(sort_key: str, raw_names: bool) -> str:
    """SQL text: the per-cell merge struct. Leading fields define the merge
    sort order — (name sort key, ts, tombstone-rank, value) ascending, so
    the last struct per name group is the LWW winner under Cassandra's tie
    rule. For byte-ordered comparators the sort key IS the raw name;
    carrying both would double the name bytes held in the aggregation
    buffer, so raw mode stores only ``sk``."""
    name_field = "" if raw_names else "cell_name AS name, "
    return (
        f"struct({sort_key} AS sk, ts AS ts, CASE WHEN kind = 'd' THEN 1 ELSE 0 END AS rank, "
        f"value AS value, {name_field}kind AS kind, cast(ttl as int) AS ttl, "
        "cast(local_deletion_time as int) AS local_deletion_time, "
        "cast(ts_of_last_delete as bigint) AS ts_of_last_delete)"
    )


#: SQL text: kind tests of the raw cell stream
_IS_CELL = "kind IN ('c', 'd', 'e', 'x')"
_IS_RT = "kind = 't'"

#: SQL text: A2 row-deletion fold
_DELETED_AT = f"max(coalesce(row_deleted_at, cast({LONG_MIN} as bigint)))"


def _kept_count(cells_arr: str, name_of: str, max_row_size: int) -> str:
    """SQL text: P3 wide-row guard over ``cells_arr`` — the length of the
    longest prefix whose accumulated serialized size fits; the row is
    flagged when it is shorter than the array (reference:
    CassSSTableReducer.java:89-96). Size model per cell: len(name) +
    len(value) + 15 bytes framing, +8 for expiring/counter atoms (close to
    OnDiskAtom.serializedSizeForSSTable). The fold carries only (size,
    count, stopped) scalars and the kept prefix comes from one slice() —
    an array_append fold would copy the growing array per cell, O(n^2) on
    pathological wide rows."""
    csize = (
        f"(length(coalesce({name_of}, x'')) + length(coalesce(x.value, x'')) + 15"
        " + if(x.kind in ('e', 'x'), 8, 0))"
    )
    return (
        f"aggregate({cells_arr}, "
        "struct(cast(0 as long) as sz, cast(0 as int) as k, false as stop), "
        f"(acc, x) -> if(acc.stop OR acc.sz + {csize} > {int(max_row_size)}, "
        "struct(acc.sz as sz, acc.k as k, true as stop), "
        f"struct(acc.sz + {csize} as sz, acc.k + 1 as k, false as stop)), "
        "acc -> acc.k)"
    )


def _guarded(cells_arr: str, name_of: str, max_row_size: int | None, body) -> str:
    """SQL text: ``body(kept, too_big)`` over the P3-truncated ``cells_arr``
    — the raw stream itself and ``false`` when ``max_row_size`` is None.
    The kept count binds once as a lambda variable (SQL has no let)."""
    if max_row_size is None:
        return body(cells_arr, "false")
    return (
        f"element_at(transform(array({_kept_count(cells_arr, name_of, max_row_size)}), "
        f"__k -> {body(f'slice({cells_arr}, 1, __k)', f'__k < size({cells_arr})')}), 1)"
    )


def _lww(cells_arr: str) -> str:
    """SQL text, A1 LWW: cells sorted asc by (sk, ts, rank, value); keep the
    LAST of each sk-group (strictly-newer ts wins; ties -> tombstone, then
    greater value — a deterministic superset of the reference's rule)."""
    return f"filter({cells_arr}, (x, i) -> i = size({cells_arr}) - 1 OR x.sk != {cells_arr}[i + 1].sk)"


#: RT-count threshold for the per-cell exists() probe. Below it the
#: probe's O(cells x RTs) with a ~1us interpreted-lambda constant beats
#: the skyline path's fixed ~20-step binary search per cell; realistic
#: partitions carry a handful of RTs, so the probe is the common tier.
_RT_PROBE_MAX = 64

#: unrolled binary-search depth: 21 halvings converge for up to 2^21 - 1
#: segments, so the dispatcher admits at most (2^21 - 2) / 2 RTs (each
#: RT contributes 2 segments); beyond that it falls back to the probe
#: rather than mis-converge (review-caught off-by-one: at exactly 2^20
#: RTs = 2^21 segments the upper bound lands one short)
_RT_BS_STEPS = 21
_RT_SKYLINE_MAX = (1 << 20) - 1


def _rt_probe(cells_arr: str, rts_arr: str, rt_min: str, rt_max: str) -> str:
    """Per-cell coverage probe — O(cells x RTs), the right plan for the
    common few-RTs partition."""
    return (
        f"filter({cells_arr}, x -> NOT exists({rts_arr}, r -> "
        f"r.{rt_min} <= x.sk AND x.sk <= r.{rt_max} AND r.ts >= x.ts))"
    )


def _rt_skyline(rts_arr: str, rt_min: str, rt_max: str) -> str:
    """RTs -> 'skyline' segments: array<struct<sk, side, t>> sorted by
    boundary position, where ``t`` is the MAX deletion ts active from
    that boundary until the next (LONG_MIN when none). Boundary order is
    (sk, side): a start at key k (side 0) applies to a cell AT k, an end
    at k (side 1) stops applying strictly AFTER k — both bounds
    inclusive, exactly the probe's rule.

    One fold over the 2R sorted start/end events. State: the ACTIVE
    tombstones as a dominance-pruned antichain sorted (max asc -> ts
    strictly desc) — an active RT whose (max, ts) are both <= another's
    can never matter, so realistic shapes keep the antichain at size
    ~1-2 and the build is ~O(R log R); the current max ts is always the
    antichain head. Mirrors the reference's streaming tracker
    (CassSSTableReducer.java:142-153) applied to bounds only."""
    ev = (
        "array_sort(concat("
        f"transform({rts_arr}, r -> struct(r.{rt_min} as sk, 0 as side, r.{rt_max} as m, r.ts as t)), "
        f"transform({rts_arr}, r -> struct(r.{rt_max} as sk, 1 as side, r.{rt_max} as m, r.ts as t))))"
    )
    # expiry at a start keeps m == sk active (inclusive max); at an end
    # it drops m <= sk (the ending RT itself included)
    start_ac = (
        "if(exists(filter(s.ac, a -> a.m >= e.sk), a -> a.m >= e.m AND a.t >= e.t), "
        "filter(s.ac, a -> a.m >= e.sk), "
        "array_sort(array_append(filter(s.ac, a -> a.m >= e.sk "
        "AND NOT (a.m <= e.m AND a.t <= e.t)), struct(e.m as m, e.t as t))))"
    )
    end_ac = "filter(s.ac, a -> a.m > e.sk)"
    seed_ac = f"transform(slice({rts_arr}, 1, 0), r -> struct(r.{rt_max} as m, r.ts as t))"
    seed_segs = (
        f"transform(slice({rts_arr}, 1, 0), "
        f"r -> struct(r.{rt_min} as sk, 0 as side, cast({LONG_MIN} as long) as t))"
    )
    maxt = f"coalesce(try_element_at(ac2, 1).t, cast({LONG_MIN} as long))"
    return (
        f"aggregate({ev}, "
        f"struct({seed_ac} as ac, {seed_segs} as segs), "
        "(s, e) -> "
        # bind the updated antichain once per event via a 1-element
        # transform (SQL lambdas have no let); segment count is <= 2R
        f"element_at(transform(array(if(e.side = 0, {start_ac}, {end_ac})), "
        "ac2 -> struct(ac2 as ac, "
        f"array_append(s.segs, struct(e.sk as sk, e.side as side, {maxt} as t)) as segs)), 1), "
        "s -> s.segs)"
    )


def _rt_binsearch_filter(cells_arr: str, segs_col: str) -> str:
    """filter(cells) dropping covered cells, looking each cell's key up
    in the skyline with an unrolled upper-bound binary search
    (_RT_BS_STEPS fixed halvings; the dispatcher bounds the segment
    count). Segment applies to cell k iff (seg.sk, seg.side) <= (k, 0):
    upper_bound returns the count lo of such segments; segment lo (1-
    based) is the one in effect."""
    le = "(q.sk < x.sk OR (q.sk = x.sk AND q.side = 0))"
    step = (
        "if(b.lo < b.hi, "
        f"if(element_at(transform(array(element_at({segs_col}, "
        f"cast((b.lo + b.hi + 1) / 2 as int))), q -> {le}), 1), "
        f"struct(cast((b.lo + b.hi + 1) / 2 as int) as lo, b.hi as hi), "
        f"struct(b.lo as lo, cast((b.lo + b.hi + 1) / 2 as int) - 1 as hi)), b)"
    )
    lo = (
        f"aggregate(sequence(1, {_RT_BS_STEPS}), "
        f"struct(0 as lo, size({segs_col}) as hi), (b, _i) -> {step}, b -> b.lo)"
    )
    # lo = 0 means no applicable segment; try_element_at throws on a
    # LITERAL-invalid index 0, so route it through a null index (the
    # transform-array binds lo once instead of re-running the search)
    covered = (
        f"element_at(transform(array({lo}), l -> coalesce("
        f"try_element_at({segs_col}, if(l = 0, null, l)).t >= x.ts, false)), 1)"
    )
    return f"filter({cells_arr}, x -> NOT {covered})"


def _rt_filter(
    cells_arr: str, rts_arr: str, rt_min: str, rt_max: str, *, probe_max: int | None = None
) -> str:
    """SQL text, J2: drop cells covered by a range tombstone with rt.ts >=
    cell.ts, dispatching PER ROW: the O(C x R) probe for the common few-RT
    partition, the skyline + per-cell binary search — O(R log R + C log R)
    — when a partition carries more than ``probe_max`` RTs (the
    pre-round-9 probe was quadratic for a pathological 10^4-RT
    partition). Both tiers implement the identical inclusive-bounds
    rule and preserve cell order (tests/test_rt_sweep.py proves
    equivalence on adversarial inputs). ``cells_arr`` entries expose the
    comparison key as ``sk``/``ts``; both arrays must be null-free."""
    pm = _RT_PROBE_MAX if probe_max is None else probe_max
    use_sky = f"(size({rts_arr}) > {pm} AND size({rts_arr}) <= {_RT_SKYLINE_MAX})"
    # the skyline binds ONCE per row as a lambda variable (computed only
    # on rows the dispatcher routes to this tier); a helper column would
    # cost an extra Project layer in every compact plan
    sky = (
        f"element_at(transform(array({_rt_skyline(rts_arr, rt_min, rt_max)}), "
        f"__segs -> {_rt_binsearch_filter(cells_arr, '__segs')}), 1)"
    )
    return f"if({use_sky}, {sky}, {_rt_probe(cells_arr, rts_arr, rt_min, rt_max)})"


def _apply_rts(
    df: DataFrame,
    cells_arr: str,
    rts_arr: str,
    rt_min: str,
    rt_max: str,
    out_col: str,
    *,
    probe_max: int | None = None,
) -> DataFrame:
    """``df`` with :func:`_rt_filter`'s result as ``out_col``."""
    return df.withColumn(
        out_col, F.expr(_rt_filter(cells_arr, rts_arr, rt_min, rt_max, probe_max=probe_max))
    )


def compact(
    cells: DataFrame,
    *,
    name_sort_key=None,
    name_max_sort_key=None,
    max_row_size: int | None = None,
    group_by_source: bool = False,
    keep_range_tombstones: bool = False,
) -> DataFrame:
    """cells -> compacted rows (partition_key, deleted_at, columns, row_too_big).

    ``name_sort_key``: optional encoding of the configured comparator order
    (types.Comparator.sort_key); defaults to raw ``cell_name`` bytes, which
    is correct for BytesType / UTF8Type / AsciiType comparators. Accepts
    either a callable ``Column -> Column`` — applied to BOTH ``cell_name``
    and ``cell_name_max`` so range-tombstone bounds compare in the same
    encoding — or a pre-built Column over ``cell_name``, in which case
    ``name_max_sort_key`` (the same encoding of ``cell_name_max``) is
    required whenever range tombstones may be present.

    ``group_by_source``: trace mode — group by (key, source_path) instead of
    key alone, mirroring the reference's grouping comparator when source
    tracing is on (AegisthusKeyGroupingComparator.java:6-18).

    ``keep_range_tombstones``: carry surviving range tombstones in the output
    as ``kind='t'`` column entries (name = min bound, value = max bound),
    appended after the cells. The reference's reducer drops RTs after
    applying them (CassSSTableReducer.java:173-192) — correct for one-shot
    snapshots, but an incremental merge then resurrects late-arriving cells
    older than an already-applied RT. Streaming snapshots set this flag and
    ``rows_to_cells`` turns the entries back into RT records.
    """
    cells, sort_key, max_sort_key, raw_names = _resolve_sort_keys(
        cells, name_sort_key, name_max_sort_key
    )
    rt_raw_fields = "" if raw_names else ", cell_name AS name, cell_name_max AS max_raw"
    rt_struct = (
        f"struct({sort_key} AS min_sk, {max_sort_key} AS max_sk, ts AS ts"
        # raw bounds, only needed to re-emit surviving RTs
        f"{rt_raw_fields})"
    )
    name_of = "x.sk" if raw_names else "x.name"
    rt_min_of = "r.min_sk" if raw_names else "r.name"
    rt_max_of = "r.max_sk" if raw_names else "r.max_raw"

    keys = ["partition_key", "source_path"] if group_by_source else ["partition_key"]

    # shuffle raw cells, sort once: the aggregate below then streams as one
    # SortAggregate (see the module docstring); sort_array keeps the result
    # independent of collect order. collect_list skips the NULLs the CASE
    # leaves for the other kind, so both lists come out null-free
    cells = cells.repartition(*keys).sortWithinPartitions(*keys, sort_key, "ts")
    grouped = cells.groupBy(*keys).agg(
        F.expr(f"{_DELETED_AT} AS deleted_at"),
        F.expr(
            f"sort_array(collect_list(CASE WHEN {_IS_CELL} "
            f"THEN {_cell_struct(sort_key, raw_names)} END)) AS cells"
        ),
        F.expr(f"collect_list(CASE WHEN {_IS_RT} THEN {rt_struct} END) AS rts"),
    )

    # P3 truncates the RAW merge-order stream (duplicates and RT-covered
    # cells consume budget before dedup), exactly like the reference
    # reducer; J2 then drops cells covered by a range tombstone with rt.ts
    # >= cell.ts. Both bounds and the cell key are in the SAME encoding:
    # raw bytes for byte-ordered comparators, else the caller's sort key
    # applied to cell_name AND cell_name_max above
    def first(kept: str, too_big: str) -> str:
        c1 = _rt_filter(kept, "rts", "min_sk", "max_sk")
        return f"struct({c1} AS c1, {too_big} AS row_too_big)"

    out = grouped.selectExpr(
        *keys, "deleted_at", "rts", f"{_guarded('cells', name_of, max_row_size, first)} AS m"
    )
    # A1 LWW, then P2' drops cells shadowed by the row tombstone
    # (ts <= deleted_at), then A3 strips the merge bookkeeping fields.
    # Each stage reads its input once, so they nest in one expression
    survivors = f"filter({_lww('m.c1')}, x -> x.ts > deleted_at)"
    columns = (
        f"transform({survivors}, x -> struct({name_of} as name, x.value as value, x.ts as ts, "
        "x.kind as kind, x.ttl as ttl, x.local_deletion_time as local_deletion_time, "
        "x.ts_of_last_delete as ts_of_last_delete))"
    )
    if keep_range_tombstones:
        # surviving RTs (not shadowed by the row tombstone), deduplicated,
        # appended after the cells as kind='t' entries (min in name, max in
        # value — the columns struct has no extra binary slot)
        rt_cols = (
            "transform(array_sort(array_distinct(filter(rts, r -> r.ts > deleted_at))), "
            f"r -> struct({rt_min_of} as name, {rt_max_of} as value, r.ts as ts, 't' as kind, "
            "cast(null as int) as ttl, cast(null as int) as local_deletion_time, "
            "cast(null as long) as ts_of_last_delete))"
        )
        columns = f"concat({columns}, {rt_cols})"
    return out.selectExpr(*keys, "deleted_at", f"{columns} AS columns", "m.row_too_big AS row_too_big")


def merge_compacted(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two compacted-row DataFrames (same key space) into one.

    Pairwise row merge via a full outer join on ``partition_key``: columns
    arrays are concatenated, re-sorted, LWW'd per name with the same tie
    rule as :func:`compact`, and re-shadowed under the folded row deletion.

    Range-tombstone entries (``kind='t'``, produced by
    ``compact(keep_range_tombstones=True)``) are honored: cells covered by
    an RT from either side with ``rt.ts >= cell.ts`` are dropped, and the
    surviving RTs are re-emitted (so a cell arriving N merges later is
    still shadowed). Bounds compare as raw bytes — byte-ordered comparators
    (the snapshot pipeline's contract).

    This is the incremental-snapshot fast path: when ``a`` is a snapshot
    stored bucketed by ``partition_key`` (with matching bucket count), only
    ``b`` — the new batch — shuffles; the snapshot side reads in place.
    """
    def _flag(df):
        return (
            F.col("row_too_big") if "row_too_big" in df.columns else F.lit(False)
        )

    an = a.select(
        F.col("partition_key"),
        F.col("deleted_at").alias("da_a"),
        F.col("columns").alias("cols_a"),
        _flag(a).alias("rtb_a"),
    )
    bn = b.select(
        F.col("partition_key"),
        F.col("deleted_at").alias("da_b"),
        F.col("columns").alias("cols_b"),
        _flag(b).alias("rtb_b"),
    )
    j = an.join(bn, "partition_key", "full_outer").select(
        "partition_key",
        F.greatest(
            F.coalesce("da_a", F.lit(LONG_MIN)), F.coalesce("da_b", F.lit(LONG_MIN))
        ).alias("deleted_at"),
        F.expr(
            "concat(coalesce(cols_a, array()), coalesce(cols_b, array()))"
        ).alias("all_cols"),
        # a row truncated in an EARLIER compact stays flagged through every
        # later merge — hardcoding False here would launder lossy rows
        (F.coalesce("rtb_a", F.lit(False)) | F.coalesce("rtb_b", F.lit(False)))
        .alias("row_too_big"),
    )
    # split RT entries out, decorate+sort the live cells FIRST (the
    # sorted-merge RT sweep needs name order), apply RT coverage, then
    # LWW/shadow the survivors exactly as compact() does
    rts = "filter(all_cols, x -> x.kind = 't')"
    decorated = (
        "array_sort(transform(filter(all_cols, x -> x.kind != 't'), "
        "x -> struct("
        "x.name as sk, x.ts as ts, if(x.kind = 'd', 1, 0) as rank, "
        "x.value as value, x as c)))"
    )
    shadow = "filter(d2, x -> x.ts > deleted_at)"
    kept_rts = "array_sort(array_distinct(filter(rts, r -> r.ts > deleted_at)))"
    return (
        _apply_rts(
            j.withColumn("rts", F.expr(rts)).withColumn("d0", F.expr(decorated)),
            "d0", "rts", "name", "value", "d1",
        )
        .withColumn("d2", F.expr(_lww("d1")))
        .withColumn("d3", F.expr(shadow))
        .withColumn("columns", F.expr(f"concat(transform(d3, x -> x.c), {kept_rts})"))
        .select("partition_key", "deleted_at", "columns", "row_too_big")
    )


def cleanse(compacted: DataFrame, *, drop_empty_rows: bool = True) -> DataFrame:
    """P2 — the Pig-layer cleanse (reference: AegisthusLoader.java:75-90,119-129).

    Drops cell tombstones (kind 'd') and — defensively, as the reference does
    — cells shadowed by the row tombstone; optionally drops rows left empty.

    The empty-row filter rides an ``explode(array(...))`` (a 1:1 Generate)
    rather than a plain withColumn + filter: Catalyst's predicate pushdown
    substitutes a filter on a projected alias with the alias's FULL
    expression below the Project, so ``size(columns) > 0`` over compact's
    chained higher-order functions re-evaluated the entire per-row merge
    pipeline a second time inside the pushed Filter (measured 2x wall at
    sf10, plan growing 7k -> 20k chars; the r13 sf10 ladder's
    aeg_json_roundtrip row). Generator output attributes are not aliases,
    so the chain is evaluated exactly once and the size test reads the
    materialized array.
    """
    kept = "filter(columns, x -> x.kind != 'd' AND x.ts > deleted_at)"
    if not drop_empty_rows:
        return compacted.withColumn("columns", F.expr(kept))
    passthrough = [c for c in compacted.columns if c != "columns"]
    return (
        compacted.select(
            *passthrough, F.explode(F.array(F.expr(kept))).alias("columns")
        )
        .filter(F.size("columns") > 0)
        # restore the input's column order: the explode appends 'columns'
        # last, which would misalign positional consumers (ADVICE r13)
        .select(*compacted.columns)
    )


def compacted_to_cells(compacted: DataFrame) -> DataFrame:
    """Explode compacted rows back to one-cell-per-row (test/oracle helper)."""
    return compacted.select(
        "partition_key",
        "deleted_at",
        F.explode_outer("columns").alias("col"),
    ).select(
        "partition_key",
        "deleted_at",
        F.col("col.name").alias("cell_name"),
        F.col("col.value").alias("value"),
        F.col("col.ts").alias("ts"),
        F.col("col.kind").alias("kind"),
    )


def compact_salted(
    cells: DataFrame,
    *,
    buckets: int = 16,
    name_sort_key=None,
    name_max_sort_key=None,
    max_row_size: int | None = None,
) -> DataFrame:
    """Skew-safe two-stage compact for pathological (giant) partitions.

    ``compact()`` holds one partition's surviving cells in a single
    aggregation group — the same bound as the reference's streaming reducer,
    and the wide-row guard truncates true monsters. When a deployment must
    fully merge multi-GB partitions instead, salt the FIRST stage by a hash
    of the cell name: every duplicate of a name lands in the same
    ``(key, bucket)`` group (the salt is content-derived, not random), so
    LWW resolves completely inside buckets and names never collide across
    them. Range tombstones are replicated to every bucket of their key (they
    must see all names); the row-deletion fold and the row-shadow filter
    move to the second stage, which only merges the B pre-deduplicated
    survivor arrays per key.

    ``name_sort_key`` / ``name_max_sort_key``: typed-comparator encodings,
    the same contract as :func:`compact` — callable applied to both bounds,
    or a pre-built Column over ``cell_name`` plus ``name_max_sort_key`` for
    the RT max bound. With a typed comparator, bucketing hashes the
    COMPUTED sort key (not the raw bytes): LWW dedup compares sort keys, so
    two raw names with equal sort keys (a non-injective encoding) must land
    in the same bucket or stage 2 would keep both where :func:`compact`
    keeps one. Raw-name mode hashes the name itself (identity encoding).

    Cost: two Exchanges instead of one. Use for skew, not as the default.
    Without ``max_row_size`` the semantics equal ``compact()`` exactly
    (asserted by tests on every golden fixture, typed and raw).

    ``max_row_size`` caveat: ``compact()`` (like the reference reducer,
    CassSSTableReducer.java:89-96) truncates the RAW merge-order stream —
    duplicates and RT-covered cells consume budget before dedup. Computing
    that global raw prefix here would require re-centralizing every
    duplicate per key, which is exactly the skew this operator exists to
    avoid; the salted guard therefore truncates the POST-merge survivor
    stream (comparator order, same size model). Output rows are bounded
    either way, but the kept prefix and the ``row_too_big`` flag can differ
    from ``compact()`` when duplicates or covered cells exist — so
    ``max_row_size`` is excluded from the equality contract.
    """
    cells, sort_key, max_sort_key, raw_names = _resolve_sort_keys(
        cells, name_sort_key, name_max_sort_key
    )
    is_cell = F.expr(_IS_CELL)
    is_rt = F.expr(_IS_RT)

    # hash what dedup compares: the sort key under a typed comparator
    bucket = F.when(
        is_cell, F.pmod(F.xxhash64(F.col(sort_key)), F.lit(buckets)).cast("int")
    ).otherwise(F.lit(0))
    salted = cells.withColumn("_b", bucket)
    # RTs must see every name: replicate them into all buckets of their key
    rts_everywhere = (
        salted.filter(is_rt)
        .drop("_b")
        .crossJoin(F.broadcast(
            cells.sparkSession.range(buckets).select(F.col("id").cast("int").alias("_b"))
        ))
    )
    salted = salted.filter(~is_rt).unionByName(rts_everywhere)

    rt_struct = f"struct({sort_key} AS min_sk, {max_sort_key} AS max_sk, ts AS ts)"
    # collect_list skips the NULLs the CASE leaves for the other kind
    stage1 = salted.groupBy("partition_key", "_b").agg(
        F.expr(f"{_DELETED_AT} AS da_b"),
        F.expr(
            f"sort_array(collect_list(CASE WHEN {_IS_CELL} "
            f"THEN {_cell_struct(sort_key, raw_names)} END)) AS cells"
        ),
        F.expr(f"collect_list(CASE WHEN {_IS_RT} THEN {rt_struct} END) AS rts"),
    ).selectExpr(
        "partition_key", "da_b", f"{_rt_filter('cells', 'rts', 'min_sk', 'max_sk')} AS c1"
    ).selectExpr("partition_key", "da_b", f"{_lww('c1')} AS bucket_cols")

    # stage 2: merge the B pre-deduplicated arrays; names are disjoint
    # across buckets, so concatenation + one sort restores comparator order
    merged = stage1.groupBy("partition_key").agg(
        F.max("da_b").alias("deleted_at"),
        F.array_sort(F.flatten(F.collect_list("bucket_cols"))).alias("cells"),
    )

    name_of = "x.sk" if raw_names else "x.name"

    # survivor-stream truncation — see the docstring caveat; same size
    # model and fold as compact()'s raw-stream guard
    def strip(kept: str, too_big: str) -> str:
        return (
            f"struct(transform(filter({kept}, x -> x.ts > deleted_at), "
            f"x -> struct({name_of} as name, x.value as value, x.ts as ts, "
            "x.kind as kind, x.ttl as ttl, x.local_deletion_time as local_deletion_time, "
            f"x.ts_of_last_delete as ts_of_last_delete)) AS columns, {too_big} AS row_too_big)"
        )

    return merged.selectExpr(
        "partition_key", "deleted_at", f"{_guarded('cells', name_of, max_row_size, strip)} AS m"
    ).selectExpr("partition_key", "deleted_at", "m.columns AS columns", "m.row_too_big AS row_too_big")
