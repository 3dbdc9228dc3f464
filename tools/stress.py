"""Repeatable scale stress benchmarks (not part of the driver bench gate).

    python tools/stress.py [--rows 400000] [--cpus 8]

Reports:
- single-core decode throughput (mmap tight loop, tuples)
- distributed read throughput (mapInArrow source, index-aligned splits)
- compact() throughput on cells derived from lineitem sf0.1
- wide-row guard wall time (2M cells in one partition, truncation must be
  linear — the regression that once made this hang)
"""

from __future__ import annotations

import argparse
import mmap
import os
import struct
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_sstable(d: str, rows: int, gen: int = 1) -> str:
    from aegisthus_spark.sstable.writer import serialize_row

    path = os.path.join(d, f"ks-t-jb-{gen}-Data.db")
    index = bytearray()
    with open(path, "wb") as f:
        for i in range(rows):
            key = struct.pack(">q", i)
            index += struct.pack(">H", len(key)) + key + struct.pack(">q", f.tell())
            index += struct.pack(">i", 0)
            cols = [
                {"name": f"col{j}".encode(), "value": b"x" * 80, "ts": 1000 + j,
                 "kind": "c", "ttl": None, "local_deletion_time": None,
                 "ts_of_last_delete": None}
                for j in range(5)
            ]
            f.write(serialize_row(key, -(1 << 63), cols, version="jb"))
    with open(path.replace("-Data.db", "-Index.db"), "wb") as f:
        f.write(bytes(index))
    return path


def make_sstable_ma(d: str, rows: int, gen: int = 1) -> str:
    """A dense ma-format table: ``rows`` partitions x 5 cells of 80 bytes,
    written incrementally (the dict-based writer API would hold the whole
    table in memory; this streams partitions straight to disk)."""
    from aegisthus_spark.sstable.modern import (
        SerializationHeader, TTL_EPOCH, vint_len, write_unsigned_vint,
    )
    from aegisthus_spark.sstable.modern_writer import (
        UTF8, serialize_partition, write_statistics_db,
    )

    os.makedirs(d, exist_ok=True)
    h = SerializationHeader(
        min_timestamp=1_600_000_000_000_000,
        min_local_deletion_time=1_600_000_000,
        min_ttl=TTL_EPOCH,
        key_type=UTF8,
        clustering_types=(UTF8,),
        static_columns=(),
        regular_columns=tuple((f"col{j}".encode(), UTF8) for j in range(5)),
    )
    path = os.path.join(d, f"ma-{gen}-big-Data.db")
    index = bytearray()
    with open(path, "wb") as f:
        for i in range(rows):
            key = struct.pack(">q", i)
            index += struct.pack(">H", len(key)) + key
            index += write_unsigned_vint(f.tell()) + write_unsigned_vint(0)
            part = {"key": key, "rows": [
                {"clustering": [b"c1"],
                 "liveness": (1_600_000_000_000_000 + i,),
                 "cells": [{"column": f"col{j}".encode(), "value": b"x" * 80}
                           for j in range(5)]},
            ]}
            f.write(serialize_partition(h, part))
    with open(path.replace("-Data.db", "-Index.db"), "wb") as f:
        f.write(bytes(index))
    write_statistics_db(path.replace("-Data.db", "-Statistics.db"), h)
    _ = vint_len
    return path


def decode_ma_bench(cpus: int, rows: int, files: int) -> None:
    """Distributed 3.x decode throughput: direct mapInArrow read (C
    scanner in the workers) and the staged-parquet crossover — the ma
    twin of the default 2.x decode stress."""
    import tempfile
    import time

    from aegisthus_spark.session import get_spark
    from aegisthus_spark.sources import read_sstable_cells

    d = tempfile.mkdtemp(prefix="stress_ma_")
    for g in range(1, files + 1):
        make_sstable_ma(os.path.join(d, f"g{g}"), rows, gen=g)
    sz = os.path.getsize(os.path.join(d, "g1", "ma-1-big-Data.db"))
    total_sz = sz * files
    print(f"synthetic ma sstables: {files} x {sz / 1e6:.0f} MB "
          f"({total_sz / 1e9:.2f} GB total), {rows} partitions x 6 cells")

    spark = get_spark("stress-ma", cpus=cpus)
    target = max(total_sz // cpus, 1 << 20)
    dirs = [os.path.join(d, f"g{g}") for g in range(1, files + 1)]

    t = time.time()
    n = read_sstable_cells(spark, dirs, target_bytes=target).count()
    dt = time.time() - t
    print(f"distributed ma read ({cpus} cores): {n / dt / 1e6:.2f}M cells/s, "
          f"{total_sz / dt / 1e6:.0f} MB/s ({total_sz / dt / 1e6 / cpus:.0f} MB/s/core)")

    stage_dir = tempfile.mkdtemp(prefix="stress_ma_stage_")
    t = time.time()
    staged = read_sstable_cells(spark, dirs, target_bytes=target,
                                stage_dir=stage_dir)
    n2 = staged.count()
    dt = time.time() - t
    print(f"ma stage-to-parquet + first scan ({cpus} cores): "
          f"{n2 / dt / 1e6:.2f}M cells/s, {total_sz / dt / 1e6:.0f} MB/s")
    t = time.time()
    staged.count()
    dt = time.time() - t
    print(f"staged parquet re-scan: {n2 / dt / 1e6:.2f}M cells/s")


def pipeline_ma_bench(cpus: int, rows: int, files: int) -> None:
    """FULL 3.x pipeline at stress scale: multi-generation ma input ->
    distributed decode -> comparator-aware compact (LWW merge across
    generations) -> aeg-JSON snapshot written to disk. The 2.x path has
    this end-to-end via the CLI goldens; this is the ma twin, measuring
    cells/s through every stage rather than decode alone."""
    import tempfile
    import time

    from aegisthus_spark import job
    from aegisthus_spark.session import get_spark
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        name_sort_key_for_header,
    )

    d = tempfile.mkdtemp(prefix="stress_ma_pipe_")
    # overlapping keys across generations: every partition merges + LWWs
    for g in range(1, max(2, files) + 1):
        make_sstable_ma(os.path.join(d, f"g{g}"), rows, gen=g)
    n_files = max(2, files)
    sz = os.path.getsize(os.path.join(d, "g1", "ma-1-big-Data.db"))
    total_sz = sz * n_files
    print(f"ma pipeline input: {n_files} x {sz / 1e6:.0f} MB "
          f"({total_sz / 1e9:.2f} GB total), {rows} overlapping partitions each")

    spark = get_spark("stress-ma-pipe", cpus=cpus)
    target = max(total_sz // cpus, 1 << 20)
    dirs = [os.path.join(d, f"g{g}") for g in range(1, n_files + 1)]
    sk = name_sort_key_for_header(
        header_for_data_file(os.path.join(d, "g1", "ma-1-big-Data.db"))
    )

    from aegisthus_spark.compact import compact

    out_dir = tempfile.mkdtemp(prefix="stress_ma_snap_")
    t = time.time()
    cells = read_sstable_cells(spark, dirs, target_bytes=target)
    n_cells = cells.count()  # decode-only baseline for the stage split
    dt_decode = time.time() - t
    t = time.time()
    rows_written = job.write_snapshot_json(
        compact(
            read_sstable_cells(spark, dirs, target_bytes=target),
            name_sort_key=sk,
        ).sortWithinPartitions("partition_key"),
        out_dir,
    )
    dt_full = time.time() - t
    print(f"decode only ({cpus} cores): {n_cells / dt_decode / 1e6:.2f}M cells/s")
    print(f"FULL pipeline decode->compact->aeg-JSON snapshot: "
          f"{rows_written} rows, {n_cells / dt_full / 1e6:.2f}M cells/s, "
          f"{total_sz / dt_full / 1e6:.0f} MB/s input "
          f"({dt_full:.1f}s total; compact+render overhead "
          f"{(dt_full - dt_decode) / dt_decode * 100:.0f}% over decode)")
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)


def skew_bench(cpus: int, hot_cells: int, cold_keys: int) -> None:
    """compact() vs compact_salted() on a skewed cell set: one giant
    partition (hot_cells cells, duplicated across 3 generations) amid
    cold_keys normal partitions. Evidence for the salted path's crossover:
    the single-Exchange compact() funnels the hot key through ONE
    aggregation group, the salted path spreads it over 16 buckets."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.compact import compact, compact_salted
    from aegisthus_spark.session import get_spark

    spark = get_spark("skew-stress", cpus=cpus)

    def cells_for(tag: str):
        hot = (
            spark.range(hot_cells)
            .withColumn("gen", (F.col("id") % 3).cast("int") + 1)
            .select(
                F.lit("f").alias("source_path"), F.col("gen").alias("generation"),
                F.lit(b"hotkey").alias("partition_key"),
                F.lit(-(1 << 63)).alias("row_deleted_at"), F.lit("c").alias("kind"),
                # ~hot_cells/3 distinct names, each duplicated in 3 generations
                F.encode(F.format_string("n%012d", (F.col("id") % (hot_cells // 3 + 1))), "UTF-8").alias("cell_name"),
                F.lit(None).cast("binary").alias("cell_name_max"),
                F.encode(F.format_string("v%020d", F.col("id")), "UTF-8").alias("value"),
                F.col("id").alias("ts"),
                F.lit(None).cast("int").alias("ttl"),
                F.lit(None).cast("int").alias("local_deletion_time"),
                F.lit(None).cast("long").alias("ts_of_last_delete"),
            )
        )
        cold = (
            spark.range(cold_keys)
            .select(
                F.lit("f").alias("source_path"), F.lit(1).alias("generation"),
                F.encode(F.format_string("k%09d", "id"), "UTF-8").alias("partition_key"),
                F.lit(-(1 << 63)).alias("row_deleted_at"), F.lit("c").alias("kind"),
                F.lit(b"only").alias("cell_name"),
                F.lit(None).cast("binary").alias("cell_name_max"),
                F.encode(F.format_string("v%020d", F.col("id")), "UTF-8").alias("value"),
                F.col("id").alias("ts"),
                F.lit(None).cast("int").alias("ttl"),
                F.lit(None).cast("int").alias("local_deletion_time"),
                F.lit(None).cast("long").alias("ts_of_last_delete"),
            )
        )
        return hot.unionByName(cold)

    cells = cells_for("skew")
    n = cells.count()
    print(f"skew set: {n} cells, hot key = {hot_cells} cells (x3-generation dups), "
          f"{cold_keys} cold keys")

    for label, fn in (("compact (1 Exchange)", compact),
                      ("compact_salted (2 Exchanges, 16 buckets)", compact_salted)):
        fn(cells).count()  # warm
        t = time.time()
        out = fn(cells)
        nr = out.count()
        hot_row = out.filter(F.col("partition_key") == F.lit(b"hotkey")) \
                     .select(F.size("columns").alias("s")).collect()
        dt = time.time() - t
        print(f"{label}: {dt:.2f}s -> {nr} rows, hot row kept {hot_row[0].s} cells")


def temporal_bench(cpus: int, n_rows: int, n_keys: int) -> None:
    """asof_join / interval_join at synthetic scale, plus evidence for WHY
    the binned/union formulations exist: the naive theta-join's
    intermediate row count, measured on a key subset and extrapolated.

    The union+window as-of touches exactly |L|+|R| rows regardless of
    per-key density; a theta join (r.ts <= l.ts per key) materializes
    ~|L|·|R|/keys² per key — quadratic in density. This prints both so the
    crossover is a number, not a claim.
    """
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators.temporal import asof_join, interval_join
    from aegisthus_spark.session import get_spark

    spark = get_spark("temporal-stress", cpus=cpus)
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")

    def stream(tag: str, n: int):
        # deterministic pseudo-shuffled timestamps, ~n/keys rows per key
        return (
            spark.range(n)
            .select(
                (F.col("id") % n_keys).alias("k"),
                (base + F.make_interval(secs=(F.col("id") * 7919 % 10_000_000) / 10.0)).alias("ts"),
                F.col("id").alias("seq"),
                (F.col("id") % 1000).cast("double").alias("v"),
            )
        )

    left, right = stream("l", n_rows), stream("r", n_rows)

    t = time.time()
    n = asof_join(left.drop("seq"), right, on="k", ts_col="ts",
                  right_cols=["v"], seq_col="seq").count()
    dt = time.time() - t
    print(f"asof_join: {n:,} rows in {dt:.1f}s ({n / dt / 1e6:.2f}M rows/s, "
          f"|L|+|R|={2 * n_rows:,} through one shuffle)")

    iv = right.select(
        "k", F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end"),
    )
    t = time.time()
    n = interval_join(left, iv, on="k", point_ts="ts",
                      start_col="start", end_col="end", bucket="5 minutes").count()
    dt = time.time() - t
    print(f"interval_join: {n:,} matches in {dt:.1f}s (binned equi-join)")

    # naive theta-join intermediate size, on 1/50 of the keys
    frac = max(1, n_keys // 50)
    lf = left.filter(F.col("k") < frac)
    rf = right.filter(F.col("k") < frac)
    t = time.time()
    naive = lf.alias("l").join(
        rf.alias("r"),
        (F.col("l.k") == F.col("r.k")) & (F.col("r.ts") <= F.col("l.ts")),
    ).count()
    dt = time.time() - t
    print(f"naive theta join on {frac}/{n_keys} keys: {naive:,} intermediate "
          f"rows in {dt:.1f}s -> extrapolated {naive * (n_keys // frac):,} "
          f"rows full-corpus (vs {2 * n_rows:,} for union+window)")


def dedup_bench(cpus: int, n_docs: int) -> None:
    """Near-dup pipeline scaling: run MinHash+LSH+components on a synthetic
    corpus at N and 2N docs and report wall-clock ratio (linear shape =>
    ~2x) plus the hottest LSH band bucket (the skew bound on the candidate
    join: pairs-per-bucket grows with bucket_size^2, so this number is the
    one to watch at 100 TB).

    The corpus is generated DISTRIBUTED (spark.range + per-id hash word
    sampling, no driver loops): 60-word docs over a 400-word vocabulary;
    every 10th doc is a near-dup of its predecessor with the first 3 words
    mutated (planted positives the pipeline must find)."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators import dedup as dd
    from aegisthus_spark.session import get_spark

    spark = get_spark("stress-dedup", cpus=cpus)
    vocab = "array(" + ",".join(f"'w{i}'" for i in range(400)) + ")"

    def corpus(n):
        return (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                F.expr(
                    "concat_ws(' ', transform(sequence(1, 60), i -> "
                    f"element_at({vocab}, 1 + pmod(hash("
                    "if(id % 10 = 1 and i <= 3, id, if(id % 10 = 1, id - 1, id))"
                    " * 1000 + i), 400))))"
                ).alias("text"),
            )
        )

    results = []
    for n in (n_docs, 2 * n_docs):
        docs = corpus(n).localCheckpoint()  # exclude generation from timing
        t0 = time.time()
        # materialize pairs so the components timing measures ONLY the
        # label-propagation loop, not a lazy recompute of the LSH pipeline
        pairs = dd.minhash_lsh_dedup(docs, threshold=0.5).localCheckpoint()
        npairs = pairs.count()
        t1 = time.time()
        ncomp = (
            dd.connected_components(pairs, docs)
            .filter(F.col("doc_id") != F.col("component"))
            .count()
        )
        t2 = time.time()
        sig = dd.minhash_signatures(dd.word_shingles(docs))
        # hottest band bucket: max docs sharing one (band, key)
        bands = sig.select(
            F.explode(
                F.array(*[
                    F.concat_ws("_", F.lit(b), *[
                        F.col(f"mh_{b * dd.LSH_ROWS_PER_BAND + r}").cast("string")
                        for r in range(dd.LSH_ROWS_PER_BAND)
                    ])
                    for b in range(dd.MINHASH_K // dd.LSH_ROWS_PER_BAND)
                ])
            ).alias("bk")
        )
        hot = bands.groupBy("bk").count().agg(F.max("count")).collect()[0][0]
        planted = len(range(1, n, 10))  # ids with id % 10 == 1
        results.append((n, t1 - t0, t2 - t1, npairs, ncomp, hot))
        print(
            f"docs={n}: lsh_pairs={npairs} (planted~{planted}) in {t1-t0:.1f}s, "
            f"components(+{ncomp} dup docs) in {t2-t1:.1f}s, hottest_bucket={hot}"
        )
    (n1, p1, c1, *_), (n2, p2, c2, *_) = results
    print(
        f"scaling N->2N: pairs-stage x{p2/p1:.2f}, components x{c2/c1:.2f} "
        "(linear shape => ~2x; superlinear means a bucket blew up)"
    )


def triangles_bench(cpus: int, n_verts: int) -> None:
    """Degree-oriented triangle enumeration on a hub-skewed graph (the
    shape skewed near-dup graphs produce: one boilerplate-heavy doc paired
    with everything). Wedge work is sum_u C(outdeg(u), 2) under the
    chosen orientation:

      id-order (pre-round-11): a LOW-ID hub of degree d keeps all d
      out-edges -> C(d, 2) wedges from one vertex (quadratic, one task);
      degree-order: the hub loses every orientation contest, outdeg(hub)=0
      -> wedge work collapses to the background graph's.

    Both counted analytically from the oriented out-degree histogram (no
    enumeration needed to show the bound), then triangle_counts is timed
    and its total verified against the planted clique count."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators.graph import triangle_counts
    from aegisthus_spark.session import get_spark

    spark = get_spark("stress-triangles", cpus=cpus)
    # hub: vertex 0 adjacent to every other vertex; background: disjoint
    # 4-cliques over consecutive ids (planted, countable triangles)
    hub = spark.range(1, n_verts).select(
        F.lit(0).alias("a"), F.col("id").alias("b"))
    n_cliques = (n_verts - 2) // 4  # complete K4s over vertices 1..4*G
    base = spark.range(1, 4 * n_cliques + 1).select(
        (F.col("id")).alias("u"), F.explode(F.sequence(F.lit(1), F.lit(3))).alias("d"))
    clique = base.where((F.col("u") - 1) % 4 + F.col("d") <= 3).select(
        F.col("u").alias("a"), (F.col("u") + F.col("d")).alias("b"))
    edges = hub.union(clique).localCheckpoint()
    m = edges.count()

    deg = edges.select(F.explode(F.array("a", "b")).alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("deg"))
    ed = (edges
          .join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
          .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b"))

    def wedge_work(src_col):
        out = ed.select(src_col.alias("src")).groupBy("src").agg(
            F.count(F.lit(1)).alias("od"))
        return out.agg(
            F.sum(F.col("od") * (F.col("od") - 1) / 2).alias("w")
        ).collect()[0].w

    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    w_id = wedge_work(F.col("a"))  # canonical a<b: id orientation
    w_deg = wedge_work(F.when(fwd, F.col("a")).otherwise(F.col("b")))
    print(f"hub graph: {n_verts} vertices, {m} edges (hub degree ~{n_verts - 1})")
    print(f"wedge candidates: id-order {int(w_id)}, degree-order {int(w_deg)} "
          f"({w_id / max(w_deg, 1):.0f}x reduction)")

    verts = spark.range(n_verts).select(F.col("id").alias("doc_id"))
    t0 = time.time()
    total = triangle_counts(
        edges.select(F.col("a").cast("long").alias("a"),
                     F.col("b").cast("long").alias("b")),
        verts,
    ).agg(F.sum("n_triangles")).collect()[0][0]
    dt = time.time() - t0
    # planted: each K4 has 4 internal triangles, plus one hub-closed
    # triangle per clique edge (hub is adjacent to every vertex); each
    # triangle contributes 3 membership counts
    clique_edges = m - (n_verts - 1)
    expect = 3 * (4 * n_cliques + clique_edges)
    assert total == expect, (total, expect)
    print(f"triangle_counts: {dt:.2f}s, membership total {total} (= expected)")
    assert w_deg * 20 < w_id, "degree orientation no longer bounds the hub fanout"


def hot_shingle_bench(cpus: int, n_docs: int) -> None:
    """The max_shingle_df lever under a boilerplate-heavy corpus (round-11
    fix): 40% of documents share a 40-token boilerplate prefix (license
    header shape), so ~38 shingles have df = 0.4*N and every hot-doc pair
    has Jaccard ~0.5 — LSH banding surfaces the whole O((0.4N)^2) clique
    as candidates, and the common-shingle join pays it again. With the cap
    (df <= 8), boilerplate shingles leave the vocabulary: signatures are
    built from each doc's unique tail, candidates collapse to ~0 and stay
    flat at 2N, while the uncapped path grows ~4x. Asserted: capped
    candidate growth N->2N is bounded (<= 3x vs the uncapped ~4x clique
    growth)."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators.dedup import (
        _lsh_shingles_and_candidates,
        containment_of_pairs,
    )
    from aegisthus_spark.session import get_spark

    spark = get_spark("stress-hotshingle", cpus=cpus)
    boiler = " ".join(f"lic{i}" for i in range(40))

    def corpus(n):
        # 40% hot docs: boilerplate prefix + 20 unique md5 tokens;
        # cold docs: 60 unique tokens (df~1 vocabulary)
        return (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                F.expr(
                    "concat_ws(' ', "
                    f"if(id % 5 < 2, '{boiler}', ''), "
                    "concat_ws(' ', transform(sequence(1, if(id % 5 < 2, 20, 60)), "
                    "i -> substr(md5(concat(cast(id as string), '_', cast(i as string))), 1, 8))))"
                ).alias("text"),
            )
            .localCheckpoint()
        )

    results = {}
    for n in (n_docs, 2 * n_docs):
        docs = corpus(n)
        for cap in (None, 8):
            _, cand = _lsh_shingles_and_candidates(
                docs, n=3, id_col="doc_id", persist_shingles=False,
                max_shingle_df=cap,
            )
            t0 = time.time()
            nc = cand.count()
            t_cand = time.time() - t0
            t0 = time.time()
            containment_of_pairs(docs, n=3, threshold=0.5,
                                 max_shingle_df=cap).count()
            t_cont = time.time() - t0
            results[(n, cap)] = nc
            label = "uncapped" if cap is None else f"cap={cap}"
            print(f"docs={n} {label}: {nc} LSH candidates ({t_cand:.1f}s), "
                  f"containment {t_cont:.1f}s")
    up = results[(2 * n_docs, None)] / max(results[(n_docs, None)], 1)
    cp = results[(2 * n_docs, 8)] / max(results[(n_docs, 8)], 1)
    print(f"candidate growth N->2N: uncapped x{up:.2f} (clique ~4x), "
          f"capped x{cp:.2f}")
    assert cp <= 3.0, (
        f"capped candidates grew x{cp:.2f} at 2N — the df cap no longer "
        "bounds hot-shingle pair growth")


def semantic_bench(cpus: int, n_docs: int) -> None:
    """Measure semantic_dedup's k-scaling CONTRACT (k must grow with N).

    Within-cluster candidate pairs are sum_c C(size_c, 2) ~ N^2 / (2k):
    at FIXED k, doubling the corpus quadruples pair work; scaling
    k ~ N / c (bounded cluster size c, the SemDeDup §3 regime) keeps
    pairs-per-cluster flat and total pair work ~linear. This bench runs
    the real kmeans_assign blocking at (N, k), (2N, 2k) and the
    counterexample (2N, k fixed) and prints the measured candidate-pair
    growth for each — expect ~2x when k scales, ~4x when it doesn't.

    The corpus is generated DISTRIBUTED (spark.range + hash-derived
    16-dim float vectors, no driver loops); every 10th vector is a
    near-copy of its predecessor so clusters contain real near-dup
    structure.
    """
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators.similarity import kmeans_assign
    from aegisthus_spark.session import get_spark

    spark = get_spark("stress-semantic", cpus=cpus)
    dim, c = 16, 500  # target bounded cluster size c

    def corpus(n):
        base = (
            "if(id % 10 = 1, id - 1, id)"  # every 10th near-dups its neighbor
        )
        return (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    f"transform(sequence(1, {dim}), j -> cast("
                    f"pmod(hash({base} * 131 + j), 1000) / 1000.0"
                    " + if(id % 10 = 1 and j = 1, 0.001, 0.0) as float))"
                ).alias("embedding"),
            )
            .localCheckpoint()  # exclude generation from the timing
        )

    def pair_space(n, k, emb):
        t0 = time.time()
        sizes = (
            kmeans_assign(emb, k=k, iters=2)
            .groupBy("cluster")
            .count()
        )
        stats = sizes.agg(
            F.sum(F.expr("count * (count - 1) / 2")).alias("pairs"),
            F.max("count").alias("max_cluster"),
            F.count(F.lit(1)).alias("n_clusters"),
        ).collect()[0]
        dt = time.time() - t0
        print(
            f"N={n} k={k}: candidate_pairs={int(stats.pairs)} "
            f"(max_cluster={stats.max_cluster}, "
            f"{stats.n_clusters} non-empty clusters) assign {dt:.1f}s"
        )
        return int(stats.pairs)

    emb1, emb2 = corpus(n_docs), corpus(2 * n_docs)
    k1 = max(2, n_docs // c)
    p_base = pair_space(n_docs, k1, emb1)
    p_scaled = pair_space(2 * n_docs, 2 * k1, emb2)
    p_fixed = pair_space(2 * n_docs, k1, emb2)
    print(
        f"scaling N->2N: pairs x{p_scaled/p_base:.2f} with k scaled "
        f"(contract: ~2x, linear) vs x{p_fixed/p_base:.2f} with k FIXED "
        "(N^2/k: ~4x, quadratic) — callers must scale k ~ N/c"
    )

    # --- assignment cost vs k: must be SUB-LINEAR in k (two-level route:
    # ~2*sqrt(k) folds/row, so 16x more centroids ~ 4x the folds, not 16x).
    # A flat scan would scale ~k; guard at the midpoint so machine noise
    # can't mask a regression back to linear.
    def assign_cost(k: int) -> float:
        best = None
        for _ in range(3):
            t0 = time.time()
            kmeans_assign(emb2, k=k, iters=1).foreach(lambda r: None)
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return best

    ks = [64, 256, 1024]
    costs = {k: assign_cost(k) for k in ks}
    for k in ks:
        print(f"assign N={2*n_docs} k={k}: {costs[k]:.2f}s (min of 3)")
    growth = costs[1024] / costs[64]
    print(
        f"assign cost k=64 -> k=1024 (16x centroids): x{growth:.2f} "
        "(two-level ~4x, flat would be ~16x)"
    )
    assert growth < 9, (
        f"assignment cost grew x{growth:.2f} over a 16x k sweep — "
        "two-level routing (~sqrt(k)) has regressed toward flat (~k)"
    )


def corpus_dedup_bench(cpus: int, n_docs: int) -> None:
    """Scaling evidence for the corpus-wide accounting operators: run
    cross_doc_ngram_fraction and paragraph_dedup at N and 2N docs and
    report wall ratio (both are explode + hash-window + per-doc aggregate
    — linear shape => ~2x) plus the hottest hash bucket (the per-bucket
    window's skew bound). Same distributed generator as --dedup: every
    10th doc is a near-dup of its predecessor, so repeated spans and
    duplicate paragraphs actually exist."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators import dedup as dd
    from aegisthus_spark.session import get_spark

    spark = get_spark("stress-corpus-dedup", cpus=cpus)
    vocab = "array(" + ",".join(f"'w{i}'" for i in range(400)) + ")"

    def corpus(n):
        return (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                F.expr(
                    "concat_ws(' ', transform(sequence(1, 60), i -> "
                    f"element_at({vocab}, 1 + pmod(hash("
                    "if(id % 10 = 1 and i <= 3, id, if(id % 10 = 1, id - 1, id))"
                    " * 1000 + i), 400))))"
                ).alias("text"),
            )
        )

    for n in (n_docs, 2 * n_docs):
        docs = corpus(n).localCheckpoint()
        t0 = time.time()
        shared = dd.cross_doc_ngram_fraction(docs, n=5)
        agg = shared.agg(
            F.sum("n_grams").alias("g"), F.sum("n_shared").alias("s")
        ).collect()[0]
        dt1 = time.time() - t0
        t0 = time.time()
        para = dd.paragraph_dedup(docs, chunk_tokens=10)
        pagg = para.agg(
            F.sum("n_paragraphs").alias("p"),
            F.sum("n_dup_paragraphs").alias("d"),
        ).collect()[0]
        dt2 = time.time() - t0
        # the skew bound: the per-bucket window is quadratic in nothing,
        # but its sort/aggregate cost tracks the hottest hash bucket
        sep = "\\u001f"
        hot = (
            docs.select(F.explode(F.expr(
                "array_distinct(transform(sequence(1, size(split(text,' ')) - 4), "
                f"i -> array_join(slice(split(text,' '), i, 5), '{sep}')))"
            )).alias("g"))
            .groupBy("g").count().agg(F.max("count").alias("m"))
        ).collect()[0].m
        print(
            f"N={n:,}: cross-doc 5-grams {int(agg.g):,} ({int(agg.s):,} "
            f"shared) in {dt1:.1f}s; paragraphs {int(pagg.p):,} "
            f"({int(pagg.d):,} dup) in {dt2:.1f}s; hottest gram bucket "
            f"{int(hot):,} docs"
        )


def sketch_bench(cpus: int, n_rows: int, n_keys: int) -> None:
    """Sketch-vs-exact scaling: distinct-count (FM/KMV) and count-min
    heavy hitters against their exact counterparts at N and 2N rows.

    Reports wall ratios, the sketch's relative error (theory: ~1/sqrt(256)
    ~ 6% for the KMV estimator), CMS top-k overlap with the exact top-k,
    and the state-size ratio — the number that matters at 100 TB, where
    the exact plans shuffle every distinct key and the sketches shuffle a
    fixed number of registers per group."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators.sketch import (
        CMS_D,
        CMS_W,
        M_REGISTERS,
        cms_heavy_hitters,
        distinct_sketch,
    )
    from aegisthus_spark.session import get_spark

    spark = get_spark("stress-sketch", cpus=cpus)
    for n in (n_rows, 2 * n_rows):
        # skewed keys: 80% of rows over 100 hot ids, 20% over an n_keys
        # long tail — heavy hitters must sit far above the CMS collision
        # noise floor (~rows/w per bucket) to be recoverable, which is the
        # regime the sketch exists for
        df = (
            spark.range(n)
            .select(
                (F.col("id") % 5).cast("string").alias("grp"),
                F.expr(
                    "if(pmod(hash(id), 10) < 8,"
                    " pmod(cast(hash(id * 7) as bigint), 100),"
                    f" 100 + pmod(cast(hash(id * 13) as bigint), {n_keys}))"
                ).alias("key"),
            )
            .localCheckpoint()
        )
        t0 = time.time()
        exact = {
            r.grp: r.n
            for r in df.groupBy("grp")
            .agg(F.countDistinct("key").alias("n"))
            .collect()
        }
        t1 = time.time()
        est = {
            r.grp: r.distinct_est
            for r in distinct_sketch(df, ["grp"], "key").collect()
        }
        t2 = time.time()
        err = max(abs(est[g] - exact[g]) / exact[g] for g in exact)
        t3 = time.time()
        exact_top = [
            r.key
            for r in df.groupBy("key")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "key")
            .limit(20)
            .collect()
        ]
        t4 = time.time()
        cms_top = [r.key for r in cms_heavy_hitters(df, "key", k=20).collect()]
        t5 = time.time()
        overlap = len(set(exact_top) & set(cms_top))
        n_distinct = df.select("key").distinct().count()  # keys shared across
        # groups would double-count in sum(per-group distincts)
        print(
            f"rows={n}: kmv exact {t1-t0:.1f}s vs sketch {t2-t1:.1f}s "
            f"(max rel err {err:.1%}, state {len(exact)*M_REGISTERS} regs vs "
            f"{n_distinct} distinct keys); cms exact-topk {t4-t3:.1f}s vs "
            f"sketch {t5-t4:.1f}s (top-20 overlap {overlap}/20, state "
            f"{CMS_D * CMS_W} counters)"
        )


def rt_bench(cpus: int, n_rts: int, n_cells: int) -> None:
    """Range-tombstone application cost in ONE partition: the round-9
    skyline + binary-search tier (compact._apply_rts with the dispatch
    forced) vs the per-cell exists() probe, at (C cells, R RTs) and
    (2C, 2R) — the probe is O(C x R) and should ~4x when both double;
    the skyline tier is O(R log R + C log R) and should ~2x. Also runs
    compact() end-to-end at the larger size (default dispatch picks the
    skyline tier there) as the integration datapoint."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.compact import _apply_rts, _rt_probe, compact
    from aegisthus_spark.session import get_spark

    spark = get_spark("rt-stress", cpus=cpus)

    schema = (
        "cells array<struct<sk: binary, ts: long>>, "
        "rts array<struct<min_sk: binary, max_sk: binary, ts: long>>"
    )

    def arrays(nc: int, nr: int):
        # disjoint point-ish RTs over every other name; half delete
        # (ts above the cell), half are older than the cell
        cells = [(b"n%09d" % i, 5) for i in range(nc)]
        rts = [
            (b"n%09d" % (2 * j), b"n%09d" % (2 * j), 9 if j % 2 == 0 else 1)
            for j in range(nr)
        ]
        return [(cells, rts)]

    for scale in (1, 2):
        nc, nr = n_cells * scale, n_rts * scale
        df = spark.createDataFrame(arrays(nc, nr), schema).localCheckpoint()
        probe_sel = df.select(
            F.size(F.expr(_rt_probe("cells", "rts", "min_sk", "max_sk"))).alias("n")
        )
        sky_sel = _apply_rts(
            df, "cells", "rts", "min_sk", "max_sk", "out", probe_max=0
        ).select(F.size("out").alias("n"))
        for label, sel in (("probe  ", probe_sel), ("skyline", sky_sel)):
            sel.collect()  # warm codegen
            t = time.time()
            n = sel.collect()[0].n
            dt = time.time() - t
            print(f"{label} cells={nc} rts={nr}: {dt:.2f}s -> {n} survivors")

    # end-to-end compact() with 10^3+ RTs in one partition
    cells_schema = (
        "source_path string, generation int, partition_key binary, "
        "row_deleted_at long, kind string, cell_name binary, cell_name_max binary, "
        "value binary, ts long, ttl int, local_deletion_time int, ts_of_last_delete long"
    )
    rows = [
        ("f", 1, b"hot", -(1 << 63), "c", b"n%09d" % i, None, b"v", 5,
         None, None, None)
        for i in range(n_cells * 2)
    ] + [
        ("f", 2, b"hot", -(1 << 63), "t", b"n%09d" % (2 * j), b"n%09d" % (2 * j),
         None, 9 if j % 2 == 0 else 1, None, None, None)
        for j in range(n_rts * 2)
    ]
    df = spark.createDataFrame(rows, cells_schema)
    t = time.time()
    out = compact(df).select(F.size("columns").alias("s")).collect()
    dt = time.time() - t
    print(f"compact() end-to-end: {n_cells * 2} cells + {n_rts * 2} RTs "
          f"in one partition: {dt:.2f}s -> row kept {out[0].s} cells")


def knn_bench(cpus: int, n_vecs: int) -> None:
    """Adaptive k-NN blocking evidence: candidate-pair counts and wall
    time at N and 2N vectors, with the plane count p derived from the
    corpus size (queries.knn_plane_count) vs held FIXED at 10 — the
    adaptive path keeps candidates ~linear while fixed-p grows ~N^2/2^p
    (the round-9 sf1 finding: 65 s -> 13.6 s at 20k vectors)."""
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators.similarity import (
        _bucket_expr,
        hyperplanes,
        knn_join,
    )
    from aegisthus_spark.queries import knn_plane_count
    from aegisthus_spark.session import get_spark

    spark = get_spark("knn-stress", cpus=cpus)

    def emb(n):
        # deterministic hash-noise embeddings (the classic fract(sin*K)
        # trick): near-uniform per dimension — a smooth sin(i+j) pattern
        # correlates sign bits across vectors and collapses LSH buckets,
        # understating what blocking can do
        return (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    "transform(sequence(0, 63), j -> cast("
                    "(sin(id * 12.9898 + j * 78.233) * 43758.5453) % 1.0 "
                    "as float))"
                ).alias("embedding"),
            )
            .localCheckpoint()
        )

    for scale in (1, 2):
        n = n_vecs * scale
        df = emb(n)
        for label, p in (("fixed p=10", 10), ("adaptive", knn_plane_count(n))):
            planes = hyperplanes(64, p, seed=1234)
            b = F.expr(_bucket_expr("embedding", planes))
            hist = df.select(b.alias("bk")).groupBy("bk").count()
            pairs = hist.select(
                F.sum(F.col("count") * (F.col("count") - 1)).alias("p")
            ).collect()[0].p
            t = time.time()
            knn_join(df, k=3, dim=64, n_planes=p, seed=1234).count()
            dt = time.time() - t
            print(f"{label} (p={p}) n={n}: ~{pairs} same-bucket pairs, "
                  f"knn_join {dt:.2f}s")


def knn_skew_bench(cpus: int, n_vecs: int) -> None:
    """Skew guard for the k-NN join (the round-9 'knn skew watch' made a
    recorded number + assertion): a pathological corpus where 30% of the
    vectors cluster around ONE base vector, collapsing LSH buckets.

    Two mitigation levers, measured separately:
    - CORRELATED cluster (noise can flip plane signs): adding planes must
      split the hot bucket — asserted: hottest-bucket candidate pairs at
      p+6 shrink to <= 1/2 of the adaptive-p count.
    - NEAR-IDENTICAL cluster (no plane ever separates equal sign
      patterns): planes cannot help; `knn_join(salt=S)` spreads the hot
      bucket's pair work over S tasks — asserted: identical result rows,
      wall time recorded for salt=1 vs salt=8.
    """
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.operators.similarity import (
        _bucket_expr,
        hyperplanes,
        knn_join,
    )
    from aegisthus_spark.queries import knn_plane_count
    from aegisthus_spark.session import get_spark

    spark = get_spark("knn-skew-stress", cpus=cpus)

    def emb(n, hot_frac, noise):
        # hot rows = base + noise * hash-noise; cold rows = pure hash-noise
        hot = f"id % 100 < {int(hot_frac * 100)}"
        return (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    f"transform(sequence(0, 63), j -> cast(CASE WHEN {hot} "
                    f"THEN sin(j * 1.7) + {noise} * ((sin(id * 12.9898 + j * 78.233) * 43758.5453) % 1.0) "
                    "ELSE (sin(id * 12.9898 + j * 78.233) * 43758.5453) % 1.0 "
                    "END as float))"
                ).alias("embedding"),
            )
            .localCheckpoint()
        )

    def hot_pairs(df, p):
        planes = hyperplanes(64, p, seed=1234)
        b = F.expr(_bucket_expr("embedding", planes))
        hist = df.select(b.alias("bk")).groupBy("bk").count()
        top = hist.orderBy(F.desc("count")).limit(1).collect()[0]
        total = hist.select(
            F.sum(F.col("count") * (F.col("count") - 1)).alias("p")
        ).collect()[0].p
        return int(top["count"]), int(top["count"]) * (int(top["count"]) - 1), int(total)

    p0 = knn_plane_count(n_vecs)

    # --- lever 1: correlated cluster -> more planes split it
    df_corr = emb(n_vecs, hot_frac=0.3, noise=0.8)
    h0, hp0, t0_ = hot_pairs(df_corr, p0)
    h1, hp1, t1_ = hot_pairs(df_corr, p0 + 6)
    print(f"correlated skew n={n_vecs}: adaptive p={p0} hottest bucket "
          f"{h0} rows ({hp0} pairs, {t0_} total); p={p0 + 6}: hottest {h1} "
          f"({hp1} pairs, {t1_} total)")
    assert hp1 <= hp0 / 2, (
        f"adding 6 planes only cut hottest-bucket pairs {hp0} -> {hp1}; "
        "the plane lever has regressed")

    # --- lever 2: near-identical cluster -> planes can't split; salt
    df_id = emb(n_vecs, hot_frac=0.3, noise=1e-6)
    h2, hp2, _ = hot_pairs(df_id, p0 + 6)
    print(f"near-identical skew: hottest bucket still {h2} rows at "
          f"p={p0 + 6} ({hp2} pairs) — planes cannot separate equal sign "
          "patterns; salting spreads the work instead:")
    # salting targets SHUFFLE-join skew (the at-scale shape: a corpus-sized
    # right side sort-merge-joins on bucket id and the hot key lands on one
    # task). A fixture-sized right side would broadcast — no key skew to
    # fix — so pin the shuffled plan for this lever.
    walls = {}
    counts = {}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for s in (1, 8):
            t0 = time.time()
            counts[s] = knn_join(df_id, k=3, dim=64, n_planes=p0, seed=1234,
                                 salt=s).count()
            walls[s] = time.time() - t0
            print(f"  knn_join (shuffled) salt={s}: {walls[s]:.2f}s "
                  f"({counts[s]} rows)")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert counts[1] == counts[8], "salting changed the result set"
    # 10% slack: ±15% machine noise makes a raw wall comparison flaky on a
    # near-tie run; a real regression (the lever doing nothing) shows up as
    # salt=8 paying its replication cost with no speedup, well past 1.1x
    assert walls[8] < walls[1] * 1.1, (
        "salting no longer spreads the hot bucket's shuffled pair work")


def bti_plan_bench(cpus: int, rows: int, files: int) -> None:
    """BTI split-planning scale: the O(rows) Data.db boundary walk vs the
    offsets-cache sidecar (round-11 fix for the last 100 TB planning
    bottleneck).

    Builds ``files`` synthetic ``da-*-bti`` tables of ``rows`` partitions
    each (no Index.db, opaque trie sidecars) and times:
      cold plan        — driver walks every Data.db (20-thread pool)
      warm plan (memo) — same driver session, in-process hit
      warm plan (disk) — fresh-driver shape, sidecar read only
      executor prime   — cold walks distributed as one Spark job
    """
    import shutil
    import tempfile
    import time

    from aegisthus_spark.session import get_spark
    from aegisthus_spark.sources.sstable_source import (
        discover_data_files,
        plan_partitions,
        prime_bti_offset_cache,
    )
    from aegisthus_spark.sstable import offsets_cache
    from aegisthus_spark.sstable.modern import TTL_EPOCH, SerializationHeader
    from aegisthus_spark.sstable.modern_writer import (
        UTF8,
        serialize_partition,
        write_statistics_db,
    )

    d = tempfile.mkdtemp(prefix="stress_btiplan_")
    cache_dir = tempfile.mkdtemp(prefix="stress_btiplan_cache_")
    os.environ["AEG_SPARK_OFFSET_CACHE_DIR"] = cache_dir
    h = SerializationHeader(
        min_timestamp=1_600_000_000_000_000,
        min_local_deletion_time=1_600_000_000,
        min_ttl=TTL_EPOCH,
        key_type=UTF8,
        clustering_types=(UTF8,),
        static_columns=(),
        regular_columns=((b"val", UTF8),),
    )
    for g in range(1, files + 1):
        sub = os.path.join(d, f"g{g}")
        os.makedirs(sub)
        data = os.path.join(sub, f"da-{g}-bti-Data.db")
        with open(data, "wb") as f:
            for i in range(rows):
                f.write(serialize_partition(h, {
                    "key": struct.pack(">q", i),
                    "rows": [{"clustering": [b"c1"],
                              "liveness": (1_600_000_000_000_000 + i,),
                              "cells": [{"column": b"val", "value": b"x" * 60}]}],
                }, version="oa"))
        write_statistics_db(
            data.replace("-Data.db", "-Statistics.db"), h, version="oa")
        with open(data.replace("-Data.db", "-Partitions.db"), "wb") as f:
            f.write(b"\x00trie")
    inputs = discover_data_files([d])
    sz = os.path.getsize(os.path.join(d, "g1", "da-1-bti-Data.db"))
    target = max(sz // 16, 1 << 16)
    print(f"synthetic bti tables: {files} x {sz / 1e6:.1f} MB, "
          f"{rows} partitions each; target split {target / 1e6:.2f} MB")

    def plan():
        t = time.time()
        parts = plan_partitions(inputs, target_bytes=target)
        return time.time() - t, len(parts)

    cold, n_parts = plan()
    warm_memo, n2 = plan()
    offsets_cache.clear_memo()
    warm_disk, n3 = plan()
    assert n_parts == n2 == n3
    print(f"cold plan (driver walk): {cold:.3f}s "
          f"({rows * files / cold / 1e6:.2f}M partitions/s) -> {n_parts} splits")
    print(f"warm plan (memo hit):    {warm_memo:.3f}s  ({cold / warm_memo:.0f}x)")
    print(f"warm plan (sidecar):     {warm_disk:.3f}s  ({cold / warm_disk:.0f}x)")

    # executor-distributed first touch (what read_sstable_cells does)
    shutil.rmtree(cache_dir)
    offsets_cache.clear_memo()
    spark = get_spark("stress-bti-plan", cpus=cpus)
    t = time.time()
    n_probed = prime_bti_offset_cache(spark, inputs, target_bytes=target)
    prime_dt = time.time() - t
    t = time.time()
    parts_primed = plan_partitions(inputs, target_bytes=target)
    primed_plan = time.time() - t
    assert n_probed == files and len(parts_primed) == n_parts
    print(f"executor prime ({cpus} cores, {files} files): {prime_dt:.3f}s; "
          f"plan after prime: {primed_plan:.3f}s "
          f"(driver never reads Data.db)")


def incremental_bench(cpus: int, n_keys: int, n_batches: int) -> None:
    """Bucketed incremental-merge steady state (round-11 verdict, next #7):
    the plan property (snapshot side of ``merge_bucketed`` has no Exchange,
    tests/test_bucketed_merge.py) measured under load.

    Builds an initial compacted snapshot of ``n_keys`` partitions x 8 cells
    (distributed generation), then merges ``n_batches`` batches of ~2%
    churn (half updates, half new keys) into a growing bucketed snapshot,
    timing each merge INCLUDING the versioned-table rewrite. Steady state
    = per-batch wall flat (the snapshot grows ~1%/batch, so drift bounds
    the slope). The control re-runs the same batches against a PLAIN
    (unbucketed) snapshot table, whose merge join must Exchange the full
    snapshot side every batch.

    The decisive number is per-batch SHUFFLE BYTES (measured as the
    block-manager directory growth per merge): bucketed ~ batch-sized,
    plain ~ snapshot-sized. Local-mode WALL times understate the gap —
    a local[N] "shuffle" is an in-memory file copy, while on a cluster
    the plain path ships the whole snapshot over the network every
    batch; the bytes column is the scale-invariant evidence.
    """
    import glob as _glob
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from aegisthus_spark.compact import compact, merge_compacted
    from aegisthus_spark.session import get_spark
    from aegisthus_spark.streaming.incremental import (
        merge_bucketed,
        write_snapshot_bucketed,
    )

    wd = tempfile.mkdtemp(prefix="stress_incremental_")
    os.chdir(wd)  # saveAsTable warehouse lands here, cleaned at exit
    local_dir = os.path.join(wd, "spark_local")
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    spark = get_spark("stress-incremental", cpus=cpus)
    buckets = 32
    cells_per_key = 8

    def shuffle_bytes() -> int:
        """Cumulative block-manager bytes (shuffle + checkpoint blocks);
        per-merge deltas isolate each merge's shuffle volume."""
        roots = _glob.glob(os.path.join(local_dir, "**", "blockmgr-*"),
                           recursive=True) or _glob.glob(
            os.path.join(tempfile.gettempdir(), "blockmgr-*"))
        total = 0
        for r in roots:
            for dirpath, _, files in os.walk(r):
                for fn in files:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, fn))
                    except OSError:
                        pass
        return total

    def make_cells(key_expr: str, n: int, gen: int, ts0: int):
        """``n`` synthetic partitions x 8 cells, keys from ``key_expr``
        over ``id`` in [0, n) — pure expressions, no driver loops."""
        return (
            spark.range(n)
            .selectExpr(f"({key_expr}) AS k")
            .select(
                "k", F.explode(F.expr(f"sequence(0, {cells_per_key - 1})")).alias("ci")
            )
            .selectExpr(
                f"'gen{gen}' AS source_path",
                f"CAST({gen} AS INT) AS generation",
                "CAST(format_string('k%012d', k) AS BINARY) AS partition_key",
                f"CAST({-(1 << 63)} AS LONG) AS row_deleted_at",
                "'c' AS kind",
                "CAST(format_string('col%02d', ci) AS BINARY) AS cell_name",
                "CAST(NULL AS BINARY) AS cell_name_max",
                "CAST(repeat('x', 40) AS BINARY) AS value",
                f"CAST({ts0} + ci AS LONG) AS ts",
                "CAST(NULL AS INT) AS ttl",
                "CAST(NULL AS INT) AS local_deletion_time",
                "CAST(NULL AS LONG) AS ts_of_last_delete",
            )
        )

    batch_keys = max(n_keys // 50, 1000)  # ~2% churn per batch

    def batch_cells(b: int):
        # even ids update an existing key (strided so updates spread over
        # the key space / all buckets), odd ids append a brand-new key
        key_expr = (
            f"IF(id % 2 = 0, (id * 997) % {n_keys}, "
            f"{n_keys} + {b} * {batch_keys} + id)"
        )
        return make_cells(key_expr, batch_keys, gen=b + 2, ts0=(b + 2) * 1000)

    base = compact(make_cells("id", n_keys, gen=1, ts0=1000),
                   keep_range_tombstones=True)
    n0 = base.count()
    print(f"initial snapshot: {n0} partitions x {cells_per_key} cells, "
          f"batch churn {batch_keys} keys x {n_batches} batches, "
          f"{buckets} buckets, {cpus} cores")

    results = {}
    for mode in ("bucketed", "plain"):
        for t in [r.tableName for r in spark.sql("SHOW TABLES").collect()]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        if mode == "bucketed":
            write_snapshot_bucketed(base, "snap_v0", buckets=buckets)
        else:
            base.write.mode("overwrite").format("parquet").saveAsTable("snap_v0")
        walls, shuf = [], []
        for b in range(n_batches):
            cur, nxt = f"snap_v{b}", f"snap_v{b + 1}"
            bc = batch_cells(b).localCheckpoint()  # generation out of timing
            s0 = shuffle_bytes()
            t0 = time.time()
            if mode == "bucketed":
                merge_bucketed(spark, bc, cur, nxt, buckets=buckets)
            else:
                rows = compact(bc, keep_range_tombstones=True)
                merge_compacted(spark.table(cur), rows).write.mode(
                    "overwrite").format("parquet").saveAsTable(nxt)
            walls.append(time.time() - t0)
            shuf.append(max(shuffle_bytes() - s0, 0))
            spark.sql(f"DROP TABLE {cur}")
        results[mode] = (walls, shuf)
        tail = walls[1:] or walls  # batch 0 carries JVM/codegen warmup
        print(f"{mode:9s}: per-batch wall "
              + " ".join(f"{w:.1f}s" for w in walls)
              + f" | steady max/min {max(tail) / min(tail):.2f}x")
        print(f"{mode:9s}: per-batch shuffle "
              + " ".join(f"{s / 1e6:.1f}MB" for s in shuf))

    final = spark.table(f"snap_v{n_batches}").count()
    exp = n0 + n_batches * (batch_keys // 2)  # odd ids are the new keys
    assert final == exp, (final, exp)
    bw, bs = results["bucketed"]
    pw, ps = results["plain"]
    bsm, psm = sum(bs[1:]) / 1e6, sum(ps[1:]) / 1e6
    print(f"steady-state (batches 2..{n_batches}): wall bucketed "
          f"{sum(bw[1:]):.1f}s vs plain {sum(pw[1:]):.1f}s; shuffle "
          f"bucketed {bsm:.0f}MB vs plain {psm:.0f}MB -> bucketing moves "
          f"{psm / max(bsm, 0.1):.1f}x fewer bytes per merge of the "
          f"{final}-row snapshot (the cluster-scale saving: the plain "
          f"path re-Exchanges the whole snapshot every batch)")
    spark.stop()
    os.chdir("/")
    shutil.rmtree(wd, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=400_000)
    ap.add_argument("--files", type=int, default=1,
                    help="number of synthetic sstables (--rows each); use "
                         "e.g. --rows 1000000 --files 8 for a multi-GB set")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--skew", action="store_true",
                    help="run the compact vs compact_salted skew benchmark instead")
    ap.add_argument("--temporal", action="store_true",
                    help="run the asof/interval join scale benchmark instead")
    ap.add_argument("--dedup", action="store_true",
                    help="run the MinHash+LSH+components scaling benchmark instead")
    ap.add_argument("--sketch", action="store_true",
                    help="run the sketch-vs-exact (KMV distinct + CMS "
                         "heavy-hitter) scaling benchmark instead")
    ap.add_argument("--semantic", action="store_true",
                    help="run the semantic-dedup k-scaling benchmark "
                         "(candidate pairs at N vs 2N, k scaled vs fixed)")
    ap.add_argument("--corpus-dedup", action="store_true",
                    help="cross-doc ngram + paragraph dedup scaling at N "
                         "and 2N docs")
    ap.add_argument("--pipeline-ma", action="store_true",
                    help="full 3.x pipeline: decode -> compact -> aeg-JSON "
                         "snapshot at stress scale")
    ap.add_argument("--rt", action="store_true",
                    help="range-tombstone sweep vs probe scaling in one "
                         "partition (--keys RTs, --rows cells)")
    ap.add_argument("--knn", action="store_true",
                    help="adaptive vs fixed LSH plane count: candidate "
                         "pairs and knn_join wall at N and 2N (--docs N)")
    ap.add_argument("--triangles", action="store_true",
                    help="degree-oriented triangle enumeration on a "
                         "hub-skewed graph: wedge-candidate bound vs "
                         "id-orientation (--keys vertices)")
    ap.add_argument("--hot-shingle", action="store_true",
                    help="max_shingle_df lever: LSH candidate growth on a "
                         "boilerplate-heavy corpus, capped vs uncapped "
                         "(--docs N, runs N and 2N)")
    ap.add_argument("--bti-plan", action="store_true",
                    help="BTI split-planning: cold boundary walk vs "
                         "offsets-cache sidecar vs executor prime "
                         "(--rows partitions per file, --files files)")
    ap.add_argument("--decode-ma", action="store_true",
                    help="run the 3.x (ma) distributed decode benchmark "
                         "(--rows partitions per file, --files files)")
    ap.add_argument("--incremental", action="store_true",
                    help="bucketed incremental-merge steady state: N ~2%% "
                         "churn batches into a growing snapshot (--keys "
                         "initial partitions), bucketed vs plain control")
    ap.add_argument("--batches", type=int, default=6)
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--keys", type=int, default=10_000)
    ap.add_argument("--hot-cells", type=int, default=3_000_000)
    ap.add_argument("--cold-keys", type=int, default=1_000_000)
    args = ap.parse_args()
    if args.knn and args.skew:
        knn_skew_bench(args.cpus, args.docs)
        return
    if args.skew:
        skew_bench(args.cpus, args.hot_cells, args.cold_keys)
        return
    if args.temporal:
        temporal_bench(args.cpus, args.rows, args.keys)
        return
    if args.dedup:
        dedup_bench(args.cpus, args.docs)
        return
    if args.sketch:
        sketch_bench(args.cpus, args.rows, args.keys)
        return
    if args.semantic:
        semantic_bench(args.cpus, args.docs)
        return
    if args.rt:
        rt_bench(args.cpus, args.keys, args.rows)
        return
    if args.knn:
        knn_bench(args.cpus, args.docs)
        return
    if args.triangles:
        triangles_bench(args.cpus, args.keys)
        return
    if args.hot_shingle:
        hot_shingle_bench(args.cpus, args.docs)
        return
    if args.bti_plan:
        bti_plan_bench(args.cpus, args.rows, args.files)
        return
    if args.decode_ma:
        decode_ma_bench(args.cpus, args.rows, args.files)
        return
    if args.pipeline_ma:
        pipeline_ma_bench(args.cpus, args.rows, args.files)
        return
    if args.corpus_dedup:
        corpus_dedup_bench(args.cpus, args.docs)
        return
    if args.incremental:
        incremental_bench(args.cpus, args.keys, args.batches)
        return

    from aegisthus_spark.session import get_spark

    d = tempfile.mkdtemp()
    path = make_sstable(d, args.rows)
    for g in range(2, args.files + 1):
        make_sstable(d, args.rows, gen=g)
    sz = os.path.getsize(path)
    total_sz = sz * args.files
    print(f"synthetic sstables: {args.files} x {sz / 1e6:.0f} MB "
          f"({total_sz / 1e9:.2f} GB total), {args.rows} rows x 5 cells each")

    with open(path, "rb") as fh, mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
        from aegisthus_spark.sstable.arrow_decode import scan_data_buffer_batches

        t = time.time()
        n = sum(b.num_rows for b in scan_data_buffer_batches(mm, version="jb"))
        dt = time.time() - t
        print(f"decode single-core (columnar -> Arrow): {n / dt / 1e6:.2f}M cells/s, {sz / dt / 1e6:.0f} MB/s")

        from aegisthus_spark.sstable import cparse

        if cparse.available():
            sum(b.num_rows for b in cparse.scan_data_buffer_batches(mm, version="jb"))  # warm
            t = time.time()
            n = sum(b.num_rows for b in cparse.scan_data_buffer_batches(mm, version="jb"))
            dt = time.time() - t
            print(f"decode single-core (C scanner -> Arrow): {n / dt / 1e6:.2f}M cells/s, {sz / dt / 1e6:.0f} MB/s")

    spark = get_spark("stress", cpus=args.cpus)
    from pyspark.sql import functions as F

    from aegisthus_spark.compact import compact
    from aegisthus_spark.sources import read_sstable_cells

    target = max(total_sz // args.cpus, 1 << 20)
    read_sstable_cells(spark, [d], target_bytes=target).count()  # warm
    t = time.time()
    n = read_sstable_cells(spark, [d], target_bytes=target).count()
    dt = time.time() - t
    print(f"distributed read ({args.cpus} cores): {n / dt / 1e6:.2f}M cells/s, "
          f"{total_sz / dt / 1e6:.0f} MB/s ({total_sz / dt / 1e6 / args.cpus:.0f} MB/s/core)")

    # decode-to-parquet staging: workers write parquet in C++ (no
    # Python->JVM Arrow hop), then Spark scans natively. First call pays
    # python-worker warm-up; report the warm numbers + the native re-scan.
    read_sstable_cells(spark, [d], target_bytes=target,
                       stage_dir=tempfile.mkdtemp()).count()  # warm
    sd = tempfile.mkdtemp()
    t = time.time()
    df_staged = read_sstable_cells(spark, [d], target_bytes=target, stage_dir=sd)
    n = df_staged.count()
    dt = time.time() - t
    print(f"stage-to-parquet + first scan ({args.cpus} cores): "
          f"{n / dt / 1e6:.2f}M cells/s, {total_sz / dt / 1e6:.0f} MB/s "
          f"({total_sz / dt / 1e6 / args.cpus:.0f} MB/s/core)")
    t = time.time()
    df_staged.count()
    dt = time.time() - t
    print(f"staged parquet re-scan: {n / dt / 1e6:.2f}M cells/s, "
          f"{total_sz / dt / 1e6:.0f} MB/s ({total_sz / dt / 1e6 / args.cpus:.0f} MB/s/core)")

    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    cells = li.select(
        F.lit("f").alias("source_path"), F.lit(1).alias("generation"),
        F.encode(F.col("l_orderkey").cast("string"), "UTF-8").alias("partition_key"),
        F.lit(-(1 << 63)).alias("row_deleted_at"), F.lit("c").alias("kind"),
        F.encode(F.concat_ws(":", "l_linenumber", "l_partkey"), "UTF-8").alias("cell_name"),
        F.lit(None).cast("binary").alias("cell_name_max"),
        F.encode(F.format_string("%.2f", F.col("l_extendedprice")), "UTF-8").alias("value"),
        F.col("l_partkey").cast("long").alias("ts"),
        F.lit(None).cast("int").alias("ttl"),
        F.lit(None).cast("int").alias("local_deletion_time"),
        F.lit(None).cast("long").alias("ts_of_last_delete"),
    )
    nc = cells.count()
    t = time.time()
    nr = compact(cells).count()
    dt = time.time() - t
    print(f"compact: {nc} cells -> {nr} rows, {nc / dt / 1e6:.2f}M cells/s")

    wide = spark.range(2_000_000).select(
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
    r = compact(wide, max_row_size=1_000_000).collect()
    dt = time.time() - t
    print(f"wide-row guard (2M cells, 1 key): {dt:.1f}s, "
          f"truncated={r[0].row_too_big}, kept={len(r[0].columns)} cells")


if __name__ == "__main__":
    main()
