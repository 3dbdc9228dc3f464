"""Streaming tests: incremental snapshot maintenance converges to the batch
compact() result, and event-stream operators match their batch equivalents
at sf0.001."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import LEGACY, TESTDATA, with_reference

SF_DIR = "/root/testdata/sf0.001"


def _cells_df(spark, input_dir):
    from aegisthus_spark.sstable import scan_file
    from tests.conftest import CELLS_SCHEMA

    fields = ("source_path", "generation", "partition_key", "row_deleted_at",
              "kind", "cell_name", "cell_name_max", "value", "ts", "ttl",
              "local_deletion_time", "ts_of_last_delete")
    files = sorted(
        f
        for f in glob.glob(f"{input_dir}/**/*-Data.db", recursive=True)
        if ".idx" not in os.path.basename(f)
    )
    rows = [tuple(c[k] for k in fields) for f in files for c in scan_file(f)]
    return spark.createDataFrame(rows, CELLS_SCHEMA), files


def test_incremental_snapshot_converges(spark, tmp_path):
    """Feed generations in two batches; final snapshot == one-shot compact."""
    from aegisthus_spark.compact import compact
    from aegisthus_spark.output import to_aeg_json
    from aegisthus_spark.streaming import start_incremental_snapshot
    from aegisthus_spark.streaming.incremental import (
        latest_snapshot_version,
        read_snapshot,
    )

    # legacy jb: two overlapping generations, one per arrival batch
    inputs = with_reference(f"{LEGACY}/jb", f"{TESTDATA}/2.0.10/randomtable/input")
    for n, input_dir in enumerate(inputs):
        tmp = tmp_path / f"pass{n}"
        cells, files = _cells_df(spark, input_dir)
        cells = cells.cache()
        half = files[len(files) // 2]

        cells_dir = str(tmp / "cells")
        os.makedirs(cells_dir)
        # two arrival batches: first half of the generations, then the rest
        cells.filter(F.col("source_path") < half).coalesce(1).write.parquet(
            f"{cells_dir}/batch0.parquet"
        )
        cells.filter(F.col("source_path") >= half).coalesce(1).write.parquet(
            f"{cells_dir}/batch1.parquet"
        )

        snap_root = str(tmp / "snapshot")
        q = start_incremental_snapshot(
            spark,
            cells_dir,
            snap_root,
            str(tmp / "ckpt"),
            max_files_per_trigger=1,
            available_now=True,
        )
        q.awaitTermination(120)
        assert latest_snapshot_version(snap_root) >= 1  # merged in >= 2 batches

        from aegisthus_spark.streaming.incremental import strip_range_tombstones

        final = read_snapshot(spark, snap_root)
        got = sorted(r.value for r in to_aeg_json(strip_range_tombstones(final)).collect())
        want = sorted(r.value for r in to_aeg_json(compact(cells)).collect())
        assert got == want


def test_stream_daily_rollup_matches_batch(spark, tmp_path):
    from aegisthus_spark.streaming import read_events_stream, stream_daily_rollup

    from aegisthus_spark.queries import _events

    events = _events(spark, SF_DIR)
    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    q = (
        stream_daily_rollup(stream)
        .writeStream.format("memory")
        .queryName("rollup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("select * from rollup").collect()
    }
    want = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in events.groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    }
    assert got == want


def test_stream_sessionize_matches_batch(spark):
    from aegisthus_spark.streaming import read_events_stream, stream_sessionize

    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    q = (
        stream_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    per_user = (
        spark.sql("select * from sessions")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    got = {(r.user_id): (r.n_sessions, r.n_events) for r in per_user.collect()}

    # batch oracle: the registered ev_sessionize query (lag + running sum)
    import __spark_entry__ as entry

    want = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in entry.queries()["ev_sessionize"](spark, SF_DIR).collect()
    }
    assert got == want


def test_stream_latest_per_user_matches_batch(spark):
    from aegisthus_spark.streaming import read_events_stream, stream_latest_per_user

    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    q = (
        stream_latest_per_user(stream)
        .writeStream.format("memory")
        .queryName("latest")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode may emit a row per batch; keep the newest per user,
    # tie-breaking on event_id exactly as the stateful operator does
    got = {
        r.user_id: (r.ts, r.event_type)
        for r in spark.sql(
            "select user_id, max_by(ts, struct(ts, event_id)) ts, "
            "max_by(event_type, struct(ts, event_id)) event_type "
            "from latest group by user_id"
        ).collect()
    }
    from aegisthus_spark.queries import _events

    events = _events(spark, SF_DIR)
    want = {
        r.user_id: (r.ts, r.event_type)
        for r in events.groupBy("user_id")
        .agg(
            F.max_by("ts", F.struct("ts", "event_id")).alias("ts"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("event_type"),
        )
        .collect()
    }
    # deterministic contract: full (ts, event_type) equality, not just ts
    assert got == want


def test_stream_dedup_bounded_state(spark, tmp_path):
    """Watermarked dropDuplicatesWithinWatermark: (a) equals the batch
    DISTINCT on bounded input, (b) actually EVICTS state once the watermark
    passes a key's event time — the property that makes it safe on an
    unbounded 100 TB ingest."""
    from aegisthus_spark.queries import _events
    from aegisthus_spark.streaming import read_events_stream
    from aegisthus_spark.streaming.events import stream_dedup

    events = _events(spark, SF_DIR).cache()
    mid = int(events.selectExpr("percentile(unix_micros(ts), 0.5) p").collect()[0].p)
    in_dir = str(tmp_path / "events_in")
    # two arrival batches split by event time, so the watermark set by
    # batch 0 is far behind batch 1's data and cleanup must fire between
    events.filter(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(f"{in_dir}/b0.parquet")
    events.filter(F.unix_micros("ts") > mid).coalesce(1).write.parquet(f"{in_dir}/b1.parquet")

    stream = read_events_stream(spark, in_dir, max_files_per_trigger=1)
    q = (
        stream_dedup(stream, keys=("event_id",), watermark="1 day")
        .writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = q.recentProgress

    got = spark.sql("select count(distinct event_id) n from dedup_wm").collect()[0].n
    want = events.select("event_id").distinct().count()
    assert got == want

    # state eviction: across the multi-batch drain some batch must report
    # rows removed from the dedup state operator
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert removed > 0, "watermark never evicted dedup state"


def test_stream_stream_join_matches_batch_and_evicts(spark, tmp_path):
    """Stream-stream purchase x click join: (a) equals the batch theta
    join on bounded input, (b) the time-range condition + watermarks
    actually EVICT buffered join state as the watermark advances — the
    property that bounds memory on an unbounded ingest."""
    from aegisthus_spark.queries import _events
    from aegisthus_spark.streaming import read_events_stream
    from aegisthus_spark.streaming.events import stream_stream_join

    events = _events(spark, SF_DIR).cache()
    mid = int(events.selectExpr("percentile(unix_micros(ts), 0.5) p").collect()[0].p)
    in_dir = str(tmp_path / "events_in")
    events.filter(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(f"{in_dir}/b0.parquet")
    events.filter(F.unix_micros("ts") > mid).coalesce(1).write.parquet(f"{in_dir}/b1.parquet")

    stream = read_events_stream(spark, in_dir, max_files_per_trigger=1)
    q = (
        stream_stream_join(stream)
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = q.recentProgress

    got = {tuple(r) for r in spark.sql("select p_id, c_id from ssj").collect()}
    p = events.filter("event_type = 'purchase'").selectExpr(
        "event_id p_id", "user_id", "ts p_ts")
    c = events.filter("event_type = 'click'").selectExpr(
        "event_id c_id", "user_id c_user", "ts c_ts")
    want = {
        (r.p_id, r.c_id)
        for r in p.join(
            c,
            (p.user_id == c.c_user)
            & (c.c_ts <= p.p_ts)
            & (c.c_ts >= p.p_ts - F.expr("interval 30 minutes")),
        ).collect()
    }
    assert got == want and len(want) > 0

    removed = sum(
        op.get("numRowsRemoved", 0)
        for pr in progress
        for op in pr.get("stateOperators", [])
    )
    assert removed > 0, "watermark never evicted join state"


def test_incremental_snapshot_typed_sort_key_rt_across_merges(spark, tmp_path):
    """The typed incremental path: a range tombstone over VARIABLE-LENGTH
    UTF8 clustering arrives one merge AFTER the cells it shadows — the
    name_sort_key passed to merge_batch must apply it through the
    rows_to_cells round-trip (raw bytes would rank 'ab' above bound 'c'
    and resurrect the cell)."""
    from aegisthus_spark.sources import read_sstable_cells
    from aegisthus_spark.sstable.modern import (
        header_for_data_file,
        name_sort_key_for_header,
    )
    from aegisthus_spark.sstable.modern_writer import UTF8, write_sstable_ma
    from aegisthus_spark.streaming.incremental import (
        merge_batch,
        read_snapshot,
    )

    kw = dict(clustering_types=[UTF8], regular_columns=[(b"val", UTF8)])
    d1 = tmp_path / "g1"
    d2 = tmp_path / "g2"
    write_sstable_ma(
        str(d1),
        [{"key": b"k", "rows": [
            {"clustering": [b"ab"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"doomed"}]},
            {"clustering": [b"zz"], "liveness": (100,),
             "cells": [{"column": b"val", "value": b"survivor"}]},
        ]}],
        generation=1, **kw,
    )
    from aegisthus_spark.sstable.modern import (
        KIND_INCL_END_BOUND,
        KIND_INCL_START_BOUND,
    )

    write_sstable_ma(
        str(d2),
        [{"key": b"k", "rows": [
            {"marker": KIND_INCL_START_BOUND, "clustering": [b"a"],
             "deletion": (5000, 1442880500)},
            {"marker": KIND_INCL_END_BOUND, "clustering": [b"c"],
             "deletion": (5000, 1442880500)},
        ]}],
        generation=2, **kw,
    )
    sk = name_sort_key_for_header(
        header_for_data_file(str(d1 / "ma-1-big-Data.db"))
    )
    snap_root = str(tmp_path / "snap")
    merge_batch(spark, read_sstable_cells(spark, [str(d1)]), snap_root,
                name_sort_key=sk)
    merge_batch(spark, read_sstable_cells(spark, [str(d2)]), snap_root,
                name_sort_key=sk)
    final = read_snapshot(spark, snap_root)
    vals = set()
    for r in final.collect():
        for c in r.columns:
            if c.kind == "c" and c.value not in (None, b""):
                vals.add(bytes(c.value))
    assert b"survivor" in vals and b"doomed" not in vals, vals


def test_stream_parts_derives_from_input_size(spark, tmp_path):
    """r15: the streaming shuffle-partition count is DERIVED from the
    source size (floor 2, capped at the session default, session default
    when the path cannot be stat'd) instead of a fixed local constant."""
    from aegisthus_spark.queries import _stream_parts

    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)  # ~1 KB -> floor
    assert _stream_parts(spark, str(small)) == 2
    assert _stream_parts(spark, str(small), floor=8) == 8
    # a directory sums its files; 3 x 48 MB at 32 MB/part -> 5 parts
    d = tmp_path / "dir"
    d.mkdir()
    for i in range(3):
        with open(d / f"f{i}", "wb") as fh:
            fh.truncate(48 << 20)
    expect = min(session, -(-3 * (48 << 20) // (32 << 20)))
    assert _stream_parts(spark, str(d)) == max(2, expect)
    # un-stat-able (remote) input falls back to the session default
    assert _stream_parts(spark, str(tmp_path / "nope")) == session
