"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

Generator determinism and the output check run without Spark. The metric
report tests run ``run.py`` end to end on the real corpora (one to two
minutes each).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import check  # noqa: E402
import corpus  # noqa: E402


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", corpus.WORKLOADS)
def test_same_seed_gives_byte_identical_corpus(tmp_path, workload):
    a = corpus.generate(workload, 5, str(tmp_path / "a"), scale=0.02)
    b = corpus.generate(workload, 5, str(tmp_path / "b"), scale=0.02)
    c = corpus.generate(workload, 6, str(tmp_path / "c"), scale=0.02)
    assert a == b
    assert tree_digest(str(tmp_path / "a")) == tree_digest(str(tmp_path / "b"))
    assert tree_digest(str(tmp_path / "a")) != tree_digest(str(tmp_path / "c"))
    assert a["digest"] != c["digest"]


def test_corpus_cache_reuses_and_evicts(tmp_path):
    first = corpus.ensure("merge_json", 1, str(tmp_path), keep=1, scale=0.01)
    again = corpus.ensure("merge_json", 1, str(tmp_path), keep=1, scale=0.01)
    assert not first["cached"] and again["cached"]
    assert again["gen_s"] == first["gen_s"]
    corpus.ensure("merge_json", 2, str(tmp_path), keep=1, scale=0.01)
    assert not os.path.exists(os.path.dirname(first["dir"]))


def _merged_2x(seed: int):
    import random

    rng = random.Random(seed)
    keys, gens = corpus._model_2x(rng, 300, 3, 0.6, p_row_tomb=0.2)
    return corpus.merge_2x(keys, gens.values())


def _flip_one_value(merged: dict) -> dict:
    """A copy of the merged rows with one live cell's value changed."""
    out = {k: (d, dict(c)) for k, (d, c) in merged.items()}
    for key, (_d, cells) in out.items():
        for name, (kind, value, ts, ttl, ldt) in cells.items():
            if kind == "c":
                cells[name] = (kind, value[:-1] + bytes([value[-1] ^ 1]), ts, ttl, ldt)
                return out
    raise AssertionError("no live cell")


def _meta(canonical_rows) -> dict:
    dig = corpus.Digest()
    for r in canonical_rows:
        dig.add(r)
    return dig.as_dict()


def _write_json_snapshot(d, merged):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.txt"), "w") as f:
        for k, (deleted_at, cells) in merged.items():
            f.write(corpus.aeg_json_line(k, deleted_at, cells) + "\n")


def test_json_check_rejects_one_flipped_value(tmp_path):
    merged = _merged_2x(1)
    meta = _meta(corpus.aeg_json_line(k, d, c).encode() for k, (d, c) in merged.items())
    _write_json_snapshot(tmp_path / "good", merged)
    _write_json_snapshot(tmp_path / "bad", _flip_one_value(merged))
    assert check.check_output("merge_json", str(tmp_path / "good"), meta) is None
    assert "mismatch" in check.check_output("merge_json", str(tmp_path / "bad"), meta)


def test_avro_check_rejects_flipped_value_and_stale_cells(tmp_path):
    from pyspark.sql import types as T

    from aegisthus_spark.avro_out import write_ocf_file

    schema = T.StructType([
        T.StructField("pk", T.StringType()), T.StructField("ck", T.IntegerType()),
        T.StructField("name", T.StringType()), T.StructField("score", T.LongType()),
        T.StructField("ratio", T.DoubleType()), T.StructField("flag", T.BooleanType()),
        T.StructField("payload", T.BinaryType()),
    ])
    rows = [
        {"pk": f"user-{i}", "ck": i % 7, "name": None if i % 5 == 0 else f"n{i}",
         "score": -(1 << 40) + i, "ratio": i / 3.0, "flag": i % 2 == 0,
         "payload": bytes([i % 256]) * 3}
        for i in range(200)
    ]
    meta = _meta(corpus.cql_row_canonical(r["pk"], r["ck"], r) for r in rows)
    os.makedirs(tmp_path / "good")
    write_ocf_file(str(tmp_path / "good" / "part-00000.avro"), rows, schema)
    assert check.check_output("priam_cql_avro", str(tmp_path / "good"), meta) is None

    bad = [dict(r) for r in rows]
    bad[17]["score"] += 1
    os.makedirs(tmp_path / "bad")
    write_ocf_file(str(tmp_path / "bad" / "part-00000.avro"), bad, schema)
    assert "mismatch" in check.check_output("priam_cql_avro", str(tmp_path / "bad"), meta)

    stale = [dict(r) for r in rows]
    stale[3]["name"] = corpus.STALE_MARK
    os.makedirs(tmp_path / "stale")
    write_ocf_file(str(tmp_path / "stale" / "part-00000.avro"), stale, schema)
    assert "stale" in check.check_output("priam_cql_avro", str(tmp_path / "stale"), meta)


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args, cwd) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [("merge_json", "0"), ("priam_cql_avro", "1")])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    spec = _benchmark_spec()
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "merge_json", "--seed", "1", "--seconds", "1", "--trace", "0"],
             str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
