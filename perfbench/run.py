#!/usr/bin/env python3
"""Benchmark of the snapshot job (``aegisthus_spark.job``), end to end and
layer by layer.

    python3 perfbench/run.py --workload merge_json --seed 1 --seconds 12 --trace 0

Run from the repository root. One invocation generates (or reuses) the
seeded corpus of one workload, starts one Spark session on ``local[N]``
(N = the cores this process may use), sets up, then runs the job again and
again until ``--seconds`` have passed. Every pass copies the corpus to a
fresh input directory, runs the job's CLI entry point into a fresh output
directory and checks the snapshot against the corpus model.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one traced
pass of each prefix of the pipeline (plan, decode, compact, [cql], full
job) plus the single-core decode kernel and prints the per-layer metrics.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. DESIGN.md describes
the workloads, the metrics and the layer map.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import corpus  # noqa: E402

#: untimed passes after the session starts. The first runs on a corpus
#: COLD_SCALE the size, made from the same seed: it pays JVM start-up, code
#: generation and Python worker start, which barely depend on input size.
#: The others run on the real corpus while the JIT settles.
WARMUPS = 3
COLD_SCALE = 0.1
#: timed passes per run: at least MIN, then more until --seconds have passed
MIN_TIMED, MAX_TIMED = 4, 40
#: rounds of traced passes (each prefix, full job, untraced full job); the
#: per-layer times are medians over the rounds. No round starts that would
#: likely end TRACE_DEADLINE_S after process start, so a traced run on a
#: slow host still ends well within three minutes.
TRACE_ROUNDS = 3
TRACE_DEADLINE_S = 130

E2E_UNITS = {
    "job_s": "s",
    "input_mb_s": "MB/s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
    "ok_rate": "ratio",
}

LAYER_UNITS = {
    "sources.plan_s": "s",
    "sources.files": "count",
    "sources.splits": "count",
    "sstable.decode_s": "s",
    "sstable.proc_cpu_s": "s",
    "sstable.cells": "count",
    "sstable.core_util": "ratio",
    "sstable.kernel_mb_s": "MB/s",
    "compact.self_s": "s",
    "compact.shuffle_mb": "MB",
    "compact.spill_mb": "MB",
    "compact.gc_s": "s",
    "compact.tasks": "count",
    "compact.cells_per_row": "ratio",
    "sink.self_s": "s",
    "sink.mb": "MB",
    "sstable.writer.self_s": "s",
    "sstable.writer.mb": "MB",
    "job.spark_jobs": "count",
    "job.tasks": "count",
    "trace.remainder_s": "s",
    "trace.overhead_ratio": "ratio",
    "setup.cold_s": "s",
    "corpus.gen_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file the program and Spark write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # the Python workers import the program from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the job runs with its own default driver heap
    os.environ.pop("AEGISTHUS_DRIVER_MEM", None)
    # every JVM, Spark's launcher included: temp files in the checkout, and
    # no hsperfdata files in the system's /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def job_argv(workload: str, inp: str, out: str) -> list[str]:
    argv = ["--input-dir", inp, "--output", out]
    if workload == "priam_cql_avro":
        argv += ["--cql-schema", corpus.CQL_DDL]
    return argv


class Runner:
    """Runs passes of one workload's job over one corpus."""

    def __init__(self, workload: str, meta: dict, cold_meta: dict, run_dir: str) -> None:
        self.workload = workload
        self.meta = meta
        self.cold_meta = cold_meta
        self.run_dir = run_dir
        self.n = 0
        self.passes: list[dict] = []
        self.spark = None
        self.driver_mem = None

    def fresh_input(self, meta: dict | None = None) -> tuple[str, str]:
        """A private copy of the corpus (new paths, new inodes, new mtimes)
        and an output path for the next pass, which starts from a collected
        heap: G1 shrinks it to fit what is live, so a pass's peak RSS does
        not depend on how far earlier passes grew the heap."""
        self.spark._jvm.System.gc()
        self.n += 1
        d = os.path.join(self.run_dir, f"pass{self.n}")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree((meta or self.meta)["dir"], os.path.join(d, "in"),
                        copy_function=shutil.copyfile)
        return os.path.join(d, "in"), os.path.join(d, "out")

    def job_pass(self, kind: str, tracer=None, meta: dict | None = None) -> dict:
        """One full job pass, checked; the pass's directory is removed."""
        import check
        import procstat
        from aegisthus_spark import job

        meta = meta or self.meta
        inp, out = self.fresh_input(meta)
        rec = {"kind": kind, "n": self.n}
        stdout = io.StringIO()
        try:
            cpu0 = procstat.tree_cpu_s()
            with procstat.RssSampler() as rss, contextlib.redirect_stdout(stdout):
                t0 = time.perf_counter()
                if tracer is None:
                    job.main(job_argv(self.workload, inp, out))
                else:
                    with tracer.span("job", self.n):
                        job.main(job_argv(self.workload, inp, out))
                rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = procstat.tree_cpu_s() - cpu0
            rec["peak_rss_mb"] = rss.peak_mb
            rec["report"] = stdout.getvalue().strip()
            rec["out_bytes"] = check.output_bytes(out)
            rec["error"] = check.check_output(self.workload, out, meta)
            if self.workload == "priam_cql_avro" and "format=avro-ocf" not in rec["report"]:
                rec["error"] = f"sink did not report avro-ocf: {rec['report']!r}"
        except Exception as e:  # a failed pass is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
            log(traceback.format_exc())
        shutil.rmtree(os.path.dirname(inp), ignore_errors=True)
        if rec["error"]:
            log(f"pass {self.n} ({kind}) failed: {rec['error']}")
        self.passes.append(rec)
        return rec

    def set_up(self, gen_s: float) -> float:
        """Start the Spark session and run WARMUPS untimed passes. Returns
        the set-up time: from process start until the first timed pass can
        begin, without the corpus generation."""
        from aegisthus_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.driver_mem = self.spark.sparkContext.getConf().get("spark.driver.memory")
        self.job_pass("setup", meta=self.cold_meta)
        for _ in range(WARMUPS - 1):
            self.job_pass("setup")
        return time.time() - T_START - gen_s

    def stop(self) -> None:
        """Stop Spark and wait until every child process has ended."""
        import procstat
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline:
            rest = [p for p in procstat.tree_pids() if p != os.getpid()]
            if not rest:
                return
            time.sleep(0.2)
        for p in rest:
            with contextlib.suppress(OSError):
                os.kill(p, 9)


def e2e_metrics(runner: Runner, timed: list[dict], setup_s: float) -> dict:
    ok = [p for p in timed if not p["error"]]
    if not ok:
        return {}
    job_s = statistics.median(p["wall_s"] for p in ok)
    in_bytes = runner.meta["data_bytes"]
    attempted = len(runner.passes)
    failed = sum(1 for p in runner.passes if p["error"])
    return {
        "job_s": job_s,
        "input_mb_s": in_bytes / 1e6 / job_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in ok),
        "setup_s": setup_s,
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in ok),
        "out_bytes_per_in_byte": ok[-1]["out_bytes"] / in_bytes,
        "ok_rate": (attempted - failed) / attempted,
    }


def kernel_scan(partitions: list[list[tuple]]) -> dict:
    """Single-core, in-process decode of every planned split with the C
    scanner (and chunk decompression for compressed files)."""
    import mmap

    from aegisthus_spark.sstable import cparse
    from aegisthus_spark.sstable.compression import CompressionInfo, decompress_chunk

    if not cparse.available():
        raise RuntimeError("C scanner unavailable")
    cells = nbytes = 0
    t_dec = t_scan = 0.0
    for part in partitions:
        for path, start, end, version, gen, comp in part:
            kw = dict(version=version, source_path=path, generation=gen)
            if comp:
                t0 = time.perf_counter()
                info = CompressionInfo.read_path(comp)
                with open(path, "rb") as f:
                    raw = f.read()
                chunks = []
                for i, (off, clen) in enumerate(info.chunk_ranges(len(raw))):
                    ulen = min(info.chunk_length, info.data_length - i * info.chunk_length)
                    chunks.append(decompress_chunk(info.compressor, raw[off:off + clen], ulen))
                buf = b"".join(chunks)
                t1 = time.perf_counter()
                for b in cparse.scan_data_buffer_batches(buf, start=start, end=end, **kw):
                    cells += b.num_rows
                t_dec += t1 - t0
                t_scan += time.perf_counter() - t1
            else:
                with open(path, "rb") as fh, mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
                    t0 = time.perf_counter()
                    for b in cparse.scan_data_buffer_batches(mm, start=start, end=end, **kw):
                        cells += b.num_rows
                    t_scan += time.perf_counter() - t0
            nbytes += os.path.getsize(path) if comp else end - start
    return {"cells": cells, "bytes": nbytes, "decompress_s": t_dec, "scan_s": t_scan}


def traced_run(runner: Runner, setup_s: float, gen_s: float) -> dict:
    """Up to TRACE_ROUNDS rounds of one traced pass per pipeline prefix,
    the traced full job and an untraced full job; then the single-core
    kernel. Times are medians over the rounds."""
    import check
    import procstat
    import spans
    from aegisthus_spark import job
    from aegisthus_spark.compact import cleanse
    from aegisthus_spark.cql import cql_rows
    from aegisthus_spark.sources import sstable_source as src
    from aegisthus_spark.sstable import write_sstable

    tracer = spans.Tracer(runner.spark)
    wl = runner.workload
    plan: dict = {}

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def plan_only(i: str, o: str) -> None:
        plan["files"] = src.discover_data_files([i])
        plan["partitions"] = src.plan_partitions(plan["files"])

    prefixes = [
        ("sources.plan", plan_only),
        ("sstable.decode", lambda i, o: noop(src.read_sstable_cells(runner.spark, [i]))),
        ("compact", lambda i, o: noop(job.compact_snapshot(runner.spark, [i]))),
    ]
    if wl == "priam_cql_avro":
        prefixes.append(("cql", lambda i, o: noop(
            cql_rows(cleanse(job.compact_snapshot(runner.spark, [i])), corpus.CQL_DDL))))
    # the SSTable sink is not on either workload's job path; it is traced
    # on the same compacted rows so the writer layer is measured too
    prefixes.append(("sstable.writer", lambda i, o: write_sstable(
        job.compact_snapshot(runner.spark, [i]), o)))

    # the full job, with the planning calls on the Spark driver timed in place
    in_pass_plan: list[float] = []
    originals = {f: getattr(src, f) for f in ("discover_data_files", "plan_partitions")}

    def timed(fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                in_pass_plan[-1] += time.perf_counter() - t0
        return wrapper

    cpu: dict[str, list[float]] = {}
    writer_mb = 0.0
    fulls, untraced = [], []
    round_s = 0.0
    for r in range(TRACE_ROUNDS):
        if r and time.time() - T_START + round_s > TRACE_DEADLINE_S:
            log(f"stopping after {r} traced rounds: another would end "
                f"more than {TRACE_DEADLINE_S} s after start")
            break
        t_round = time.time()
        for name, fn in prefixes:
            inp, out = runner.fresh_input()
            c0 = procstat.tree_cpu_s()
            with tracer.span(name, runner.n):
                fn(inp, out)
            cpu.setdefault(name, []).append(procstat.tree_cpu_s() - c0)
            if os.path.isdir(out):
                writer_mb = check.output_bytes(out) / 1e6
            shutil.rmtree(os.path.dirname(inp))
        in_pass_plan.append(0.0)
        for f, fn in originals.items():
            setattr(src, f, timed(fn))
        try:
            fulls.append(runner.job_pass("traced", tracer))
        finally:
            for f, fn in originals.items():
                setattr(src, f, fn)
        untraced.append(runner.job_pass("untraced"))
        round_s = time.time() - t_round

    inp, _ = runner.fresh_input()
    kparts = src.plan_partitions(src.discover_data_files([inp]))
    kernel_scan(kparts[:1])  # load the scanner outside the timing
    kern = kernel_scan(kparts)
    shutil.rmtree(os.path.dirname(inp))

    def wall(name: str) -> float:
        return statistics.median(s["wall_s"] for s in tracer.spans if s["name"] == name)

    def stat(name: str, key: str) -> float:
        return statistics.median(s["spark"][key] for s in tracer.spans if s["name"] == name)

    jobs = [s for s in tracer.spans if s["name"] == "job"]
    last = "cql" if wl == "priam_cql_avro" else "compact"
    full_s = wall("job")
    kernel_s = kern["decompress_s"] + kern["scan_s"]
    ok_untraced = [p["wall_s"] for p in untraced if "wall_s" in p]
    untraced_s = statistics.median(ok_untraced) if ok_untraced else None
    # the self times telescope: decode + compact + [cql] + sink = full_s
    self_s = {
        "compact.self_s": wall("compact") - wall("sstable.decode"),
        "sink.self_s": full_s - wall(last),
        "sstable.writer.self_s": wall("sstable.writer") - wall("compact"),
    }
    detail = {
        "trace.rounds": len(fulls),
        "sstable.kernel_decompress_s": kern["decompress_s"],
        "sstable.kernel_scan_s": kern["scan_s"],
        "trace.full_pass_s": full_s,
        "trace.untraced_pass_s": untraced_s,
        "trace.spark_job_wall_s": stat("job", "job_wall_s"),
        "trace.in_pass_plan_s": statistics.median(in_pass_plan),
    }
    if last == "cql":
        self_s["cql.self_s"] = wall("cql") - wall("compact")
        detail["cql.self_s"] = self_s["cql.self_s"]
    negative = sorted(k for k, v in self_s.items() if v < 0)
    if negative:
        log(f"negative self time (prefix noise exceeds the layer's cost): {negative}")
    detail["trace.negative_self"] = negative
    metrics = {
        "sources.plan_s": wall("sources.plan"),
        "sources.files": len(plan["files"]),
        "sources.splits": len(plan["partitions"]),
        "sstable.decode_s": wall("sstable.decode"),
        "sstable.proc_cpu_s": statistics.median(cpu["sstable.decode"]),
        "sstable.cells": kern["cells"],
        "sstable.core_util": statistics.median(
            s["spark"]["run_s"] / (s["wall_s"] * cores())
            for s in tracer.spans if s["name"] == "sstable.decode"),
        "sstable.kernel_mb_s": kern["bytes"] / 1e6 / kernel_s,
        "compact.self_s": self_s["compact.self_s"],
        "compact.shuffle_mb": stat("compact", "shuffle_write_mb"),
        "compact.spill_mb": stat("compact", "spill_mb"),
        "compact.gc_s": stat("compact", "gc_s"),
        "compact.tasks": stat("compact", "tasks") - stat("sstable.decode", "tasks"),
        "compact.cells_per_row": kern["cells"] / runner.meta["partitions"],
        "sink.self_s": self_s["sink.self_s"],
        "sink.mb": (fulls[-1].get("out_bytes") or 0) / 1e6,
        "sstable.writer.self_s": self_s["sstable.writer.self_s"],
        "sstable.writer.mb": writer_mb,
        "job.spark_jobs": stat("job", "jobs"),
        "job.tasks": stat("job", "tasks"),
        "trace.remainder_s": statistics.median(
            s["wall_s"] - plan_s - s["spark"]["job_wall_s"]
            for s, plan_s in zip(jobs, in_pass_plan)),
        "trace.overhead_ratio": full_s / untraced_s if untraced_s else 0.0,
        "setup.cold_s": setup_s,
        "corpus.gen_s": gen_s,
    }
    return {"metrics": metrics, "detail": detail, "spans": tracer.spans}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=corpus.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("aegisthus_spark/job.py", "tools/isolation.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"program files missing under {ROOT}: {missing}; run from a full checkout")
        return 2
    prepare_env()
    sys.path.insert(0, ROOT)
    from tools import isolation

    stamp_start = isolation.snapshot()
    cache = os.path.join(WORK, "corpus")
    t_gen = time.perf_counter()
    meta = corpus.ensure(args.workload, args.seed, cache)
    cold_meta = corpus.ensure(args.workload, args.seed, cache, scale=COLD_SCALE)
    gen_s = time.perf_counter() - t_gen
    log(f"corpus {args.workload} seed {args.seed}: {meta['data_files']} files, "
        f"{meta['data_bytes'] / 1e6:.1f} MB, {meta['rows']} rows, "
        f"generated in {meta['gen_s']:.2f} s{' (cached)' if meta['cached'] else ''}")

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    runner = Runner(args.workload, meta, cold_meta, run_dir)
    try:
        setup_s = runner.set_up(gen_s)
        if args.trace:
            traced = traced_run(runner, setup_s, meta["gen_s"])
            metrics, units = traced["metrics"], LAYER_UNITS
        else:
            timed = []
            t0 = time.perf_counter()
            while len(timed) < MAX_TIMED and (
                len(timed) < MIN_TIMED or time.perf_counter() - t0 < args.seconds
            ):
                timed.append(runner.job_pass("timed"))
            metrics, units = e2e_metrics(runner, timed, setup_s), E2E_UNITS
    finally:
        runner.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for p in runner.passes if p["error"])
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": len(runner.passes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores(), "driver_mem": runner.driver_mem,
        "isolation_start": stamp_start,
        "isolation_end": isolation.snapshot(check_load=False),
        "corpus": {k: meta[k] for k in ("data_files", "data_bytes", "rows", "gen_s", "cached")},
        "setup_s": setup_s,
        "passes": [{k: v for k, v in p.items() if k != "report"} for p in runner.passes],
    }
    if args.trace:
        stamp["layers"] = traced["detail"]
        stamp["spans"] = traced["spans"]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**stamp, "result": result}, f, indent=1)
    print("perfbench-stamp: " + json.dumps(
        {k: stamp[k] for k in ("workload", "seed", "cores", "driver_mem",
                                           "isolation_start", "isolation_end")}))
    if args.trace:
        print("perfbench-layers: " + json.dumps(traced["detail"]))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
