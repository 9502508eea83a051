#!/usr/bin/env python3
"""Benchmark of the ``multithreaded_map_reduce_spark`` engine.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 34 --trace 0

One process, one client, closed loop: the workload's jobs run back to
back in passes. After set-up, every job's output is checked once against
its DuckDB oracle; the check is the first run of every job and is not
timed. Unmeasured warm-up passes then run for the first quarter of
``--seconds``, and passes are measured for the rest (at least three);
peak memory is taken over the measured passes only. Inputs are
generated from ``--seed`` into a scratch directory under
``perfbench/.work`` that is removed at exit.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` reports its per-layer metrics instead: a traced first pass
(``first_pass_s``) runs before the check, then, after the same warm-up,
untraced passes alternate with traced ones (spans and Spark stage
metrics around every job), then scan and tokenize probes run. The spans
and per-job stage metrics are written to
``perfbench/.out/trace-<workload>-<seed>.json``.

Every metric prints as ``name value unit``; the last line of standard
output is the JSON result.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import session_start

HERE = session_start.HERE
ROOT = session_start.ROOT
WORKLOADS = ("corpus_dedup", "mapreduce_text")
MIN_PASSES = 3
WARM_UP_SHARE = 1 / 4  # of --seconds
PROBE_REPS = 3
# traced span name -> per-layer metric (median over traced passes)
SPAN_METRICS = {
    "sources.text.index": "sources.text.index_s",
    "mapreduce.word_counter": "mapreduce.word_counter.s",
    "mapreduce.inverted_index": "mapreduce.inverted_index.s",
    "mapreduce.grep": "mapreduce.grep.s",
    "sink.write": "sink.write_s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    """Runs a workload's jobs in passes and counts job runs and errors."""

    def __init__(self, wl, ctx, stages):
        self.wl, self.ctx, self.stages = wl, ctx, stages
        self.runs: collections.Counter[str] = collections.Counter()
        self.raised: collections.Counter[str] = collections.Counter()

    def run_job(self, job) -> None:
        tracer = self.ctx.tracer
        group = self.stages.start() if tracer.enabled else None
        self.runs[job.name] += 1
        with tracer.span(f"job.{job.name}") as sp:
            try:
                job.run(self.ctx)
            except Exception:  # noqa: BLE001  (a job that raises is counted as failed)
                self.raised[job.name] += 1
                traceback.print_exc()
        if tracer.enabled:
            sp["stage"] = self.stages.read(group)

    def run_pass(self) -> float:
        t0 = time.perf_counter()
        with self.ctx.tracer.span("pass"):
            for job in self.wl.jobs:
                self.run_job(job)
        return time.perf_counter() - t0

    def warm_up(self, seconds: float) -> None:
        """Unmeasured passes for ``seconds``: JIT keeps making passes
        faster for several passes after the first two."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            self.run_pass()

    def measure(self, seconds: float) -> list[float]:
        times: list[float] = []
        t0 = time.perf_counter()
        while len(times) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            times.append(self.run_pass())
        return times

    def measure_alternating(self, seconds: float) -> tuple[list[float], list[float]]:
        """Untraced and traced passes in turn, so that both see the same
        warm-up state and machine load."""
        times: tuple[list[float], list[float]] = ([], [])
        t0 = time.perf_counter()
        while len(times[1]) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            for traced in (False, True):
                self.ctx.tracer.enabled = traced
                times[traced].append(self.run_pass())
        self.ctx.tracer.enabled = False
        return times

    def check_outputs(self) -> dict[str, int | str]:
        """Oracle check of every job: its row count, or the error."""
        out: dict[str, int | str] = {}
        for job in self.wl.jobs:
            try:
                out[job.name] = job.check(self.ctx)
            except Exception as e:  # noqa: BLE001  (any failure is a wrong output)
                traceback.print_exc()
                out[job.name] = f"{type(e).__name__}: {e}"
        return out


def du(path: str) -> int:
    """Bytes in a file, or in the files of a directory."""
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def input_mb(wl, data_dir: str) -> float:
    return sum(du(os.path.join(data_dir, f)) for f in wl.inputs) / 1e6


def noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probes(bench: Bench) -> dict[str, float]:
    """Scan-only and tokenize probes, each the median of a few reps."""
    from pyspark.sql import functions as F

    from multithreaded_map_reduce_spark.functions.text import tokenize
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    ctx, wl, st = bench.ctx, bench.wl, bench.stages
    spark, d = ctx.spark, ctx.data_dir

    def scans():
        if wl.scan_tables:
            return [load_table(spark, d, t) for t in wl.scan_tables]
        return [spark.read.text(os.path.join(d, "lines.txt"))]

    group = st.start()
    scan = [sum(noop_s(df) for df in scans()) for _ in range(PROBE_REPS)]
    read = st.read(group)
    out = {
        "sources.scan_s": statistics.median(scan),
        "sources.rows_in": read["inputRecords"] / PROBE_REPS,
    }
    if wl.tokenize_probe:
        def docs():
            return load_table(spark, d, "documents")

        def toks():
            return docs().select(F.explode(tokenize(F.col("text"))).alias("w"))

        diff = [noop_s(toks()) - noop_s(docs().select("text")) for _ in range(PROBE_REPS)]
        out["functions.tokenize_s"] = statistics.median(diff)
        out["functions.tokens_out"] = toks().count()
    if wl.name == "mapreduce_text":
        from workloads import mr_word_count

        # Python RDD shuffles write pickled batches, so Spark's record
        # counts do not count pairs: compare bytes with the path that
        # shuffles every emitted pair.
        shuffled = []
        for combiner in (True, False):
            group = st.start()
            noop_s(mr_word_count(ctx, combiner))
            shuffled.append(st.read(group)["shuffleWriteBytes"])
        out["mapreduce.combine_ratio"] = shuffled[0] / shuffled[1]
    return out


def pass_row(bench: Bench, p: dict) -> dict[str, float]:
    """Per-layer numbers of one traced pass: sums over its spans."""
    spans = bench.ctx.tracer.spans
    inside = [s for s in spans if p["start"] <= s["start"] and s["end"] <= p["end"]]
    dur = collections.Counter()
    for s in inside:
        dur[s["name"]] += s["end"] - s["start"]
    jobs = [s for s in inside if s["parent"] == p["id"]]
    st = collections.Counter()
    for j in jobs:
        st.update(j["stage"])
    wall = sum(j["end"] - j["start"] for j in jobs)
    row = {
        "stage.shuffle_write_mb": st["shuffleWriteBytes"] / 1e6,
        "stage.shuffle_read_mb": st["shuffleReadBytes"] / 1e6,
        "stage.spill_disk_mb": st["diskBytesSpilled"] / 1e6,
        "stage.gc_s": st["jvmGcTime"] / 1e3,
        "stage.task_busy_frac": st["executorRunTime"] / 1e3 / (wall * bench.ctx.cpus),
        "stage.tasks": st["numTasks"],
        "stage.failed_tasks": st["numFailedTasks"],
    }
    for job in bench.wl.jobs:
        for part in ("plan", "exec"):
            name = f"queries.{job.name}.{part}"
            if name in dur:
                row[name + "_s"] = dur[name]
    for span, metric in SPAN_METRICS.items():
        if span in dur:
            row[metric] = dur[span]
    return row


def pass_medians(bench: Bench, passes: list[dict]) -> dict[str, float]:
    """Per-layer numbers of the traced passes: each the median over
    passes of the pass's sum."""
    rows = [pass_row(bench, p) for p in passes]
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def kv_bytes(out_dir: str) -> int:
    from workloads import kv_files

    path = os.path.join(out_dir, "inverted_index")
    return sum(os.path.getsize(f) for f in kv_files(path)) if os.path.isdir(path) else 0


def run(args, spark, start_s: float, setup_s: float, work: str):
    """Generate, run and measure one workload. Returns the metrics, the
    output checks, the ``Bench`` (job run counts) and details for the
    trace file."""
    import numpy as np

    from spans import PeakRss, StageMetrics, Tracer
    from workloads import Ctx, workloads

    wl = workloads()[args.workload]
    data_dir, out_dir = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(data_dir)
    os.makedirs(out_dir)
    wl.generate(np.random.default_rng(args.seed), data_dir)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    ctx = Ctx(spark, data_dir, out_dir, Tracer(False), cpus)
    bench = Bench(wl, ctx, StageMetrics(spark))
    info: dict = {"workload": wl.name, "seed": args.seed, "cpus": cpus}

    if not args.trace:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        checks = bench.check_outputs()  # the first run of every job
        bench.warm_up(args.seconds * WARM_UP_SHARE)
        with PeakRss(jvm_pid) as rss:
            times = bench.measure(args.seconds * (1 - WARM_UP_SHARE))
        p50 = statistics.median(times)
        mb = input_mb(wl, data_dir)
        info.update(input_mb=mb, pass_s=times)
        metrics = {
            "setup_s": setup_s,
            "pass_p50_s": p50,
            "mb_per_s": mb / p50,
            "peak_rss_mb": rss.mb(),
        }
        return metrics, checks, bench, info

    tracer = ctx.tracer
    tracer.enabled = True
    metrics = {"session.start_s": start_s}
    bench.run_pass()
    first_pass = tracer.spans[0]
    metrics["first_pass_s"] = first_pass["end"] - first_pass["start"]
    tracer.enabled = False
    checks = bench.check_outputs()
    bench.warm_up(args.seconds * WARM_UP_SHARE)
    first_measured = len(tracer.spans)
    untraced, traced = bench.measure_alternating(args.seconds * (1 - WARM_UP_SHARE))
    passes = [s for s in tracer.spans[first_measured:] if s["name"] == "pass"]
    metrics.update(pass_medians(bench, passes))
    if wl.artifact_job:
        # the job's first run builds the shared artifact: its excess
        # over the warm median
        first = pass_row(bench, first_pass)
        job = f"queries.{wl.artifact_job}"
        metrics["dedup.artifact_build_s"] = sum(
            first[f"{job}.{part}_s"] - metrics[f"{job}.{part}_s"] for part in ("plan", "exec")
        )
    metrics["trace.overhead_frac"] = statistics.median(traced) / statistics.median(untraced) - 1
    metrics.update(probes(bench))
    metrics["sources.input_mb"] = input_mb(wl, data_dir)
    if "sink.write_s" in metrics:
        metrics["sink.bytes_written"] = kv_bytes(out_dir)
    if wl.artifact_job:
        metrics["dedup.pairs_out"] = sum(
            n for job, n in checks.items() if job.startswith("dedup_") and isinstance(n, int)
        )
    info.update(untraced_pass_s=untraced, traced_pass_s=traced, spans=tracer.spans)
    return metrics, checks, bench, info


def write_trace(info: dict) -> str:
    out = os.path.join(HERE, ".out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{info['workload']}-{info['seed']}.json")
    with open(path, "w") as f:
        json.dump(info, f, indent=1, default=str)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        session_start.pin_env(work)
        spark, start_s, setup_s = session_start.start_session()
        try:
            metrics, checks, bench, info = run(args, spark, start_s, setup_s, work)
        finally:
            session_start.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    unknown = set(metrics) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # every run of a job whose output is wrong counts as failed
    attempted = sum(bench.runs.values())
    failed = sum(
        bench.runs[j] if not isinstance(checks[j], int) else bench.raised[j] for j in bench.runs
    )
    info.update(checks=checks, attempted=attempted, failed=failed)
    if args.trace:
        print(f"trace written to {write_trace(info)}")
    result = {}
    for m in wanted:
        value = metrics.get(m["name"], 0)
        result[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']:<44} {value:.6g} {m['unit']}")
    if not args.trace:
        t = info["pass_s"]
        print(f"{len(t)} passes measured (s): {' '.join(f'{x:.3f}' for x in t)}")
    print(f"{'failed_frac':<44} {failed / attempted:.6g} ratio ({failed} of {attempted} job runs)")
    for job, v in checks.items():
        print(f"check {job}: {'ok, %d rows' % v if isinstance(v, int) else 'FAILED ' + v}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
