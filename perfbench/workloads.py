"""The workloads: how each generates its inputs, which jobs one
pass runs, and how each job's output is checked.

A job's ``run`` executes it to completion (into the ``noop`` sink unless
it writes) and is what the passes time. Its ``check`` recomputes the
output outside any timed region and compares it with the job's DuckDB
oracle from the package registry (or, for the text source, with the
parquet twin of the text file).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

import check
import gen
from spans import Tracer

@dataclass
class Ctx:
    """Everything a job needs: the session, the generated inputs, a
    scratch output directory and the tracer."""

    spark: object
    data_dir: str
    out_dir: str
    tracer: Tracer
    cpus: int
    state: dict = field(default_factory=dict)
    _con: object = None

    @property
    def con(self):
        if self._con is None:
            self._con = check.duck_con(self.data_dir)
        return self._con


@dataclass
class Job:
    name: str
    run: Callable[[Ctx], None]
    check: Callable[[Ctx], int]


@dataclass
class Workload:
    name: str
    generate: Callable[[np.random.Generator, str], None]
    inputs: tuple[str, ...]  # files the jobs read, relative to the data dir
    jobs: list[Job]
    scan_tables: tuple[str, ...] = ()  # parquet tables for the scan probe
    tokenize_probe: bool = False  # whether the jobs tokenize ``documents.text``
    artifact_job: str | None = None  # job whose first run builds a shared artifact


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_job(name: str) -> Job:
    """A registry query: the call returning the DataFrame is its plan
    span, the ``noop`` write its exec span."""
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    def run(ctx: Ctx) -> None:
        with ctx.tracer.span(f"queries.{name}.plan"):
            df = ALL_QUERIES[name](ctx.spark, ctx.data_dir)
        with ctx.tracer.span(f"queries.{name}.exec"):
            _noop(df)

    def verify(ctx: Ctx) -> int:
        df = ALL_QUERIES[name](ctx.spark, ctx.data_dir)
        return check.compare(name, df.columns, df.collect(), ctx.con, ALL_ORACLES[name])

    return Job(name, run, verify)


# ------------------------------------------------------------ MapReduce
def _docs(ctx: Ctx):
    from pyspark.sql import functions as F

    return ctx.state["lines"].select(
        F.col("line_no").alias("doc_id"), F.col("line").alias("text")
    )


def _read_lines(ctx: Ctx) -> None:
    from multithreaded_map_reduce_spark.sources.text import read_text_lines

    with ctx.tracer.span("sources.text.index"):
        ctx.state["lines"] = read_text_lines(
            ctx.spark, os.path.join(ctx.data_dir, "lines.txt"), dense=True
        )


def _check_lines(ctx: Ctx) -> int:
    _read_lines(ctx)
    lines = ctx.state["lines"]
    sql = "SELECT doc_id AS line_no, text AS line FROM documents"
    return check.compare("read_text_lines", lines.columns, lines.collect(), ctx.con, sql)


def mr_word_count(ctx: Ctx, combiner: bool = True):
    from multithreaded_map_reduce_spark.operators.programs import run_word_counter

    return run_word_counter(_docs(ctx), combiner=combiner)


def _mr_grep(ctx: Ctx):
    from multithreaded_map_reduce_spark.operators.programs import run_grep
    from multithreaded_map_reduce_spark.queries.mapreduce_api import GREP_PATTERN

    return run_grep(_docs(ctx), GREP_PATTERN)


def mapreduce_job(name: str, program: str, build) -> Job:
    """A MapReduce program over the text source, into ``noop``."""
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES

    def run(ctx: Ctx) -> None:
        with ctx.tracer.span(f"mapreduce.{program}"):
            _noop(build(ctx))

    def verify(ctx: Ctx) -> int:
        df = build(ctx)
        return check.compare(name, df.columns, df.collect(), ctx.con, ALL_ORACLES[name])

    return Job(name, run, verify)


def _kv_dir(ctx: Ctx) -> str:
    return os.path.join(ctx.out_dir, "inverted_index")


def _run_inverted_index(ctx: Ctx) -> None:
    from pyspark.sql import functions as F

    from multithreaded_map_reduce_spark.operators.programs import run_inverted_index
    from multithreaded_map_reduce_spark.sources.kv_text import write_kv_text

    with ctx.tracer.span("mapreduce.inverted_index"):
        df = run_inverted_index(_docs(ctx)).select(
            F.col("word").alias("key"), F.split("doc_ids", ",").alias("values")
        )
        with ctx.tracer.span("sink.write"):
            write_kv_text(df, _kv_dir(ctx), num_partitions=ctx.cpus)


def kv_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")
    )


def _check_inverted_index(ctx: Ctx) -> int:
    """Parse the written ``key v1 v2 … `` files back and compare them with
    the oracle; every file must also be sorted by key."""
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES

    _run_inverted_index(ctx)
    rows = []
    for path in kv_files(_kv_dir(ctx)):
        with open(path, encoding="utf-8") as f:
            keys = []
            for line in f:
                toks = line.split()
                keys.append(toks[0])
                rows.append((toks[0], ",".join(toks[1:])))
        if keys != sorted(keys):
            raise AssertionError(f"mr_inverted_index: {path} is not sorted by key")
    return check.compare(
        "mr_inverted_index", ["word", "doc_ids"], rows, ctx.con, ALL_ORACLES["mr_inverted_index"]
    )


# ------------------------------------------------------------ workloads
# Sizes keep a whole run, set-up included, within the benchmark's time
# budget on a 4-vCPU machine: a warm pass takes 2-3 s, of which planning
# and scheduling take about 0.3 s per job.
CORPUS_DOCS = 2_000
TEXT_LINES = 6_000


def workloads() -> dict[str, Workload]:
    from multithreaded_map_reduce_spark.queries.mapreduce_api import GREP_PATTERN

    return {
        w.name: w
        for w in (
            Workload(
                "corpus_dedup",
                lambda rng, d: gen.gen_corpus(rng, d, CORPUS_DOCS),
                ("documents.parquet",),
                [
                    registry_job("word_count"),
                    registry_job("inverted_index"),
                    registry_job("dedup_minhash_lsh"),
                    registry_job("dedup_simhash"),
                ],
                scan_tables=("documents",),
                tokenize_probe=True,
                artifact_job="dedup_minhash_lsh",
            ),
            Workload(
                "mapreduce_text",
                lambda rng, d: gen.gen_text(rng, d, TEXT_LINES, (GREP_PATTERN,)),
                ("lines.txt",),
                [
                    Job("read_text_lines", _read_lines, _check_lines),
                    mapreduce_job("mr_word_count", "word_counter", mr_word_count),
                    Job("mr_inverted_index", _run_inverted_index, _check_inverted_index),
                    mapreduce_job("mr_grep", "grep", _mr_grep),
                ],
            ),
        )
    }
