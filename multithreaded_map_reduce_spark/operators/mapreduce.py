"""Generic MapReduce programming surface — the reference's client API.

Reference contract (``include/MapReduceMaster.h:75-112``): subclass
``MapReduceInterface``, implement

- ``map_fn(k1, v1)`` emitting 0..n ``(k2, v2)`` pairs (via
  ``emitIntermediate``),
- ``reduce_fn(k2, [v2, ...])`` emitting one output per key (via
  ``emit(k, vector<v>)``),

register it in a factory (``MapReduceMaster.h:27-72``), and call
``MapReduceMaster(...).process()``. The reference hardcodes one program
per process (lookup name ``"MapReduce"``, quirk Q5); here the registry
holds any number of named programs.

Spark mapping (SURVEY.md §2a rows 3–6): one DataFrame plan. ``map_fn``
runs in a pickled UDF per row returning ``array<struct<key, value>>``,
which ``inline`` makes rows. Reduce:

- ``run_with_combiner``: a declared reduction (``REDUCTIONS`` plus an
  optional Column ``finish``) is a Catalyst partial and final aggregate
  — the map-side combiner the reference never implemented (SURVEY.md
  §4) — so the program evaluates Python once.
- ``run``: any ``reduce_fn``, in a second UDF over ``collect_list``.

On 4 vCPUs a warm one-row job with a pickled UDF takes about 0.17 s,
against 0.05 s as a JVM expression (workers start through
``daemon.py``, see ``session.py``). There, ``mapInArrow`` was no faster and raised peak RSS 7 %; ``applyInArrow``
took 4.6 s vs 1.1 s (12k keys).
Known-shape programs should use the declarative ``queries/corpus.py``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MapFn = Callable[[Any, Any], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, list], Iterable[tuple[Any, Any]]]

OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("values", T.ArrayType(T.StringType()), False),
    ]
)

# Associative and commutative: Catalyst aggregates them before the shuffle.
REDUCTIONS: dict[str, Callable[[Column], Column]] = dict(
    sum=F.sum, count=F.count, min=F.min, max=F.max, set=F.collect_set
)


def _rows_udf(fn: Callable, row_type: T.StructType):  # pickled: Arrow costs RSS
    return F.udf(lambda a, b: list(fn(a, b)), T.ArrayType(row_type), useArrow=False)


@dataclass
class MapReduce:
    """A named (map_fn, reduce_fn) program, runnable over any DataFrame.
    Emitted pairs take the output schema's first two field types (an
    array gives its element type), unless ``value_type`` is set."""

    map_fn: MapFn
    reduce_fn: ReduceFn | None
    name: str = "MapReduce"
    value_type: T.DataType | None = None

    def _pairs(self, df: DataFrame, key_col: str, value_col: str, out_schema) -> DataFrame:
        """Rows ``(key, value)``: every pair ``map_fn`` emits."""
        key_t, value_t = (f.dataType for f in out_schema.fields[:2])
        value_t = getattr(value_t, "elementType", value_t)
        pair = T.StructType().add("key", key_t).add("value", self.value_type or value_t)
        return df.select(F.inline(_rows_udf(self.map_fn, pair)(key_col, value_col)))

    def run(self, df: DataFrame, key_col: str, value_col: str, out_schema=OUT_SCHEMA) -> DataFrame:
        """map → shuffle → group → reduce, reference semantics:
        ``reduce_fn`` gets each key's full (unordered) value list, like
        the reference's ``vector<string>`` — and with its flaw, a skewed
        key's values must fit in one task's memory. Prefer
        ``run_with_combiner`` when the reduction allows it."""
        grouped = (
            self._pairs(df, key_col, value_col, out_schema)
            .groupBy("key")
            .agg(F.collect_list("value").alias("values"))
        )
        return grouped.select(F.inline(_rows_udf(self.reduce_fn, out_schema)("key", "values")))

    def run_with_combiner(
        self, df: DataFrame, key_col: str, value_col: str, reduction: str,
        finish: Callable[[Column], Column] | None = None, out_schema=OUT_SCHEMA,
    ) -> DataFrame:
        """Same pipeline, with ``REDUCTIONS[reduction]`` aggregated
        map-side; ``finish`` shapes the reduced Column (e.g. sort and
        join a set). One row per key, cast to ``out_schema``."""
        reduced = REDUCTIONS[reduction](F.col("value"))
        if finish is not None:
            reduced = finish(reduced)
        (key, key_t), (out, out_t) = ((f.name, f.dataType) for f in out_schema.fields[:2])
        return (
            self._pairs(df, key_col, value_col, out_schema)
            .groupBy("key")
            .agg(reduced.alias("reduced"))
            .select(F.col("key").cast(key_t).alias(key), F.col("reduced").cast(out_t).alias(out))
        )


# Registry — generalizes the reference's single-slot factory
# (``MapReduceMaster.h:27-72`` + hardcoded "MapReduce" lookups, quirk Q5).
PROGRAMS: dict[str, MapReduce] = {}


def register_program(program: MapReduce) -> MapReduce:
    PROGRAMS[program.name] = program
    return program


def get_program(name: str) -> MapReduce:
    return PROGRAMS[name]


def run_secondary_sort(
    df: DataFrame,
    key_col: str,
    sort_cols: list[str],
    value_col: str,
    num_partitions: int = 8,
) -> DataFrame:
    """The canonical MapReduce SECONDARY SORT pattern (round 12) —
    values arrive at the reducer already ordered, so the reduce can
    STREAM instead of buffering-and-sorting. The reference's API
    cannot express this at all: its reducer receives an unordered
    ``vector<string>`` (``include/MapReduceMaster.h:75-112``), so any
    order-sensitive reduction must sort per key in reducer memory —
    the pattern Hadoop users solve with composite keys + grouping
    comparators, and Spark solves with
    ``repartitionAndSortWithinPartitions``: partition by the GROUPING
    key only, sort partitions by the COMPOSITE (key, sort...) tuple,
    then walk each partition grouping consecutive same-key runs.

    One shuffle total; the sort rides the shuffle's spillable
    sort-merge machinery (disk-backed — a hot key never has to fit
    its values in reducer memory during the sort, unlike the
    reference's in-core vector). Output: one row per key with the
    values joined in sorted order.

    Ordering contract: the composite sort key is (key, *sort_cols)
    ONLY — the value column is payload, never a tiebreak (ADVICE
    r12). NULLs in the key or sort columns order FIRST via a
    (non-null?, value) sentinel pair, so a NULL can never raise
    TypeError mid-shuffle; each column must still be homogeneously
    typed across rows (mixed int/str in one column is undefined under
    Python ordering and raises).
    """
    from pyspark.rdd import portable_hash

    spark = df.sparkSession
    n = num_partitions
    ns = len(sort_cols)

    def composite(r):
        # ((non-null?, key), (non-null?, s1), ...) — NULLs first.
        return tuple((v is not None, v) for v in (r[0], *r[1 : 1 + ns]))

    rdd = df.select(key_col, *sort_cols, value_col).rdd.map(
        lambda r: (composite(r), (r[0], r[-1]))
    )
    parted = rdd.repartitionAndSortWithinPartitions(
        numPartitions=n, partitionFunc=lambda k: portable_hash(k[0]) % n
    )

    _SENTINEL = object()

    def walk(it):
        cur_key = _SENTINEL
        vals: list[str] = []
        for (_sk, (k, v)) in it:
            if k != cur_key:
                if cur_key is not _SENTINEL:
                    yield (str(cur_key), ",".join(vals))
                cur_key, vals = k, []
            vals.append(str(v))
        if cur_key is not _SENTINEL:
            yield (str(cur_key), ",".join(vals))

    out = parted.mapPartitions(walk)
    schema = T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("ordered_values", T.StringType(), False),
        ]
    )
    return spark.createDataFrame(out, schema)
