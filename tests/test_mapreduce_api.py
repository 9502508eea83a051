"""Generic MapReduce adapter: API parity, quirk-compat, properties."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle import compare


@pytest.mark.parametrize("name", ["mr_word_count", "mr_inverted_index"])
def test_oracle_parity(spark, name):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES, ALL_QUERIES

    assert compare(spark, ALL_QUERIES[name], ALL_ORACLES[name], SF_SMOKE) > 0


def test_combiner_equals_plain(spark):
    """run_with_combiner (map-side partial agg) == run (shuffle-all)."""
    from multithreaded_map_reduce_spark.operators.programs import run_word_counter
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(map(tuple, run_word_counter(docs, combiner=True).collect()))
    b = sorted(map(tuple, run_word_counter(docs, combiner=False).collect()))
    assert a == b


def test_quirk_q1_lexicographic_positions(spark):
    """Reference-compat mode sorts positions as strings: '10' < '2'."""
    from multithreaded_map_reduce_spark.operators.programs import run_inverted_index
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    lex = {r["word"]: r["doc_ids"] for r in run_inverted_index(docs, lexicographic=True).collect()}
    num = {r["word"]: r["doc_ids"] for r in run_inverted_index(docs, lexicographic=False).collect()}
    assert set(lex) == set(num)
    for w, ids in lex.items():
        parts = ids.split(",")
        assert parts == sorted(parts)  # string order
        nums = [int(x) for x in num[w].split(",")]
        assert nums == sorted(nums)  # numeric order in normalized mode
    # they must actually differ somewhere if any word spans docs 2 and 10+
    spanning = [w for w in lex if lex[w] != num[w]]
    assert spanning, "fixture should exercise the quirk (docs >= 10 exist)"


def test_custom_program_registry(spark):
    """Quirk Q5 upgrade: many named programs, not one hardcoded slot."""
    from multithreaded_map_reduce_spark.operators.mapreduce import (
        MapReduce,
        get_program,
        register_program,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table
    from pyspark.sql import types as T

    def map_fn(doc_id, text):
        yield (text.split()[0], 1)

    def reduce_fn(k, vs):
        yield (k, sum(vs))

    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("n", T.LongType())]
    )
    register_program(MapReduce(map_fn, reduce_fn, name="FirstWord"))
    docs = load_table(spark, SF_SMOKE, "documents")
    out = get_program("FirstWord").run(docs, "doc_id", "text", out_schema=schema)
    total = sum(r["n"] for r in out.collect())
    assert total == docs.count()


def _python_evals(df) -> tuple[int, str]:
    """Python-evaluation nodes in ``df``'s final executed plan, and the plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    nodes = re.findall(r"\b(?:BatchEvalPython|ArrowEvalPython|\w*In(?:Pandas|Arrow))\w*", final)
    return len(nodes), final


@pytest.mark.parametrize("program", ["word_counter", "grep", "inverted_index"])
def test_program_plan_has_one_python_evaluation(spark, tmp_path, program):
    """Each program over line-numbered text is one plan with exactly one
    Python-evaluation node (the ``map_fn`` UDF) over the file scan: the
    reduction runs in Catalyst and no RDD is scanned."""
    from multithreaded_map_reduce_spark.operators import programs
    from multithreaded_map_reduce_spark.sources.text import read_text_lines

    p = tmp_path / "input.txt"
    p.write_text("".join(f"merge w{i % 7} w{i % 3}\n" for i in range(50)))
    docs = read_text_lines(spark, str(p)).selectExpr("line_no AS doc_id", "line AS text")
    df = {
        "word_counter": lambda: programs.run_word_counter(docs),
        "grep": lambda: programs.run_grep(docs, "merge"),
        "inverted_index": lambda: programs.run_inverted_index(docs),
    }[program]()
    n, plan = _python_evals(df)
    assert n == 1, plan
    assert "ExistingRDD" not in plan and "FileScan text" in plan, plan


@pytest.mark.parametrize("lexicographic", [False, True])
def test_declared_set_reduction_equals_generic_reduce(spark, lexicographic):
    """The inverted index's declared ``set`` reduction (sorted and joined
    in Catalyst) equals its ``reduce_fn`` run through the generic path,
    in both position orders (quirk Q1)."""
    from multithreaded_map_reduce_spark.operators.programs import (
        II_SCHEMA,
        inverted_index_program,
        run_inverted_index,
    )
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    declared = run_inverted_index(docs, lexicographic=lexicographic)
    generic = inverted_index_program(lexicographic).run(
        docs, "doc_id", "text", out_schema=II_SCHEMA
    )
    rows = sorted(map(tuple, declared.collect()))
    assert rows and rows == sorted(map(tuple, generic.collect()))


@pytest.mark.parametrize("reduction,python", [("sum", sum), ("count", len), ("min", min), ("max", max)])
def test_declared_reduction_equals_reduce_fn(spark, reduction, python):
    """Each declared Catalyst reduction equals the same reduction written
    as a Python ``reduce_fn`` and run through the generic path."""
    from multithreaded_map_reduce_spark.operators.mapreduce import MapReduce
    from multithreaded_map_reduce_spark.sources.catalog import load_table
    from pyspark.sql import types as T

    def map_fn(doc_id, text):
        for pos, tok in enumerate(text.split()):
            yield (tok, int(doc_id) * 100 + pos)

    def reduce_fn(tok, values):
        yield (tok, python(values))

    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("n", T.LongType())]
    )
    prog = MapReduce(map_fn, reduce_fn)
    docs = load_table(spark, SF_SMOKE, "documents")
    declared = prog.run_with_combiner(docs, "doc_id", "text", reduction, out_schema=schema)
    rows = sorted(map(tuple, declared.collect()))
    assert rows and rows == sorted(map(tuple, prog.run(docs, "doc_id", "text", schema).collect()))
