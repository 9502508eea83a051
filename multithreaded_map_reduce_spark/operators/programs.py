"""The reference's two shipped client programs, re-expressed on the
generic MapReduce API — proving the ``map_fn``/``reduce_fn`` surface
carries the same workloads end-to-end.

- WordCounter    ← ``src/WordCounter.cpp:19-41``: map emits (word, 1)
  per token, reduce sums. (The reference emits the STRING "1" and
  re-parses with stoi — string-typing is an implementation limitation,
  normalized to ints here; SURVEY.md §1.)
- InvertedIndex  ← ``src/InvertedIndex.cpp:20-39``: map emits
  (word, position), reduce sorts + dedups. Normalized semantics sort
  positions numerically; ``lexicographic=True`` reproduces quirk Q1
  ("10" < "2").

Each ``map_fn`` is a real Python closure, evaluated once per program
in one UDF. Each reduction is declared (``sum``, or ``set`` plus a
Column finish for the index), so Catalyst reduces in the JVM; a
program's ``reduce_fn`` is kept for the generic ``MapReduce.run`` path.
The declarative twins in ``queries/corpus.py`` keep the map in Catalyst too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .mapreduce import MapReduce

WC_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)

II_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("doc_ids", T.StringType(), False),
    ]
)


def word_counter() -> MapReduce:
    def map_fn(_key, text):
        for tok in text.split():
            yield (tok, 1)

    def reduce_fn(word, counts):
        yield (word, sum(counts))

    return MapReduce(map_fn, reduce_fn, name="WordCounter")


def run_word_counter(docs: DataFrame, combiner: bool = True) -> DataFrame:
    """docs(doc_id, text) → (word, cnt). ``combiner=True`` declares the
    reduction a ``sum`` (the scale-correct default); ``False`` runs the
    reference-faithful ``reduce_fn`` over each word's value list."""
    prog = word_counter()
    if combiner:
        return prog.run_with_combiner(docs, "doc_id", "text", "sum", out_schema=WC_SCHEMA)
    return prog.run(docs, "doc_id", "text", out_schema=WC_SCHEMA)


def inverted_index_program(lexicographic: bool = False) -> MapReduce:
    def map_fn(doc_id, text):
        for tok in text.split():
            yield (tok, doc_id)

    def reduce_fn(word, doc_ids):
        if lexicographic:
            # quirk Q1: the reference sorts positions as strings
            ordered = sorted({str(d) for d in doc_ids})
        else:
            ordered = [str(d) for d in sorted(set(doc_ids))]
        yield (word, ",".join(ordered))

    return MapReduce(map_fn, reduce_fn, name="InvertedIndex", value_type=T.LongType())


def run_inverted_index(docs: DataFrame, lexicographic: bool = False) -> DataFrame:
    """docs(doc_id, text) → (word, doc_ids): the ``reduce_fn`` above as a
    declared ``set`` reduction, sorted and joined in Catalyst."""

    def finish(ids):
        ids = F.array_sort(ids.cast("array<string>") if lexicographic else ids)
        return F.concat_ws(",", ids.cast("array<string>"))

    return inverted_index_program(lexicographic).run_with_combiner(
        docs, "doc_id", "text", "set", finish, II_SCHEMA
    )


FOF_SCHEMA = T.StructType(
    [
        T.StructField("freq", T.LongType(), False),
        T.StructField("n_words", T.LongType(), False),
    ]
)


def run_chained_freq_of_freq(docs: DataFrame) -> DataFrame:
    """TWO chained MapReduce jobs — the composition the reference's
    single-slot factory cannot express (one program per binary, quirk
    Q5): job 1 is WordCounter; job 2 maps each (word, cnt) to (cnt, 1)
    and sums — the classic count-of-counts. Job 2's input is job 1's
    output DataFrame, exactly how a client chains the library API."""
    wc = run_word_counter(docs, combiner=True)

    def map_fn(_word, cnt):
        yield (int(cnt), 1)

    prog = MapReduce(map_fn, None, name="FreqOfFreq")
    return prog.run_with_combiner(wc, "word", "cnt", "sum", out_schema=FOF_SCHEMA)


GREP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_matches", T.LongType(), False),
    ]
)


def run_grep(docs: DataFrame, pattern: str) -> DataFrame:
    """Distributed grep — the third canonical MapReduce program from
    Dean & Ghemawat 2004 §2.3 alongside word count and the inverted
    index (the reference ships only the latter two): map emits
    (doc_id, 1) per token equal to the pattern, reduce sums — i.e.,
    "which documents mention X and how often". The map function is
    ordinary Python running through the generic ``map_fn`` API,
    exactly the client surface the reference exposes."""

    def map_fn(doc_id, text):
        for tok in text.split():
            if tok == pattern:
                yield (int(doc_id), 1)

    prog = MapReduce(map_fn, None, name="Grep")
    return prog.run_with_combiner(docs, "doc_id", "text", "sum", out_schema=GREP_SCHEMA)
