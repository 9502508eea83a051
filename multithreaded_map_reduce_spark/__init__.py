"""multithreaded_map_reduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference MapReduce framework (``ganmol123/multithreaded_map_reduce``,
surveyed in SURVEY.md), re-expressed Spark-first:

- the reference's map/shuffle/reduce pipeline becomes declarative
  DataFrame plans optimized by Catalyst (SURVEY.md §3);
- its two shipped applications (WordCounter, InvertedIndex) and the
  generic ``map_fn``/``reduce_fn`` client API (reference
  ``include/MapReduceMaster.h:75-112``) are first-class operators;
- the relational / windowing / dedup / similarity / text-analysis surface
  a 100 TB training-data pipeline needs is built on top.

Nothing here copies reference code — the reference is a C++ process-fork
RPC engine; this package is a PySpark library.
"""

import importlib

# Imported on first use, so that ``python -m
# multithreaded_map_reduce_spark.daemon`` can set ``sys.path`` before
# anything imports pyspark.
_EXPORTS = {
    "get_spark": ".session",
    "TABLES": ".sources.catalog",
    "load_table": ".sources.catalog",
    "register_views": ".sources.catalog",
    "MapReduce": ".operators.mapreduce",
}

__all__ = list(_EXPORTS)
__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(_EXPORTS[name], __name__), name)
