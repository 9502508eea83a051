"""Line-oriented text sources — the reference's native input relation.

The reference keys each record by its 0-based global line number
(``include/MapReduceMaster.h:463-478``: ``map_fn(to_string(record_number),
line)``). Reproduced here as a DataFrame ``(line_no BIGINT, line STRING)``
on the file scan, with no Python and, for one split, no job.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import _scan_splits


def read_text_lines(spark: SparkSession, path: str, dense: bool = True) -> DataFrame:
    """``spark.read.text`` + global line numbers, in scan order.

    dense=False → ``monotonically_increasing_id``: unique, never a job.
    dense=True  → 0-based dense (reference semantics). That is the id when
    the scan is one split; else one JVM count per scan partition gives
    each partition's offset, for the file splits planned at call time.
    """
    lines = spark.read.text(path)
    line_no = F.monotonically_increasing_id()
    if dense and _scan_splits(spark, lines.inputFiles()) != 1:
        pid = F.spark_partition_id()
        counts = dict(lines.groupBy(pid).count().collect())
        sizes = [counts.get(p, 0) for p in range(max(counts, default=0) + 1)]
        start = F.array(*map(F.lit, accumulate(sizes, initial=0)))[pid]
        row = line_no % (1 << 33)  # the id is (partition << 33) + row number
        # a scan re-planned with other splits fails rather than misnumbers
        line_no = F.when(row < F.array(*map(F.lit, sizes))[pid], start + row).otherwise(
            F.raise_error(F.lit("read_text_lines: file splits changed after numbering"))
        )
    return lines.select(line_no.alias("line_no"), F.col("value").alias("line"))


def corpus_lines(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Map the ``documents`` fixture onto the reference's corpus shape:
    one row per line of each document, keyed (doc_id, line_no)."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )
