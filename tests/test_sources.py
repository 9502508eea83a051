"""Source/sink coverage: text lines with dense numbering, corpus
mapping, csv/json round-trips, stateful streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_read_text_lines_dense(spark, tmp_path):
    """Reference input relation: 0-based dense global line numbers
    (SURVEY.md §1), independent of partitioning."""
    from multithreaded_map_reduce_spark.sources.text import read_text_lines

    p = tmp_path / "input.txt"
    lines = [f"line number {i} content" for i in range(257)]
    p.write_text("\n".join(lines))
    df = read_text_lines(spark, str(p))
    rows = sorted((r["line_no"], r["line"]) for r in df.collect())
    assert [r[0] for r in rows] == list(range(257))
    assert rows[42][1] == "line number 42 content"


def _text_lines(spark, path, max_partition_bytes=None):
    """``read_text_lines(path)`` collected as sorted ``(line_no, line)``,
    with the scan's partition count; ``max_partition_bytes`` is set only
    for the call and the action."""
    from multithreaded_map_reduce_spark.sources.text import read_text_lines

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        if max_partition_bytes is not None:
            spark.conf.set(key, str(max_partition_bytes))
        df = read_text_lines(spark, path)
        return df, sorted(map(tuple, df.collect())), spark.read.text(path).rdd.getNumPartitions()
    finally:
        spark.conf.set(key, old)


def test_read_text_lines_dense_file_split_into_partitions(spark, tmp_path):
    """One file scanned as several byte-range partitions is numbered by
    its line index, not per partition; a later action under other file
    splits fails instead of misnumbering."""
    p = tmp_path / "input.txt"
    lines = [f"line {i} " + "x" * (i % 13) for i in range(400)]
    p.write_text("\n".join(lines) + "\n")
    df, rows, parts = _text_lines(spark, str(p), max_partition_bytes=2048)
    assert parts >= 3
    assert rows == list(enumerate(lines))
    # a new plan over the same numbering now scans one split: it fails loudly
    with pytest.raises(Exception, match="file splits changed"):
        df.select("line_no").collect()


def test_read_text_lines_dense_empty_file(spark, tmp_path):
    p = tmp_path / "empty.txt"
    p.write_text("")
    df, rows, _ = _text_lines(spark, str(p))
    assert rows == []
    assert df.dtypes == [("line_no", "bigint"), ("line", "string")]


def test_read_text_lines_dense_directory_in_scan_order(spark, tmp_path):
    """Several files are numbered in the scan's partition order, row by
    row — the order ``zipWithIndex`` over the scan gives."""
    for i, n in enumerate((5, 40, 17)):
        (tmp_path / f"part-{i}.txt").write_text("".join(f"f{i} l{j}\n" for j in range(n)))
    _, rows, parts = _text_lines(spark, str(tmp_path))
    assert parts >= 2
    want = spark.read.text(str(tmp_path)).rdd.map(lambda r: r[0]).zipWithIndex()
    assert rows == sorted((i, line) for line, i in want.collect())


def test_read_text_lines_dense_single_split_starts_no_job(spark, tmp_path):
    """A single-split file is numbered by ``monotonically_increasing_id``
    with no Spark job; split into partitions, it takes one count job.
    Jobs are counted by job group."""
    from multithreaded_map_reduce_spark.sources.text import read_text_lines

    p = tmp_path / "input.txt"
    p.write_text("".join(f"line {i} content\n" for i in range(300)))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    sc = spark.sparkContext
    jobs = {}
    try:
        for splits, max_bytes in (("one", old), ("many", "1024")):
            spark.conf.set(key, max_bytes)
            group = f"read_text_lines_{splits}_{tmp_path.name}"
            sc.setJobGroup(group, splits)
            read_text_lines(spark, str(p))
            jobs[splits] = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        spark.conf.set(key, old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["many"] and not jobs["one"], jobs


def test_corpus_lines_shape(spark):
    from multithreaded_map_reduce_spark.sources.text import corpus_lines
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    cl = corpus_lines(docs)
    assert cl.columns == ["doc_id", "line_no", "line"]
    assert cl.filter(F.col("line_no") == 0).count() == docs.count()


def test_csv_json_roundtrip(spark, tmp_path):
    """Connector coverage: parquet fixture → csv and json → read back
    with explicit schemas (never inferSchema in prod paths)."""
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    nation = load_table(spark, SF_SMOKE, "nation")
    want = sorted(map(tuple, nation.collect()))

    csv_path = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(csv_path)
    back_csv = spark.read.schema(nation.schema).option("header", True).csv(csv_path)
    assert sorted(map(tuple, back_csv.collect())) == want

    json_path = str(tmp_path / "nation_json")
    nation.write.mode("overwrite").json(json_path)
    back_json = spark.read.schema(nation.schema).json(json_path)
    assert sorted(map(tuple, back_json.collect())) == want


def test_stateful_streaming_totals(spark):
    """applyInPandasWithState running totals == batch aggregation after
    the single file-source micro-batch."""
    from multithreaded_map_reduce_spark.streaming.events import (
        run_stream_to_memory,
        stream_events,
    )
    from multithreaded_map_reduce_spark.streaming.stateful import running_user_totals
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    from multithreaded_map_reduce_spark.functions.rounding import iunits

    stream = stream_events(spark, SF_SMOKE)
    run_stream_to_memory(running_user_totals(stream), "stateful_out", output_mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["total_micros"])
        for r in spark.sql("SELECT * FROM stateful_out").collect()
    }
    batch = load_table(spark, SF_SMOKE, "events").groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum(iunits(F.col("value"))).alias("v")
    )
    want = {r["user_id"]: (r["n"], r["v"]) for r in batch.collect()}
    assert got == want  # exact: integer micro-unit state


def test_parse_byte_size_suffixes():
    """ADVICE r4: '128m' must parse as 128 MiB, not 128 bytes (the old
    strip-non-digits parse silently disabled fan_out under unit-suffixed
    maxPartitionBytes configs)."""
    from multithreaded_map_reduce_spark.sources.catalog import _parse_byte_size

    assert _parse_byte_size("134217728") == 134217728
    assert _parse_byte_size("134217728b") == 134217728
    assert _parse_byte_size("128m") == 128 << 20
    assert _parse_byte_size("128M") == 128 << 20
    assert _parse_byte_size("1g") == 1 << 30
    assert _parse_byte_size("512k") == 512 << 10
    assert _parse_byte_size("2t") == 2 << 40
    assert _parse_byte_size("garbage") == 134217728
    assert _parse_byte_size("  64m ") == 64 << 20


def test_fan_out_repartition_node_not_string_literal(spark):
    """fan_out must detect an existing Repartition NODE (and skip), but
    a string literal containing 'Repartition' in a filter must NOT
    false-positive the node check (ADVICE r4)."""
    from multithreaded_map_reduce_spark.sources.catalog import (
        _has_repartition,
        fan_out,
    )

    small = spark.range(10)
    reparted = small.repartition(4)
    assert _has_repartition(reparted._jdf.queryExecution().optimizedPlan())
    # plan text contains the literal 'Repartition' only inside a filter
    lit = small.selectExpr("id", "'Repartition' AS tag").filter("tag = 'Repartition'")
    assert not _has_repartition(lit._jdf.queryExecution().optimizedPlan())
    # and fan_out of the already-reparted df is the identity
    assert fan_out(reparted) is reparted


def test_fan_out_without_jdf_returns_input(spark):
    """Spark Connect capability guard: a DataFrame-shaped object without
    the py4j ``_jdf`` handle passes through fan_out untouched (VERDICT
    r4 item 8)."""
    from multithreaded_map_reduce_spark.sources.catalog import fan_out

    class NoJdf:
        def __init__(self, inner):
            self.sparkSession = inner.sparkSession

    fake = NoJdf(spark.range(5))
    assert fan_out(fake) is fake


def test_load_table_infers_schema_once(spark, tmp_path):
    """A warm ``load_table`` of an unchanged table starts no Spark job:
    the parquet footer is read once, then the schema comes from the
    cache. The cold call is checked too, so the probe is not vacuous."""
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    spark.createDataFrame([(1, "a b")], "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sc = spark.sparkContext
    jobs = {}
    try:
        for phase in ("cold", "warm"):
            group = f"load_table_{phase}_{tmp_path.name}"
            sc.setJobGroup(group, phase)
            load_table(spark, str(tmp_path), "documents")
            jobs[phase] = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["cold"] and not jobs["warm"], jobs


def test_load_table_sees_rewritten_schema(spark, tmp_path):
    """A table rewritten at the same path with another schema is read
    with the new schema in the same session."""
    from multithreaded_map_reduce_spark.sources.catalog import load_table

    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(path)
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    spark.createDataFrame([(2, "b", "en")], "doc_id long, text string, lang string").write.mode(
        "overwrite"
    ).parquet(path)
    got = load_table(spark, str(tmp_path), "documents")
    assert got.columns == ["doc_id", "text", "lang"]
    assert [tuple(r) for r in got.collect()] == [(2, "b", "en")]


def test_fan_out_keeps_multi_file_scan(spark, tmp_path):
    """An input whose files already scan as at least one partition per
    core is returned unchanged; a 1-file input, and 9 small files that
    Spark packs into 5 partitions on 8 cores, are still repartitioned.
    ``_scan_splits`` must agree with the scan's real partition count."""
    from multithreaded_map_reduce_spark.sources.catalog import (
        _has_repartition,
        _scan_splits,
        fan_out,
    )

    cores = spark.sparkContext.defaultParallelism
    for n_files in (1, cores, cores + 1):
        path = str(tmp_path / f"t{n_files}")
        spark.range(0, 100 * n_files, numPartitions=n_files).selectExpr(
            "id", "repeat('x', 40) AS text"
        ).write.parquet(path)
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) == n_files
        scan_parts = df.rdd.getNumPartitions()
        assert _scan_splits(spark, df.inputFiles()) == scan_parts, n_files
        out = fan_out(df)
        if n_files == cores:
            assert scan_parts >= cores and out is df
        else:
            assert scan_parts < cores
            assert _has_repartition(out._jdf.queryExecution().optimizedPlan())
