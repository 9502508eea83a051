"""Table catalog over the driver-provided parquet fixtures.

The reference's only source is a single line-oriented text file scanned
whole by every worker (``include/MapReduceMaster.h:442-478`` — an
O(mappers × filesize) read). Here sources are columnar parquet scans with
predicate pushdown, column pruning, and HDFS-style input splits for free.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import path_cached

# Tables materialized by the driver at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor — their
# cardinality is fixed (regions=5, nations=25) or grows sub-linearly.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

# Reader confs that change the schema parquet inference returns.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: (path, reader confs, file stamp) -> inferred schema; one entry per path.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _local_path(path: str) -> str | None:
    """``path`` on the local file system, or None for any other scheme."""
    url = urlparse(path)
    if url.scheme == "file":  # a URI, as ``df.inputFiles()`` returns
        return unquote(url.path)
    return path if url.scheme == "" else None


def _file_stamp(path: str) -> tuple | None:
    """(relative name, size, mtime) of every file at a local ``path`` (a
    file or a directory tree): equal stamps mean the same files, so the
    same footers. None when the path is not local or does not exist."""
    local = _local_path(path)
    if local is None or not os.path.exists(local):
        return None
    if os.path.isfile(local):
        files = [local]
    else:
        files = [os.path.join(d, f) for d, _, fs in os.walk(local) for f in fs]
    stamp = []
    for f in sorted(files):
        st = os.stat(f)
        stamp.append((os.path.relpath(f, local), st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that infers each local table's schema once.

    Inference reads a footer in a one-task Spark job (~0.1 s) on every
    call; a read with a known schema starts no job (~15 ms). The schema
    is cached per path, keyed by the files under it and by the reader
    confs in ``_INFER_CONFS``, so a rewritten table or a changed conf
    infers again. Paths that are not local infer on every call."""
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(c, None) for c in _INFER_CONFS), stamp)

    def infer() -> StructType:
        for stale in [k for k in _SCHEMA_CACHE if k[0] == path]:
            del _SCHEMA_CACHE[stale]
        return spark.read.parquet(path).schema

    return spark.read.schema(path_cached(_SCHEMA_CACHE, key, infer)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Plain parquet scan — keep it lazy so
    Catalyst can push filters/projections into the scan.

    Timestamp normalization: the fixture stores NAIVE microsecond
    timestamps, and every timestamp in this engine is TIMESTAMP_NTZ —
    the exact naive values DuckDB reads, with no session-timezone
    coupling (functions/time.py). Two legacy/defensive paths fold into
    that: parquet TIMESTAMP(NANOS) read as raw nanos (``nanosAsLong``),
    and LTZ columns from a caller session running with
    ``inferTimestampNTZ=false`` (cast back to naive wall-clock in the
    UTC session timezone pinned below).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Pin UTC so any LTZ→NTZ normalization below is the identity on the
    # stored naive values, under any caller-provided session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    for cname, dtype in df.dtypes:
        if dtype == "timestamp":
            df = df.withColumn(cname, F.col(cname).cast("timestamp_ntz"))
    return df


def _parse_byte_size(raw: object, default: int = 134217728) -> int:
    """Parse a Spark byte-size conf value ('134217728', '134217728b',
    '128m', '1g', '512k', '2t') to bytes.

    ADVICE r4: the previous strip-non-digits parse turned '128m' into
    128 BYTES, silently tripping the size guard and disabling fan_out
    under a common user config (the default '134217728b' only worked by
    accident of its suffix)."""
    s = str(raw).strip().lower()
    mult = 1
    suffixes = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    if s.endswith("b"):
        s = s[:-1]
    if s and s[-1] in suffixes:
        mult = suffixes[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return default


def _has_repartition(plan) -> bool:
    """True if any NODE of the logical plan is a repartition.

    Checks node names at the head of each treeString line (after the
    tree-drawing prefix) instead of substring-matching the whole plan
    text, which a string literal like ``col = 'Repartition'`` inside a
    filter would false-positive (ADVICE r4)."""
    for line in str(plan.treeString()).splitlines():
        node = line.lstrip(" +:-")
        if node.startswith(("Repartition", "RebalancePartitions")):
            return True
    return False


def _scan_splits(spark: SparkSession, files: list[str]) -> int:
    """How many partitions Spark's file scan packs ``files`` into: the
    split size and greedy packing of ``FilePartition.maxSplitBytes`` and
    ``getFilePartitions`` (largest file first, each file charged
    ``openCostInBytes``). 0 when a file is not local, or is larger than
    a split: the scan then cuts it into byte ranges, and its row groups,
    not the packing, decide which of those hold rows.

    The file count alone does not decide it: on 8 cores, 8 equal files
    scan as 8 partitions, but 9 small ones scan as 5."""
    sizes = []
    for f in files:
        local = _local_path(f)
        if local is None or not os.path.isfile(local):
            return 0
        sizes.append(os.path.getsize(local))
    conf = spark.conf
    open_cost = _parse_byte_size(conf.get("spark.sql.files.openCostInBytes", "4194304"), 4194304)
    max_bytes = _parse_byte_size(conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    min_parts = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    split = min(max_bytes, max(open_cost, sum(n + open_cost for n in sizes) // min_parts))
    if any(n > split for n in sizes):
        return 0
    parts, current = 0, 0
    for n in sorted(sizes, reverse=True):
        if current and current + n > split:
            parts, current = parts + 1, 0
        current += n + open_cost
    return parts + (current > 0)


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input's scan gives fewer
    partitions than ``min_parts`` (default: the cores).

    CPU-bound per-row stages (md5 shingle hashing, simhash bit votes,
    codec parsing) inherit the scan's split count, and a small parquet
    file is ONE split — so on local[32] the whole hashing stage runs on
    a single core while 31 idle (measured: simhash fingerprints at
    sf0.1 dropped ~2× warm once fanned out). The guard is Catalyst's
    logical size estimate vs ``spark.sql.files.maxPartitionBytes``: an
    input bigger than one split already gets row-group/file splits from
    the scan, so the extra round-robin shuffle exists exactly when it
    is nearly free (sub-split input) and vanishes at 100 TB. A small
    input whose files already pack into ``min_parts`` scan partitions
    (``_scan_splits``; e.g. a 4-part corpus on 2 cores) is not
    shuffled either: there the shuffle only adds a stage. The probes
    are driver-only — logical-plan stats and ``df.inputFiles()``, which
    reads the already-listed file index (~1 ms each) — NOT ``df.rdd``,
    whose physical compile costs ~70 ms per call on this hot path.
    Unknown stats (non-file sources report Long.MaxValue) and plans
    that already carry a repartition stay untouched.

    Capability guard: the stats probe needs the classic py4j JVM handle
    (``df._jdf``). Under Spark Connect there is no ``_jdf`` — the probe
    is skipped and the input returns untouched, which is the safe
    default (a Connect cluster is not the single-split local[32] case
    this exists for)."""
    spark = df.sparkSession
    if not hasattr(df, "_jdf"):  # Spark Connect: no JVM handle, no probe
        return df
    try:
        target = min_parts or spark.sparkContext.defaultParallelism
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        max_split = _parse_byte_size(raw)
        plan = df._jdf.queryExecution().optimizedPlan()
        if int(str(plan.stats().sizeInBytes())) > max_split:
            return df
        if _has_repartition(plan):
            return df
        if _scan_splits(spark, df.inputFiles()) >= target:
            return df
    except Exception:  # stats probe is best-effort; never fail the query
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register fixture tables as temp views for the SQL surface."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
