"""SparkSession factory.

Replaces the reference's config loader + master bootstrap
(``src/WordCounter.cpp:51-70``, ``include/MapReduceMaster.h:135-432``):
where the reference forks N RPC worker processes, here the Spark driver
and DAG scheduler own orchestration, retries, and shuffle.

Scale notes (100 TB design):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number, so this is a floor not a tuning
  burden.
- Arrow enabled for the Pandas-UDF slow path.
- UTC session timezone so results are portable (and match the DuckDB
  oracle used by the test harness).
- Python workers start through ``daemon.py``, which imports the
  driver's pyspark instead of Spark's zip archives, so a task does not
  re-read 6.7k archive entries; the package's parent directory is put
  on the workers' ``PYTHONPATH`` so that module imports from any cwd.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "multithreaded_map_reduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    extra_conf = dict(extra_conf or {})
    worker_pythonpath = [extra_conf.pop(_WORKER_PYTHONPATH, ""), _PACKAGE_PARENT]

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.python.daemon.module", f"{__package__}.daemon")
        .config(_WORKER_PYTHONPATH, os.pathsep.join(filter(None, worker_pythonpath)))
        # r13 OPT: the ContextCleaner only reclaims dead shuffle files,
        # broadcast vars and (local)checkpoint blocks when driver GC
        # collects their weak refs — with a 16g heap a long multi-query
        # session (the ~240-query bench, the 489-query gate) can go the
        # default 30 MINUTES between cleanups while thousands of dead
        # blocks squat in the unified memory pool and force live
        # aggregates to spill. 5 min bounds the squatting without
        # measurable GC cost (env-overridable like the other knobs).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
        )
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def artifact_cache_key(spark: SparkSession, sf_dir: str) -> str:
    """Cache key for session-scoped shared artifacts (checkpointed
    DataFrames, metadata counts): ``applicationId + fixture dir``.

    ``applicationId`` is minted by the SparkContext at startup and is
    unique per context for the life of the process, so a RESTARTED
    session (whose predecessor's localCheckpoint blocks died with its
    context) can never collide with a stale entry. ``id(spark)`` is
    NOT a safe substitute — CPython recycles addresses after GC, so a
    new session allocated where a dead one lived would be handed a
    relation whose blocks are gone (ADVICE r12). ``sf_dir`` alone is
    worse: deterministic staleness on any restart. Entries for dead
    sessions are retired lazily by the caller dicts (bounded: one
    artifact per (app, fixture dir); tests are the only multi-app
    processes)."""
    return f"{spark.sparkContext.applicationId}:{sf_dir}"


#: One process-wide lock guards EVERY module-level artifact cache
#: (ADVICE r13): the caches were unsynchronized check-then-set, fine
#: for the serial bench/gate but a dogpile (two builds, two different
#: DataFrame objects) if queries are ever planned from driver threads
#: — which the plan-lint test now does. Reentrant because one
#: artifact's build may consult another cached artifact.
_ARTIFACT_LOCK = threading.RLock()


def artifact_cached(cache: dict, spark: SparkSession, sf_dir: str, build):
    """Thread-safe check-then-set for an ``applicationId:sf_dir``-keyed
    artifact cache. Also retires entries of dead applications (ADVICE
    r13): only one SparkContext is live per process, so any key with a
    different applicationId prefix belongs to a stopped session whose
    checkpoint blocks are gone."""
    key = artifact_cache_key(spark, sf_dir)
    with _ARTIFACT_LOCK:
        if key not in cache:
            prefix = spark.sparkContext.applicationId + ":"
            for stale in [k for k in cache if not k.startswith(prefix)]:
                del cache[stale]
            cache[key] = build()
        return cache[key]


def path_cached(cache: dict, key, build):
    """Thread-safe check-then-set for the fixture-dir-keyed landed-file
    caches (index parquets, model weights): entries outlive sessions by
    design (the files are on disk), so no eviction — just dogpile
    protection under the shared artifact lock."""
    with _ARTIFACT_LOCK:
        if key not in cache:
            cache[key] = build()
        return cache[key]
