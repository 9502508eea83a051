"""Pinned environment and a timed session start and stop."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)  # the package and its test oracles
# Driver heap: the inputs are a few MB, so 1 GB is ample and leaves room
# on a small shared machine; the package's own default (16g) can exceed
# the machine. The heap starts at full size (-Xms): otherwise its growth
# follows GC timing and the peak RSS of a run varies by a factor of two.
HEAP = "1g"


def process_age_s() -> float:
    """Seconds since this process was started by the kernel (10 ms
    resolution), so interpreter start and imports count as set-up."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of proc(5): starttime
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def spark_cores() -> int:
    """Half the usable cores run Spark tasks; the other half are left to
    the JVM's JIT compiler and GC threads, the Python driver and py4j. On
    a 4-vCPU machine passes were no slower on ``local[2]`` than on
    ``local[4]``, and their spread between runs was about half as wide."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def pin_env(work_dir: str) -> None:
    """Pin the knobs the package reads from the environment: the Spark
    cores of ``spark_cores``, a driver heap of ``HEAP``, and spill and
    temp space in ``work_dir``."""
    cpus = spark_cores()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR


def start_session():
    """``get_spark()`` plus one trivial action. Returns the session, the
    ``get_spark`` call time, and the process age at the end of the
    action (the set-up time a user of a fresh process pays)."""
    from multithreaded_map_reduce_spark import queries  # noqa: F401  (registry import is set-up)
    from multithreaded_map_reduce_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP}"},
    )
    start_s = time.perf_counter() - t0
    spark.range(1).count()
    return spark, start_s, process_age_s()


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session launches a new JVM
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

