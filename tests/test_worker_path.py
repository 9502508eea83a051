"""Python workers import the driver's pyspark, not Spark's archives.

``get_spark`` starts pyspark's daemon through
``multithreaded_map_reduce_spark.daemon``, which drops
``$SPARK_HOME/python/lib/*.zip`` and the spark-core jar from the
workers' ``sys.path`` (see that module). These tests check the running
workers, the path rule without Spark, and that the daemon starts when
the driver's cwd is not the repository root.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pyspark
from pyspark.sql import functions as F
from pyspark.sql import types as T

from multithreaded_map_reduce_spark.daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_imports_driver_pyspark(spark):
    def worker_imports(_):  # nested: pickled by value
        import sys

        import pyspark

        types = sorted({type(v).__name__ for v in sys.path_importer_cache.values()})
        return [pyspark.__file__, *types]

    udf = F.udf(worker_imports, T.ArrayType(T.StringType()), useArrow=False)
    pyspark_file, *importers = spark.range(1).select(udf("id")).first()[0]
    assert pyspark_file == pyspark.__file__
    assert "zipimporter" not in importers


# ---------------------------------------------------------------- path rule


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files):
    for name, text in files.items():
        os.makedirs(os.path.dirname(root / name), exist_ok=True)
        (root / name).write_text(text)
    return str(root)


PYSPARK = {"pyspark/__init__.py": "", "pyspark/version.py": '__version__ = "4.1.2"\n'}
PY4J = {"py4j/__init__.py": ""}


def _spark_home(tmp_path):
    """A ``SPARK_HOME`` that links to its release, and the archives as
    Spark prepends them: the zips under the link, the jar resolved."""
    release = tmp_path / "spark-4.1.2"
    home = tmp_path / "spark"
    release.mkdir()
    home.symlink_to(release)
    return str(home), [
        _zip(home / "python/lib/pyspark.zip", PYSPARK),
        _zip(home / "python/lib/py4j-0.10.9.9-src.zip", PY4J),
        _zip(release / "jars/spark-core_2.13-4.1.2.jar", {"x.class": ""}),
    ]


def test_path_rule_drops_spark_archives(tmp_path):
    home, archives = _spark_home(tmp_path)
    site = _tree(tmp_path / "site", {**PYSPARK, **PY4J})
    user_zip = _zip(tmp_path / "mine" / "deps.zip", {"mylib/__init__.py": ""})
    py_files = _zip(tmp_path / "userFiles-1" / "shipped.zip", {"shipped/__init__.py": ""})
    path = [str(tmp_path), py_files, *archives, user_zip, site]
    assert worker_path(path, home) == [str(tmp_path), py_files, user_zip, site]


def test_path_rule_keeps_archives_when_pyspark_only_in_archive(tmp_path):
    home, archives = _spark_home(tmp_path)
    site = _tree(tmp_path / "site", PY4J)
    user_zip = _zip(tmp_path / "mine" / "pyspark_copy.zip", PYSPARK)
    for path in ([*archives, site], [*archives, user_zip, site]):
        assert worker_path(path, home) == path


def test_path_rule_keeps_archives_for_another_pyspark_release(tmp_path):
    home, archives = _spark_home(tmp_path)
    site = _tree(tmp_path / "site", {**PYSPARK, "pyspark/version.py": '__version__ = "4.0.0"\n', **PY4J})
    assert worker_path([*archives, site], home) == [*archives, site]


# ---------------------------------------------------------------- any cwd

_DRIVER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F, types as T
    from multithreaded_map_reduce_spark.session import get_spark

    def probe(_):
        import pyspark, userdep
        return pyspark.__file__ + "|" + userdep.NAME

    spark = get_spark(cpus=1, extra_conf={{"spark.executorEnv.PYTHONPATH": {deps!r}}})
    print("WORKER", spark.range(1).select(F.udf(probe, T.StringType())("id")).first()[0])
    spark.stop()
    """
)


def test_python_udf_runs_from_another_cwd(tmp_path):
    """The daemon module is imported through the executor PYTHONPATH
    that ``get_spark`` sets, merged with the caller's own entries."""
    deps = tmp_path / "deps"
    _tree(deps, {"userdep.py": 'NAME = "userdep"\n'})
    script = tmp_path / "driver.py"
    script.write_text(_DRIVER.format(repo=REPO, deps=str(deps)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    worker = [line for line in out.stdout.splitlines() if line.startswith("WORKER ")]
    assert worker == [f"WORKER {pyspark.__file__}|userdep"]
