from __future__ import annotations

import os
import re
import subprocess
import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# ---------------------------------------------------------------- sharding
# The serial suite outgrew the verification window (45 min at r13 —
# VERDICT r13 item 1, the round's only red signal). pytest-xdist is not
# installed in this environment, so a full-suite invocation
# (`pytest tests/ [-x] [-q]`) is transparently split across worker
# subprocesses at FILE granularity: each worker is a plain serial pytest
# run over a disjoint file set with its own session-scoped SparkSession
# (8 cores each), so no fixture ever crosses a process boundary. Test
# files are already process-independent: scratch paths are uuid4-fresh,
# the warehouse dir is a per-process tmp dir, and artifact caches are
# module-level (per process). Any non-canonical invocation (specific
# files, -k, markers, unknown flags) and the workers themselves fall
# through to ordinary serial pytest. PYTEST_SERIAL=1 forces serial.

_SHARD_WORKER_ENV = "PYTEST_SHARD_WORKER"
_ALLOWED_FLAGS = {"-x", "--exitfirst", "-q", "--quiet", "-v", "--verbose", "-ra"}

#: Measured per-file call-time seconds (r14 profile run) used to
#: bin-pack files across workers; files absent here are weighted by
#: test count. Staleness only costs balance, never correctness.
#: Superseded by the measured weights: tests/.shard_weights.local.json
#: (gitignored; rewritten from each sharded run's own --durations
#: output — self-tuning) when it exists, else the tracked snapshot
#: tests/.shard_weights.json, which no run rewrites.
_HEAVY_FILE_SECONDS = {
    "test_plans.py": 200.0,  # post-parallelization of the 489-query lint
    "test_new_ops_r9.py": 170.0,
    "test_new_ops_r13.py": 110.0,
    "test_session_restart.py": 95.0,
    "test_new_ops_r10.py": 95.0,
    "test_plan_order_independence.py": 85.0,
    "test_dtype_parity.py": 80.0,
    "test_new_ops_r5.py": 78.0,
    "test_new_ops_r16.py": 55.0,
    "test_new_ops_r6.py": 45.0,
    "test_dedup.py": 35.0,
    "test_asof_streaming.py": 32.0,
    "test_sql_surface.py": 30.0,
    "test_sketches.py": 25.0,
}

_SEED_WEIGHTS_PATH = Path(__file__).resolve().parent / ".shard_weights.json"
_WEIGHTS_PATH = Path(__file__).resolve().parent / ".shard_weights.local.json"
_DURATION_LINE = re.compile(
    r"^([0-9.]+)s (?:call|setup|teardown)\s+(tests/[^:\n]+)::[^\n]*\n?", re.M
)


def _load_weights() -> dict[str, float]:
    import json

    for path in (_WEIGHTS_PATH, _SEED_WEIGHTS_PATH):
        if path.exists():
            try:
                return {k: float(v) for k, v in json.loads(path.read_text()).items()}
            except (ValueError, OSError):
                pass
    return {}


def _save_weights(outputs: list[str]) -> None:
    import json

    per_file: dict[str, float] = {}
    for out in outputs:
        for sec, path in _DURATION_LINE.findall(out):
            name = Path(path).name
            per_file[name] = per_file.get(name, 0.0) + float(sec)
    if per_file:
        try:
            _WEIGHTS_PATH.write_text(
                json.dumps({k: round(v, 1) for k, v in sorted(per_file.items())}, indent=1)
                + "\n"
            )
        except OSError:
            pass


def _full_suite_invocation(config) -> bool:
    raw = list(config.invocation_params.args)
    positionals = [a for a in raw if not a.startswith("-")]
    flags = [a for a in raw if a.startswith("-")]
    if len(positionals) != 1:
        return False
    target = (Path(config.invocation_params.dir) / positionals[0]).resolve()
    if target != Path(__file__).resolve().parent:
        return False
    return all(f in _ALLOWED_FLAGS for f in flags)


def _pack_shards(files: list[Path], n: int) -> list[list[str]]:
    measured = _load_weights()

    def weight(p: Path) -> float:
        w = measured.get(p.name, _HEAVY_FILE_SECONDS.get(p.name))
        if w is None:
            w = 0.8 * max(1, p.read_text().count("def test_"))
        return w

    bins: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in sorted(files, key=weight, reverse=True):
        i = min(range(n), key=lambda j: bins[j][0])
        bins[i] = (bins[i][0] + weight(f), bins[i][1] + [str(f)])
    return [b[1] for b in bins if b[1]]


def pytest_cmdline_main(config):
    if os.environ.get(_SHARD_WORKER_ENV) or os.environ.get("PYTEST_SERIAL"):
        return None
    if not _full_suite_invocation(config):
        return None
    tests_dir = Path(__file__).resolve().parent
    files = sorted(tests_dir.glob("test_*.py"))
    n_workers = max(2, min(int(os.environ.get("PYTEST_SHARDS", "6")), len(files)))
    shards = _pack_shards(files, n_workers)
    exitfirst = bool(getattr(config.option, "exitfirst", 0))

    base = [
        sys.executable, "-m", "pytest", "-q",
        "-p", "no:cacheprovider", "--durations=0", "--durations-min=0.05",
    ]
    if exitfirst:
        base.append("-x")
    t0 = time.time()
    procs = []
    logs = []
    import tempfile

    for i, shard in enumerate(shards):
        env = dict(os.environ)
        env[_SHARD_WORKER_ENV] = str(i)
        # A file sink, not a PIPE: Spark WARN chatter can exceed the OS
        # pipe buffer and deadlock an unread worker.
        log = tempfile.NamedTemporaryFile(
            mode="w+", prefix=f"pytest_shard{i}_", suffix=".log", delete=False
        )
        logs.append(log)
        procs.append(
            subprocess.Popen(
                base + shard,
                stdout=log,
                stderr=subprocess.STDOUT,
                cwd=str(REPO),
                env=env,
            )
        )
    while any(p.poll() is None for p in procs):
        time.sleep(10)
        alive = sum(p.poll() is None for p in procs)
        sys.stdout.write(f"[shard orchestrator] {alive}/{len(procs)} workers running, {time.time() - t0:.0f}s\n")
        sys.stdout.flush()
    wall = time.time() - t0

    totals: dict[str, int] = {}
    rc = 0
    outputs = []
    for i, (p, log) in enumerate(zip(procs, logs)):
        log.flush()
        out = Path(log.name).read_text()
        os.unlink(log.name)
        outputs.append(out)
        sys.stdout.write(f"\n--- shard {i + 1}/{len(procs)} (rc={p.returncode}) ---\n")
        # keep the echoed output readable: the --durations block feeds
        # the weights file, not the console
        sys.stdout.write(_DURATION_LINE.sub("", out))
        if p.returncode != 0:
            rc = rc or p.returncode
        for count, kind in re.findall(r"(\d+) (passed|failed|skipped|error(?:s)?|xfailed|xpassed)", out):
            totals[kind] = totals.get(kind, 0) + int(count)
    _save_weights(outputs)
    summary = ", ".join(f"{v} {k}" for k, v in sorted(totals.items(), key=lambda kv: kv[0] != "failed"))
    sys.stdout.write(
        f"\n============ {summary or 'no tests collected'} in {wall:.2f}s "
        f"({len(procs)} sharded workers) ============\n"
    )
    sys.stdout.flush()
    return int(rc)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from multithreaded_map_reduce_spark.session import get_spark

    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = get_spark(
        app_name="tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()
