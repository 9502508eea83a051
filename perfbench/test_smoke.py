"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that the same seed gives byte-identical inputs, that a perturbed
output fails the oracle check, and that a run prints every metric of
``BENCHMARK.json`` with its unit, with every job output correct.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import sys
from contextlib import redirect_stdout

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = {"CORPUS_DOCS": 300, "TEXT_LINES": 300}


@pytest.fixture
def tiny(monkeypatch):
    for name, n in TINY.items():
        monkeypatch.setattr(workloads, name, n)


def _digests(wl, seed: int, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir)
    wl.generate(np.random.default_rng(seed), out_dir)
    out = {}
    for root, _, files in os.walk(out_dir):
        for f in files:
            path = os.path.join(root, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, out_dir)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", run.WORKLOADS)
def test_same_seed_gives_identical_inputs(tiny, tmp_path, name):
    wl = workloads.workloads()[name]
    a = _digests(wl, 7, str(tmp_path / "a"))
    b = _digests(wl, 7, str(tmp_path / "b"))
    c = _digests(wl, 8, str(tmp_path / "c"))
    assert a == b
    assert all(any(f == i or f.startswith(i + os.sep) for f in a) for i in wl.inputs)
    assert a != c


def test_perturbed_output_is_caught(tiny, tmp_path):
    from multithreaded_map_reduce_spark.queries import ALL_ORACLES

    workloads.workloads()["corpus_dedup"].generate(np.random.default_rng(1), str(tmp_path))
    con = check.duck_con(str(tmp_path))
    sql = ALL_ORACLES["word_count"]
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    assert check.compare("word_count", cols, rows[::-1], con, sql) == len(rows)
    i = cols.index("cnt")
    bumped = [tuple(v + 1 if j == i else v for j, v in enumerate(rows[0]))] + rows[1:]
    for wrong in (bumped, rows[1:], rows + rows[:1]):
        with pytest.raises(AssertionError):
            check.compare("word_count", cols, wrong, con, sql)


def _run(argv) -> tuple[str, dict]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert run.main(argv) == 0
    out = buf.getvalue()
    return out, json.loads(out.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "name,trace",
    [(w, 1) for w in run.WORKLOADS] + [("mapreduce_text", 0)],
)
def test_every_metric_is_printed_with_its_unit(tiny, name, trace):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    out, result = _run(["--workload", name, "--seed", "3", "--seconds", "0.1", "--trace", str(trace)])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert any(
            line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
            for line in out.splitlines()
        ), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
