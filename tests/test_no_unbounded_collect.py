"""CI grep (VERDICT r7 item 3): every ``.collect()`` in package source
must be provably bounded — a ``limit(1)`` argmax read, a single
aggregate row, a ≤len(thresholds) model finalization, or a labeled
fixture writer. ``dedup_winnowing_pairs`` shipped in r7 with an
UNBOUNDED pair-relation collect (millions of rows at 100 TB); it now
uses ``localCheckpoint(eager=True)`` and this test keeps the class
closed: a new unbounded collect must be consciously whitelisted here
with a boundedness argument, not slipped in.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "multithreaded_map_reduce_spark"

# (path suffix, line-content regex) -> why it is bounded
_WHITELIST: list[tuple[str, str, str]] = [
    (
        "queries/curation.py",
        r"limit\(1\)\.collect\(\)",
        "coverage-greedy argmax: exactly 1 row per iteration",
    ),
    (
        "queries/textstats.py",
        r"limit\(1\)\.collect\(\)",
        "argmax read: exactly 1 row",
    ),
    (
        "queries/textstats.py",
        r"rows = out\.collect\(\)",
        "_finalize_logreg: ≤ len(thresholds) aggregate rows by construction",
    ),
    (
        "queries/textstats.py",
        r"row = w\.collect\(\)\[0\]  # exactly ONE row",
        "_lr_trained_weights: the 1-row trained weight vector",
    ),
    (
        "queries/connectors.py",
        r"\.collect\(\):  # fixture setup only",
        "labeled fixture writer over the bounded test corpus",
    ),
    (
        "queries/streaming_gate.py",
        r"cents = spark\.read\.parquet\(cent_path\)\.orderBy\(\"cid\"\)\.collect\(\)",
        "ANN probe centroid constants: ≤ ANNP_CELLS rows by construction",
    ),
    (
        "operators/graph.py",
        r"\)\.collect\(\)\[0\]",
        "connected-components convergence probe: 1 aggregate row per round",
    ),
    (
        "sources/text.py",
        r"counts = dict\(lines\.groupBy\(pid\)\.count\(\)\.collect\(\)\)",
        "dense line offsets: one count row per scan partition",
    ),
]


def test_no_unbounded_collect() -> None:
    offenders: list[str] = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".collect(" not in line or line.lstrip().startswith("#"):
                continue
            ok = any(
                rel.endswith(suffix) and re.search(pat, line)
                for suffix, pat, _ in _WHITELIST
            )
            if not ok:
                offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "unwhitelisted .collect() — prove it is bounded and add it to "
        f"_WHITELIST with a reason:\n" + "\n".join(offenders)
    )
