"""Per-round bench artifact discipline (VERDICT r9 item 4).

The driver's ``BENCH_r{N}.json`` stores only a 2000-char stdout tail —
the per-query medians and plan hashes live in the builder-committed
``BENCH_DETAIL_r{N}.json``. Round 8's detail file was announced in a
commit message but never added to the tree, which cost the round-9
judge its round-over-round comparison basis. This test pins the
pairing: every driver bench record from r05 on must have a committed
detail file, and the newest detail file must carry the fields the
regression triage reads. Two detail files are clearly-labeled
reconstructions (``"reconstructed": true`` plus a ``provenance``
string), copied from the driver record because the detail file itself
was lost: r08's was announced but never added, and r14's
``BENCH_DETAIL.json`` was never snapshotted to ``BENCH_DETAIL_r14.json``.
Both are mined from the driver's ``BENCH_r{N}.json``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _rounds(prefix: str) -> dict[int, Path]:
    out: dict[int, Path] = {}
    for p in REPO.glob(f"{prefix}_r*.json"):
        m = re.fullmatch(rf"{prefix}_r(\d+)\.json", p.name)
        if m:
            out[int(m.group(1))] = p
    return out


def test_every_bench_round_has_detail_file() -> None:
    bench = _rounds("BENCH")
    detail = _rounds("BENCH_DETAIL")
    missing = [n for n in bench if n >= 5 and n not in detail]
    assert not missing, (
        f"BENCH_DETAIL_r{missing} missing — commit the builder's "
        "per-query detail file every round (BENCH_r*.json stores only "
        "a truncated stdout tail)"
    )


def test_latest_detail_has_triage_fields() -> None:
    detail = _rounds("BENCH_DETAIL")
    latest = detail[max(detail)]
    d = json.loads(latest.read_text())
    warm = d.get("queries_warm") or d.get("queries_warm_partial")
    assert warm and isinstance(warm, dict), f"{latest.name}: no warm medians"
    assert "warm_total" in d and "canary_sec" in d and "sf" in d, (
        f"{latest.name}: missing warm_total/canary_sec/sf"
    )
    if not d.get("reconstructed"):
        assert "plan_hash" in d, (
            f"{latest.name}: plan hashes are the regression-triage key"
        )
        assert len(warm) >= 100, (
            f"{latest.name}: only {len(warm)} warm entries — expected "
            "the full HEADLINE set"
        )
