"""Output check against the DuckDB oracles.

Both sides are put in the canonical row form of the repository's own
differential tests (``tests/oracle.py``: columns ordered by name, floats
by exact ``repr``, decimals kept distinct from floats) and compared as
sorted lists, so row order does not matter but every value must match
exactly: queries round their floats themselves.
"""

from __future__ import annotations

import os

import duckdb

import session_start  # noqa: F401  (puts the repository root on sys.path)
from tests.oracle import canonical_rows


def duck_con(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per parquet table in ``data_dir``
    (a file, or a directory of part files)."""
    con = duckdb.connect()
    for fname in sorted(os.listdir(data_dir)):
        if fname.endswith(".parquet"):
            path = os.path.join(data_dir, fname)
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {fname[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(name: str, cols: list[str], rows, con, sql: str) -> int:
    """Raise ``AssertionError`` unless ``rows`` equal the oracle's rows
    as a multiset; return the row count."""
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    if sorted(cols) != sorted(ocols):
        raise AssertionError(f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}")
    got = canonical_rows(cols, rows)
    want = canonical_rows(ocols, res.fetchall())
    if got != want:
        diffs = [(a, b) for a, b in zip(got, want) if a != b][:3]
        raise AssertionError(
            f"{name}: {len(got)} rows, oracle {len(want)} rows; first differences {diffs}"
        )
    return len(got)
