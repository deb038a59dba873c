"""Order-insensitive digest of a query result.

Values are canonicalized by ``_canon`` from ``tools/emulate_driver.py``, the
same normalization the driver emulation compares Spark and DuckDB frames
with, so a digest taken from a DuckDB oracle frame equals the digest of the
matching Spark rows.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tools.emulate_driver import _canon


def frame_digest(frame: pd.DataFrame) -> str:
    """sha256 over the sorted column names and the sorted canonical rows."""
    cols = sorted(frame.columns)
    canon = _canon(frame.reindex(cols, axis=1))
    lines = sorted("\x1f".join(row) for row in canon.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


def rows_digest(columns: list[str], rows: list) -> str:
    """Digest of collected Spark rows (tuples in ``columns`` order)."""
    return frame_digest(pd.DataFrame.from_records(rows, columns=columns))
