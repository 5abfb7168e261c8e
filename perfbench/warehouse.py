"""Reads of a warehouse's parquet files without Spark, for the
correctness checks and the on-disk metrics (pyarrow reads the footers
and columns directly, so the checks do not go through the engine they
check)."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq


def files(path: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(path):
        out.extend(os.path.join(root, n) for n in names
                   if n.endswith(".parquet") and not n.startswith(("_", ".")))
    return sorted(out)


def rows_in(paths) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths)


def table_rows(path: str) -> int:
    return rows_in(files(path)) if os.path.isdir(path) else 0


def table_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in files(path))


def read(path: str, columns=None) -> pd.DataFrame:
    """All rows of a table directory (partition columns not included)."""
    parts = [pq.read_table(p, columns=columns).to_pandas() for p in files(path)]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=columns)
