"""Order-insensitive comparison of a Spark result with its DuckDB oracle.

Columns are matched by name, rows are sorted on a canonical form, and
cells compare exactly except floats, which compare with a relative
tolerance of 1e-9 (the oracles round their float outputs, so any
larger difference is a wrong result, not summation order).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def connect(data_dir: str):
    import duckdb
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _cell(v):
    """A hashable, sortable normal form; floats stay floats."""
    if v is None:
        return ("", "NULL")
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return ("", "NULL") if math.isnan(v) else ("n", v)
    if isinstance(v, decimal.Decimal):
        return ("n", float(v))
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return ("", "NULL") if pd.isna(v) else ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(_cell(x) for x in v))
    if isinstance(v, (bool, int)):
        return ("n", int(v))
    try:
        if pd.isna(v):
            return ("", "NULL")
    except (TypeError, ValueError):
        pass
    return ("s", str(v))


def _sort_key(row):
    # floats rounded for ordering only; equality below is tolerant
    def k(c):
        tag, v = c
        if tag == "n" and isinstance(v, float):
            return (tag, round(v, 6))
        if tag == "l":
            return (tag, tuple(k(x) for x in v))
        return (tag, v)
    return tuple(k(c) for c in row)


def _same(a, b) -> bool:
    if a[0] == b[0] == "n" and (isinstance(a[1], float) or isinstance(b[1], float)):
        return math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-9)
    if a[0] == "l" and b[0] == "l":
        return len(a[1]) == len(b[1]) and all(_same(x, y) for x, y in zip(a[1], b[1]))
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    cols = sorted(got.columns)
    rows = []
    for df in (got, want):
        rows.append(sorted((tuple(_cell(v) for v in r)
                            for r in df[cols].itertuples(index=False)), key=_sort_key))
    for a, b in zip(*rows):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {a} != oracle {b}"
    return None
