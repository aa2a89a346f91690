"""Output checks against the DuckDB oracles registered with each query.

The comparison rules are those of the repository's correctness gate:
same row count and column names, then per column exact equality after a
full sort, with the int/float kind and the sign of zero both significant.
No tolerance is applied. The rules are kept here rather than imported
from the repository's tools, so that no change to the program's own
tooling can change what the benchmark accepts.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd


def oracle_connection(data_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with the generated event log as the ``events`` view."""
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": temp_dir})
    events = os.path.join(data_dir, "events.parquet")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{events}'")
    return con


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_float_dtype(s):
        return "f"
    if pd.api.types.is_integer_dtype(s):
        return "i"
    return "o"


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between two result frames; empty when they match."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rowcount {len(got)} != {len(want)}"]
    if len(got) == 0:
        return []
    g, w = _normalize(got), _normalize(want)
    issues = []
    for c in g.columns:
        gv, wv = g[c], w[c]
        if _kind(gv) != _kind(wv):
            issues.append(f"{c}: dtype {gv.dtype} != {wv.dtype}")
        elif _kind(gv) == "f":
            ga, wa = gv.to_numpy(float), wv.to_numpy(float)
            zero = (ga == 0.0) & (wa == 0.0)
            if not np.array_equal(np.signbit(ga[zero]), np.signbit(wa[zero])):
                issues.append(f"{c}: zero sign differs")
            elif not np.array_equal(ga, wa, equal_nan=True):
                bad = int((~((ga == wa) | (np.isnan(ga) & np.isnan(wa)))).sum())
                issues.append(
                    f"{c}: {bad} rows differ, max |diff| "
                    f"{np.nanmax(np.abs(ga - wa)):.3g}"
                )
        elif _kind(gv) == "i":
            if not np.array_equal(gv.to_numpy("int64"), wv.to_numpy("int64")):
                issues.append(f"{c}: {int((gv != wv).sum())} int rows differ")
        elif not gv.reset_index(drop=True).equals(wv.reset_index(drop=True)):
            issues.append(f"{c}: {int((gv.to_numpy() != wv.to_numpy()).sum())} rows differ")
    return issues
