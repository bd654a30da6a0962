"""Correctness gate: engine output against the registry's DuckDB oracle
SQL over the same generated parquet. Runs outside every timer."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def duck_views(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> parquet path/glob``."""
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            col = df[c]
            if getattr(col.dtype, "tz", None) is not None:
                col = col.dt.tz_localize(None)
            df[c] = col.astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive frame comparison; floats to 1e-9 relative.
    Returns mismatch descriptions (empty = equal)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns: got {sorted(got.columns)} want {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows: got {len(got)} want {len(want)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for c in g.columns:
        gc, wc = g[c], w[c]
        both_na = gc.isna() & wc.isna()
        if pd.api.types.is_float_dtype(gc) or pd.api.types.is_float_dtype(wc):
            a, b = gc.astype("float64").to_numpy(), wc.astype("float64").to_numpy()
            ok = np.isclose(a, b, rtol=1e-9, atol=0.0) | both_na.to_numpy()
        else:
            ok = ((gc == wc) | both_na).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            problems.append(f"column {c}: {int((~ok).sum())}/{len(ok)} differ, "
                            f"first got={gc.iloc[i]!r} want={wc.iloc[i]!r}")
    return problems
