"""Oracle check: each op's output against its DuckDB oracle SQL
(`SparkEntry.oracleSql`) run over the same generated inputs.

The rules are those of scripts/check.py: same column names, same row
count, the same pandas dtype per column, and exactly equal values with
row order ignored. Values are compared through a digest of the sorted
per-row hashes, so large outputs need no frame sort.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    """Columns in name order; object columns as str; -0.0 as 0.0 and one
    NaN bit pattern, so equal values hash equal."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            v = df[c].to_numpy() + 0.0
            df[c] = np.where(np.isnan(v), np.nan, v).astype(df[c].dtype)
    return df


def digest(df):
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(np.sort(rows).tobytes()).hexdigest()


def compare(mine, ref):
    """None when `mine` matches `ref`, else the first difference."""
    m, r = canon(mine), canon(ref)
    if list(m.columns) != list(r.columns):
        return f"columns differ: {list(m.columns)} vs {list(r.columns)}"
    if len(m) != len(r):
        return f"row count {len(m)} vs {len(r)}"
    bad = [c for c in m.columns if m[c].dtype != r[c].dtype]
    if bad:
        return "dtype mismatch: " + ", ".join(
            f"{c}: {m[c].dtype} vs {r[c].dtype}" for c in bad)
    if digest(m) != digest(r):
        return "value mismatch"
    return None


def check_all(data_dir, tables, out_dir, oracles, ops):
    """{op: failure message or None} for every op in `ops`."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    result = {}
    for op in ops:
        files = glob.glob(os.path.join(out_dir, op, "*.parquet"))
        if op not in oracles:
            result[op] = "no oracle SQL"
        elif not files:
            result[op] = "no output"
        else:
            try:
                ref = con.execute(oracles[op]).fetchdf()
                mine = pd.read_parquet(os.path.join(out_dir, op))
                result[op] = compare(mine, ref)
            except Exception as e:  # an oracle error fails the op
                result[op] = f"oracle error: {str(e)[:200]}"
    con.close()
    return result
