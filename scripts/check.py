#!/usr/bin/env python3
"""Local driver-mimic: compare Verify output parquet against DuckDB oracles.

Usage: python3 scripts/check.py <sf_dir> <verify_out_dir> [name_regex]

The optional regex restricts which query dirs are compared (e.g.
'^(etl|qa|q_|q1)' for the relational/ETL/QA families at a staged SF
where the quadratic D-family oracles would take DuckDB hours) —
unfiltered runs remain the default and what the driver does.
"""
import json, sys, glob, os, re
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
name_re = re.compile(sys.argv[3]) if len(sys.argv) > 3 else None
con = duckdb.connect()
# optional resource knobs for staged-SF sweeps (heavy trained-IVFPQ
# oracles build ~100M-row intermediate CTEs): GRAFT_DUCKDB_MEM like
# '96GB', GRAFT_DUCKDB_THREADS like '16'
if os.environ.get("GRAFT_DUCKDB_MEM"):
    con.execute(f"SET memory_limit='{os.environ['GRAFT_DUCKDB_MEM']}'")
    # an in-memory duckdb has no temp dir -> large sorts/windows cannot
    # spill and die at the limit; give it one
    con.execute("SET temp_directory='/tmp/graft_duckdb_spill'")
if os.environ.get("GRAFT_DUCKDB_THREADS"):
    con.execute(f"SET threads={os.environ['GRAFT_DUCKDB_THREADS']}")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, passes = [], []

# Verify writes a FAILED.txt marker listing queries that threw this run —
# treat each as FAIL even if a stale output dir somehow survives.
marker = os.path.join(out_dir, "FAILED.txt")
if os.path.exists(marker):
    for q in open(marker).read().split():
        fails.append((q, "query failed during Verify (FAILED.txt)"))

def canon(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

for name in sorted(os.listdir(out_dir)):
    path = os.path.join(out_dir, name)
    if not os.path.isdir(path):
        continue
    if name_re is not None and not name_re.search(name):
        continue
    files = glob.glob(f"{path}/*.parquet")
    if not files:
        fails.append((name, "no output parquet")); continue
    mine = pd.read_parquet(files[0])
    # every gate has an oracle (a trained gate's comes from its run), so
    # an output dir without one fails
    if name not in oracle:
        fails.append((name, "no oracle entry in oracle_sql.json")); continue
    try:
        ref = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {str(e)[:200]}")); continue
    m, r = canon(mine), canon(ref)
    if list(m.columns) != list(r.columns):
        fails.append((name, f"columns differ: {list(m.columns)} vs {list(r.columns)}"))
        continue
    if len(m) != len(r):
        fails.append((name, f"row count {len(m)} vs {len(r)}")); continue
    # the driver's hash is type-sensitive: an int64 column vs a DuckDB
    # HUGEINT (surfacing as float64) hash-differs even when values match
    # numerically (this was r1's one red row) — require EXACT dtype match
    # (int32 vs int64 is also a mismatch, not just kind-level)
    kind_bad = [c for c in m.columns if m[c].dtype != r[c].dtype]
    if kind_bad:
        fails.append((name, "dtype mismatch: " + ", ".join(
            f"{c}: {m[c].dtype} vs {r[c].dtype}" for c in kind_bad)))
        continue
    try:
        # exact compare — the driver HASHES values, so a 1-ulp double
        # difference fails there; atol here would hide it (it did in r1)
        pd.testing.assert_frame_equal(m, r, check_dtype=False, check_exact=True)
        passes.append((name, len(m)))
    except AssertionError as e:
        fails.append((name, "value mismatch: " + str(e).split("\n")[-2][:200]))

for n, c in passes: print(f"PASS  {n} ({c} rows)")
for n, msg in fails: print(f"FAIL  {n}: {msg}")
print(f"\n{len(passes)} pass, {len(fails)} fail")
# a filter that matches NOTHING must not read as a green sweep (a
# transposed regex would otherwise record success while comparing 0)
if name_re is not None and not (passes or fails):
    print(f"FAIL  name_regex {name_re.pattern!r} matched no output dirs")
    sys.exit(1)
sys.exit(1 if fails else 0)
