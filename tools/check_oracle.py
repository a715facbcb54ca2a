#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB with views over <sfDir>/*.parquet,
and compares: row count, column names, and values (columns sorted by name,
rows sorted by all columns, exact match + abs/rel tolerance report for floats).
Each query listed in failed.json (graft.Verify's {name: message} of the
queries that threw) fails with the first line of its message, whatever
parquet its directory holds.

Dev tool only — not part of the engine (driver-side python is allowed for
tooling, not for the library).
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

def load_result(path):
    files = sorted(glob.glob(os.path.join(path, '*.parquet')))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in glob.glob(os.path.join(sf_dir, '*.parquet')):
        name = os.path.basename(t).replace('.parquet', '')
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    oracle = json.load(open(os.path.join(out_dir, 'oracle_sql.json')))
    failed_json = os.path.join(out_dir, 'failed.json')
    failed = json.load(open(failed_json)) if os.path.exists(failed_json) else {}
    results = sorted(d for d in os.listdir(out_dir)
                     if os.path.isdir(os.path.join(out_dir, d)) and d not in failed)
    n_pass = n_fail = n_noracle = 0
    for name in sorted(failed):
        msg = (failed[name].splitlines() or [''])[0]
        print(f"FAIL  {name}: {msg}"); n_fail += 1
    for name in results:
        got = load_result(os.path.join(out_dir, name))
        if got is None:
            print(f"FAIL  {name}: no parquet output"); n_fail += 1; continue
        if name not in oracle:
            print(f"SKIP  {name}: no oracle ({len(got)} rows)"); n_noracle += 1; continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}"); n_fail += 1; continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(e.columns)}"); n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}"); n_fail += 1; continue
        bad = []
        for c in g.columns:
            gv, ev = g[c], e[c]
            if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
                gv = pd.to_numeric(gv, errors='coerce'); ev = pd.to_numeric(ev, errors='coerce')
                both_nan = gv.isna() & ev.isna()
                exact = (gv == ev) | both_nan
                if not exact.all():
                    diff = (gv - ev).abs().max()
                    bad.append(f"{c}: {int((~exact).sum())} mismatches, maxdiff={diff}")
            else:
                if not (gv.astype(str) == ev.astype(str)).all():
                    i = (gv.astype(str) != ev.astype(str)).idxmax()
                    bad.append(f"{c}: e.g. row {i}: {gv[i]!r} vs {ev[i]!r}")
        if bad:
            print(f"FAIL  {name}: " + "; ".join(bad)); n_fail += 1
        else:
            print(f"PASS  {name} ({len(g)} rows)"); n_pass += 1
    missing = set(oracle) - set(results) - set(failed)
    for m in sorted(missing):
        print(f"FAIL  {m}: oracle declared but no result dir"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0

if __name__ == '__main__':
    sys.exit(main(sys.argv[1], sys.argv[2]))
