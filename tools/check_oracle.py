#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query parquet
dumped by graft.Verify, run the oracle SQL in DuckDB over the same testdata
tables and compare (columns sorted by name, rows sorted, values hashed).
Every key of oracle_sql.json must have an output dir, so a query whose
result was never written fails instead of passing unchecked. Ends with
`<n> hash matches, <m> rows-only` and ALL OK / FAIL.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
dirs = sorted(n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n)))
fails = matches = rows_only = 0
for name in sorted(set(oracle) - set(dirs)):
    fails += 1
    print(f"{name:28s} MISSING: oracle key with no output dir")
for name in dirs:
    d = os.path.join(out_dir, name)
    got = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
    if name not in oracle:
        status = f"rows-only: {len(got)} rows"
        rows_only += 1
        if len(got) == 0:
            fails += 1
            status += "  << EMPTY"
        print(f"{name:28s} {status}")
        continue
    exp = con.sql(oracle[name]).df()
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    ok_schema = list(got.columns) == list(exp.columns)
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True) if ok_schema else got
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True) if ok_schema else exp
    ok_rows = len(gs) == len(es)
    ok_vals = ok_schema and ok_rows and gs.astype(str).equals(es.astype(str))
    if not (ok_schema and ok_rows and ok_vals):
        fails += 1
        print(f"{name:28s} MISMATCH schema={ok_schema} rows={len(gs)}/{len(es)} vals={ok_vals}")
        if ok_schema and ok_rows:
            diff = gs.astype(str) != es.astype(str)
            idx = diff.any(axis=1)
            print("  spark:", gs[idx].head(3).to_dict("records"))
            print("  duck :", es[idx].head(3).to_dict("records"))
        else:
            print("  spark cols:", list(got.columns), "duck cols:", list(exp.columns))
    else:
        matches += 1
        print(f"{name:28s} OK ({len(gs)} rows)")
print(f"{matches} hash matches, {rows_only} rows-only")
print("FAIL" if fails else "ALL OK")
sys.exit(1 if fails else 0)
