#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query parquet
dumped by graft.Verify, run the oracle SQL in DuckDB over the same testdata
tables and compare (columns sorted by name, rows sorted, values hashed).
Every key of oracle_sql.json must have an output dir, so a query whose
result was never written fails instead of passing unchecked. Ends with
`<n> hash matches, <m> rows-only` and ALL OK / FAIL.

With `--baseline <dir>` (repeatable), every rows-only output is also
compared, by the same rule, with the same query's dir in each baseline
Verify dump (say, of the parent commit), and the run fails on a
difference; it then prints `<k> rows-only identical to baseline`. A query
whose baseline dumps differ from each other, or that no baseline holds,
is reported and not gated.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--baseline <dir>]...
"""
import sys, json, glob, os
import duckdb

args = sys.argv[1:]
baselines = []
while "--baseline" in args:
    i = args.index("--baseline")
    if i + 1 >= len(args):
        sys.exit("--baseline needs a directory")
    baselines.append(args[i + 1])
    del args[i:i + 2]
if len(args) != 2:
    sys.exit(__doc__)
sf_dir, out_dir = args
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")


def compare(got, exp):
    """(ok_schema, ok_rows, ok_vals, got sorted, exp sorted): columns by
    name, rows sorted, values compared as strings."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    ok_schema = list(got.columns) == list(exp.columns)
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True) if ok_schema else got
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True) if ok_schema else exp
    ok_rows = len(gs) == len(es)
    ok_vals = ok_schema and ok_rows and gs.astype(str).equals(es.astype(str))
    return ok_schema, ok_rows, ok_vals, gs, es


def same(a, b):
    return compare(a, b)[2]


def read_dir(d):
    return con.sql(f"SELECT * FROM '{d}/*.parquet'").df()


oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
dirs = sorted(n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n)))
fails = matches = rows_only = identical = 0
for name in sorted(set(oracle) - set(dirs)):
    fails += 1
    print(f"{name:28s} MISSING: oracle key with no output dir")
for name in dirs:
    d = os.path.join(out_dir, name)
    got = read_dir(d)
    if name not in oracle:
        status = f"rows-only: {len(got)} rows"
        rows_only += 1
        if len(got) == 0:
            fails += 1
            status += "  << EMPTY"
        if baselines:
            base = [os.path.join(b, name) for b in baselines]
            if not all(os.path.isdir(b) for b in base):
                status += "  (no baseline: not gated)"
            else:
                ref = [read_dir(b) for b in base]
                if not all(same(ref[0], r) for r in ref[1:]):
                    status += "  (baseline dumps differ: not gated)"
                elif same(got, ref[0]):
                    identical += 1
                    status += "  = baseline"
                else:
                    fails += 1
                    status += "  << DIFFERS FROM BASELINE"
        print(f"{name:28s} {status}")
        continue
    exp = con.sql(oracle[name]).df()
    ok_schema, ok_rows, ok_vals, gs, es = compare(got, exp)
    if not (ok_schema and ok_rows and ok_vals):
        fails += 1
        print(f"{name:28s} MISMATCH schema={ok_schema} rows={len(gs)}/{len(es)} vals={ok_vals}")
        if ok_schema and ok_rows:
            diff = gs.astype(str) != es.astype(str)
            idx = diff.any(axis=1)
            print("  spark:", gs[idx].head(3).to_dict("records"))
            print("  duck :", es[idx].head(3).to_dict("records"))
        else:
            print("  spark cols:", list(gs.columns), "duck cols:", list(es.columns))
    else:
        matches += 1
        print(f"{name:28s} OK ({len(gs)} rows)")
print(f"{matches} hash matches, {rows_only} rows-only")
if baselines:
    print(f"{identical} rows-only identical to baseline")
print("FAIL" if fails else "ALL OK")
sys.exit(1 if fails else 0)
