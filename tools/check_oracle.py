#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
scale factor, then execute each oracle SQL in DuckDB over the same parquet
tables and compare (schema-insensitive: columns sorted by name, rows sorted,
values hashed). Usage: python3 tools/check_oracle.py [sfdir] [outdir]
(assumes Verify already ran into outdir; use tools/run_verify.sh first)."""
import sys, json, glob, os
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# graft.Verify records why a query left no result (query -> exception)
failed_path = f"{outdir}/verify_failures.json"
verify_failures = (json.load(open(failed_path))
                   if os.path.exists(failed_path) else {})
fails = []
for name, sql in sorted(oracle.items()):
    respath = f"{outdir}/{name}"
    if not os.path.isdir(respath):
        cause = verify_failures.get(name)
        print(f"{name}: MISSING spark result"
              + (f" ({cause[:300]})" if cause else ""))
        fails.append(name); continue
    try:
        got = con.execute(
            f"SELECT * FROM parquet_scan('{respath}/*.parquet')").df()
        want = con.execute(sql).df()
    except Exception as e:
        print(f"{name}: ORACLE ERROR {str(e)[:200]}"); fails.append(name); continue
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        print(f"{name}: COLUMN MISMATCH spark={gc} oracle={wc}")
        fails.append(name); continue
    g = got[gc].astype(str).sort_values(by=gc).reset_index(drop=True)
    w = want[wc].astype(str).sort_values(by=wc).reset_index(drop=True)
    if len(g) != len(w):
        print(f"{name}: ROWCOUNT spark={len(g)} oracle={len(w)}")
        fails.append(name); continue
    if not g.equals(w):
        diff = (g != w).any(axis=1)
        i = diff.idxmax()
        print(f"{name}: VALUE MISMATCH at row {i}\n  spark : "
              f"{g.iloc[i].to_dict()}\n  oracle: {w.iloc[i].to_dict()}")
        fails.append(name); continue
    print(f"{name}: OK ({len(g)} rows)")
print(f"\n{len(oracle)-len(fails)}/{len(oracle)} OK")
sys.exit(1 if fails else 0)
