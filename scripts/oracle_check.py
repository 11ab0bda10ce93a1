#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare Verify output
parquet against DuckDB running SparkEntry.oracleSql on the same testdata.
Usage: python3 scripts/oracle_check.py <verify_out_dir> [sf_dir] [q1,q2,...]
The optional third argument (the same comma-separated subset graft.Verify
takes) checks only those queries; without it every oracle is checked.
DuckDB spills to <verify_out_dir>/duckdb_tmp, so a join larger than its
memory limit runs out of core instead of failing.
(Driver-side tooling only — not part of the Spark library.)"""
import duckdb, json, os, sys
out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/verify_r2'
sf = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
con = duckdb.connect(config={'temp_directory': f'{out}/duckdb_tmp'})
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f'{out}/oracle_sql.json'))
if only is not None:
    unknown = only - oracle.keys()
    if unknown: sys.exit(f'no oracle SQL for: {",".join(sorted(unknown))}')
    oracle = {k: v for k, v in oracle.items() if k in only}
fails = []
for name, sql in sorted(oracle.items()):
    d = f'{out}/{name}'
    if not os.path.isdir(d):
        fails.append((name, 'NO SPARK OUTPUT')); continue
    try:
        spark = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
        o = con.execute(sql).fetchdf()
        sc = sorted(spark.columns); oc = sorted(o.columns)
        if sc != oc: fails.append((name, f'schema {sc} vs {oc}')); continue
        if len(spark) != len(o): fails.append((name, f'rows {len(spark)} vs {len(o)}')); continue
        s1 = spark[sc].sort_values(sc).reset_index(drop=True)
        s2 = o[sc].sort_values(sc).reset_index(drop=True)
        for c in sc:
            if s1[c].dtype != s2[c].dtype:
                try: s2[c] = s2[c].astype(s1[c].dtype)
                except Exception: pass
        if not s1.equals(s2):
            neq = [c for c in sc if not s1[c].equals(s2[c])]
            fails.append((name, f'values differ in {neq}')); continue
        print(f'OK   {name} ({len(spark)} rows)')
    except Exception as e:
        fails.append((name, f'ERR {str(e)[:160]}'))
for f in fails: print('FAIL', *f)
print(f'{len(oracle)-len(fails)}/{len(oracle)} pass')
sys.exit(1 if fails else 0)
