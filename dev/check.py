#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify output vs DuckDB."""
import duckdb, json, os, sys, glob
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
only = sys.argv[3].split(',') if len(sys.argv) > 3 else None
# CHECK_JSON=path writes a machine-readable per-query mirror of this run —
# the committed round artifact (dev/correctness_r{N}.json) that survives a
# driver-side gate failure like CORRECTNESS_r12.json = {}.
json_out = os.environ.get('CHECK_JSON')
results = {}
con = duckdb.connect()
# bound the spill: an oracle that needs more fails alone instead of filling
# the disk under every other job on the host
con.execute("SET max_temp_directory_size = '5GB'")
for p in glob.glob(os.path.join(sfdir, '*.parquet')):
    # ScaleData writes multi-file tables as DIRECTORIES named <t>.parquet
    src = f'{p}/*.parquet' if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{src}'")
oracle = json.load(open(os.path.join(outdir, 'oracle_sql.json')))
fails = []
def fail(name, msg):
    print(f"{name}: {msg}"); fails.append(name); results[name] = msg

for name in sorted(oracle):
    if only and name not in only: continue
    try:
        spark = pd.read_parquet(os.path.join(outdir, name))
    except Exception as e:
        fail(name, f"NO SPARK OUTPUT ({e})"); continue
    try:
        duck = con.sql(oracle[name]).df()
    except Exception as e:
        fail(name, f"ORACLE SQL FAILED: {e}"); continue
    sc, dc = sorted(spark.columns), sorted(duck.columns)
    if sc != dc:
        fail(name, f"SCHEMA MISMATCH spark={sc} duck={dc}"); continue
    s = spark[sc].sort_values(sc, kind='mergesort').reset_index(drop=True)
    d = duck[sc].sort_values(sc, kind='mergesort').reset_index(drop=True)
    if len(s) != len(d):
        fail(name, f"ROWCOUNT spark={len(s)} duck={len(d)}"); continue
    bad = None
    for c in sc:
        a, b = s[c], d[c]
        if str(a.dtype) != str(b.dtype):
            print(f"{name}: dtype note {c}: spark={a.dtype} duck={b.dtype}")
        try:
            eq = (a.isna() & b.isna()) | (a == b)
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.fillna(False).all():
            i = int((~eq.fillna(False)).idxmax())
            bad = (c, i, a.iloc[i], b.iloc[i]); break
    if bad:
        c, i, av, bv = bad
        fail(name, f"VALUE MISMATCH col={c} row={i} spark={av!r} duck={bv!r} ({len(s)} rows)")
    else:
        print(f"{name}: OK ({len(s)} rows)")
        results[name] = f"ok ({len(s)} rows)"
n_checked = len(results)
print(f"\n{n_checked - len(fails)}/{n_checked} passed" + (f"; FAILED: {fails}" if fails else ""))
if json_out:
    progress = {}
    try:
        progress = json.load(open(os.path.join(outdir, 'verify_progress.json')))
    except Exception:
        pass
    with open(json_out, 'w') as f:
        json.dump({'n_checked': n_checked, 'n_pass': n_checked - len(fails),
                   'n_fail': len(fails), 'sf': sfdir,
                   'verify_progress': progress, 'queries': results}, f, indent=1)
sys.exit(1 if fails else 0)
