#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify at a
given SF dir, then execute each oracle_sql.json query in DuckDB over the
same parquet tables and compare (columns sorted by name, rows sorted,
values normalized). Usage: python3 tools/dcheck.py [sfdir] [outdir] [--skip-verify]
"""
import json, math, os, subprocess, sys, glob

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
skip = "--skip-verify" in sys.argv

if not skip:
    # Verify runs in the checkout that holds this script
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {sfdir} {outdir}'],
        capture_output=True, text=True, cwd=repo, timeout=1800)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:])
        sys.exit(f"Verify failed")

import duckdb, pandas as pd

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = []
for name, sql in sorted(oracle.items()):
    pq_dir = f"{outdir}/{name}"
    try:
        got = pd.read_parquet(pq_dir)
    except Exception as e:
        fails.append(name); print(f"FAIL {name}: no spark output ({e})"); continue
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append(name); print(f"FAIL {name}: oracle error: {e}"); continue
    g, x = norm(got), norm(exp)
    if list(g.columns) != list(x.columns):
        fails.append(name)
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(x.columns)}")
        continue
    if len(g) != len(x):
        fails.append(name)
        print(f"FAIL {name}: rows {len(g)} vs {len(x)}")
        continue
    try:
        pd.testing.assert_frame_equal(g, x, check_dtype=False,
                                      check_exact=False, rtol=1e-6, atol=1e-9)
        print(f"OK   {name} ({len(g)} rows)")
    except AssertionError as e:
        fails.append(name)
        msg = str(e).split("\n")
        print(f"FAIL {name}: {msg[0]}")
        diff = g.compare(x) if g.shape == x.shape else None
        if diff is not None and not diff.empty:
            print(diff.head(5).to_string())

spark_only = set(os.path.basename(d) for d in glob.glob(f"{outdir}/*")
                 if os.path.isdir(d)) - set(oracle)
if spark_only:
    print(f"(rows-only, no oracle: {sorted(spark_only)})")
print(f"\n{len(oracle) - len(fails)}/{len(oracle)} oracle queries match")
sys.exit(1 if fails else 0)
