#!/usr/bin/env python3
"""Local mimic of the driver's t2 gate: run graft.Verify (Spark) into a tmp
dir, then run each oracle_sql.json query in DuckDB over the same parquet
tables and compare row-by-row after sorting columns by name.

Usage: python3 tools/check.py [sfdir] [--skip-spark] [query ...]

Builds and verifies the checkout this script sits in, so a copy of the repo
checks its own sources.
"""
import json, math, os, subprocess, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
OUT = "/tmp/verify_out"
ARGS = [a for a in sys.argv[2:] if not a.startswith("-")]
SKIP_SPARK = "--skip-spark" in sys.argv

if not SKIP_SPARK:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {SF} {OUT}'],
        cwd=ROOT, capture_output=True, text=True, timeout=1800)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
    if r.returncode != 0:
        print("VERIFY FAILED\n", tail)
        sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

import duckdb
import pandas as pd

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)

def frame_sig(df):
    df = df[sorted(df.columns)]
    return [tuple(canon_cell(v) for v in row) for row in df.itertuples(index=False)]

names = ARGS if ARGS else list(oracle.keys())
fails = []
for name in names:
    sql = oracle.get(name)
    pdir = f"{OUT}/{name}"
    if not os.path.isdir(pdir):
        print(f"{name}: MISSING spark output"); fails.append(name); continue
    got = con.sql(f"SELECT * FROM '{pdir}/*.parquet'").df()
    if sql is None:
        print(f"{name}: rows-only ({len(got)} rows)"); continue
    try:
        want = con.sql(sql).df()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}"); fails.append(name); continue
    ok_schema = sorted(got.columns) == sorted(want.columns)
    dtypes_g = [str(got[c].dtype) for c in sorted(got.columns)]
    dtypes_w = [str(want[c].dtype) for c in sorted(want.columns)]
    sg, sw = frame_sig(got), frame_sig(want)
    ok = ok_schema and sg == sw and dtypes_g == dtypes_w
    if ok:
        print(f"{name}: OK ({len(got)} rows)")
    else:
        fails.append(name)
        print(f"{name}: MISMATCH rows={len(got)}/{len(want)} schema_ok={ok_schema}")
        if not ok_schema:
            print("  spark cols:", list(sorted(got.columns)))
            print("  duck  cols:", list(sorted(want.columns)))
        elif dtypes_g != dtypes_w:
            print("  spark dtypes:", dtypes_g)
            print("  duck  dtypes:", dtypes_w)
        if ok_schema:
            for i, (a, b) in enumerate(zip(sg, sw)):
                if a != b:
                    print(f"  first diff row {i}:\n    spark={a}\n    duck ={b}")
                    break
            else:
                if len(sg) != len(sw):
                    print(f"  row-count diff only: {len(sg)} vs {len(sw)}")

print(f"\n{len(names)-len(fails)}/{len(names)} OK; failing: {fails}")
sys.exit(1 if fails else 0)
