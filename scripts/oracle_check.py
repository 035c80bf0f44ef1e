#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 scripts/oracle_check.py [sfDir] [outDir]

Reads outDir/<name>/ parquet (written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle SQL in DuckDB over views named
after the parquet tables in sfDir, then compares: columns sorted by name,
rows sorted by all columns, exact value equality (with a float report on
mismatch). Exit 1 if any query mismatches.

Each summary entry whose oracle ran carries `oracle_s`: the DuckDB
execution plus fetch time of that oracle (including the row sort that
normalises it); the 5 slowest are printed at the end.
"""
import glob
import json
import math
import os
import sys
import time

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{SF_DIR}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

with open(f"{OUT_DIR}/oracle_sql.json") as f:
    oracles = json.load(f)

def norm(rel):
    cols = sorted(rel.columns)
    df = rel.df()[cols]
    rows = df.values.tolist()
    def key(row):
        return [(x is None or (isinstance(x, float) and math.isnan(x)), str(x))
                for x in row]
    return cols, sorted(rows, key=key)

def eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return str(a) == str(b)

SUMMARY_PATH = sys.argv[3] if len(sys.argv) > 3 else None
summary = {}

def record(name, status, rows, detail="", oracle_s=None):
    summary[name] = {"status": status, "rows": rows}
    if detail:
        summary[name]["detail"] = detail
    if oracle_s is not None:
        summary[name]["oracle_s"] = round(oracle_s, 3)

fail = 0
results = sorted(os.listdir(OUT_DIR))
for name in results:
    path = f"{OUT_DIR}/{name}"
    if not os.path.isdir(path):
        continue
    got_rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    if name not in oracles:
        print(f"SKIP {name}: no oracle (rows-only check: {len(got_rel)} rows)")
        record(name, "skip_rows_only", len(got_rel))
        continue
    t0 = time.monotonic()
    try:
        exp_rel = con.sql(oracles[name])
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        record(name, "fail", -1, f"oracle SQL error: {e}",
               time.monotonic() - t0)
        fail += 1
        continue
    ec, er = norm(exp_rel)
    oracle_s = time.monotonic() - t0
    gc, gr = norm(got_rel)
    if gc != ec:
        print(f"FAIL {name}: columns differ spark={gc} oracle={ec}")
        record(name, "fail", len(gr), f"columns differ spark={gc} oracle={ec}",
               oracle_s)
        fail += 1
        continue
    if len(gr) != len(er):
        print(f"FAIL {name}: row count spark={len(gr)} oracle={len(er)}")
        record(name, "fail", len(gr), f"row count spark={len(gr)} oracle={len(er)}",
               oracle_s)
        fail += 1
        continue
    bad = None
    for i, (a, b) in enumerate(zip(gr, er)):
        for j, (x, y) in enumerate(zip(a, b)):
            if not eq(x, y):
                bad = (i, gc[j], x, y)
                break
        if bad:
            break
    if bad:
        i, c, x, y = bad
        delta = ""
        if isinstance(x, float) and isinstance(y, float):
            delta = f" (delta={x - y:.3e})"
        print(f"FAIL {name}: row {i} col {c}: spark={x!r} oracle={y!r}{delta}")
        record(name, "fail", len(gr), f"row {i} col {c}: spark={x!r} oracle={y!r}",
               oracle_s)
        fail += 1
    else:
        print(f"OK   {name}: {len(gr)} rows, {len(gc)} cols")
        record(name, "ok", len(gr), oracle_s=oracle_s)

# A crashed query is an EXPLICIT fail, not an absent key: Verify swallows
# per-query exceptions to stderr (driver contract), so the only trace of a
# crash is a missing result dir. Diff against the full attempted-query list
# (query_names.json, written by Verify) so even rows-only queries with no
# oracle entry fail loudly; fall back to the oracle keys for older dumps.
attempted = set(oracles)
names_path = f"{OUT_DIR}/query_names.json"
if os.path.exists(names_path):
    with open(names_path) as f:
        attempted |= set(json.load(f))
missing = attempted - {n for n in results if os.path.isdir(f"{OUT_DIR}/{n}")}
for name in sorted(missing):
    print(f"FAIL {name}: query attempted but no spark result written")
    record(name, "fail", -1, "query attempted but no spark result written")
    fail += 1

if SUMMARY_PATH:
    ok = sum(1 for v in summary.values() if v["status"] == "ok")
    out = {"n_queries": len(summary), "n_ok": ok,
           "n_fail": sum(1 for v in summary.values() if v["status"] == "fail"),
           "n_rows_only": sum(1 for v in summary.values()
                              if v["status"] == "skip_rows_only"),
           "sf_dir": SF_DIR, "queries": summary}
    with open(SUMMARY_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"summary written to {SUMMARY_PATH}")

timed = sorted(((v["oracle_s"], n) for n, v in summary.items()
                if "oracle_s" in v), reverse=True)
if timed:
    print("\nslowest oracles (DuckDB execution + fetch):")
    for secs, name in timed[:5]:
        print(f"  {secs:8.3f} s  {name}")

print(f"\n{'FAILED ' + str(fail) if fail else 'ALL GREEN'} "
      f"({len([n for n in results if os.path.isdir(f'{OUT_DIR}/{n}')])} results)")
sys.exit(1 if fail else 0)
