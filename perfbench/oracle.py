"""Check the olap_stream workload's query outputs against the DuckDB oracle.

The JVM writes each query's output, from one more run after the timed
passes, under <work>/out/<query>. It must equal the query's
`SparkEntry.oracleSql` run by DuckDB over the same generated tables,
compared as in scripts/oracle_check.py: columns sorted by name, rows
sorted, exact value equality. A query without an oracle must return at
least one row. A mismatch fails every timed run of that query.
"""
import json
import math
import os

import duckdb


def _norm(rel):
    cols = sorted(rel.columns)
    rows = rel.df()[cols].values.tolist()

    def key(row):
        return [(x is None or (isinstance(x, float) and math.isnan(x)), str(x))
                for x in row]
    return cols, sorted(rows, key=key)


def _eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return str(a) == str(b)


def _same(x, y):
    (xc, xr), (yc, yr) = x, y
    return xc == yc and len(xr) == len(yr) and all(
        len(a) == len(b) and all(_eq(u, v) for u, v in zip(a, b))
        for a, b in zip(xr, yr))


def check(res, wd, data):
    out = os.path.join(wd, "out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    queries = sorted(res["detail"].get("olap_queries", []))
    bad = {} if queries else {"olap": "no query outputs to check"}
    for q in queries:
        try:
            got = _norm(con.sql(f"SELECT * FROM read_parquet("
                                f"'{os.path.join(out, q)}/*.parquet')"))
            if q in oracles:
                if not _same(got, _norm(con.sql(oracles[q]))):
                    bad[q] = "output != DuckDB oracle"
            elif not got[1]:
                bad[q] = "empty output (no oracle)"
        except Exception as e:  # a missing output or an oracle error
            bad[q] = f"check error: {e}"
    con.close()
    for q, why in bad.items():
        res["failures"].append(f"{q}: {why}")
    newly = [o for o in res["ops"] if o["ok"] and o["name"].split("#")[0] in bad]
    for o in newly:
        o["ok"] = False
    res["failed"] += len(newly)
    if bad and not newly:  # the query never ran timed: fail the run anyway
        res["failed"] += 1
        res["attempted"] += 1
    res["detail"]["oracle_checked"] = sorted(set(queries) & set(oracles))
