"""Correctness check of query_mix results against the DuckDB oracle.

The JVM dumps each measured query's result as parquet under
<verify>/<query>/ together with <verify>/oracle_sql.json. Each result is
compared with DuckDB running the query's oracle SQL over the same tables,
in the canonical form of tools/verify_local.py (columns sorted by name, rows
sorted by every column, nulls first), with dtypes and values exact.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from verify_local import TABLES, canon  # noqa: E402  the gate's canonical form


def compare(got, exp):
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"SCHEMA-MISMATCH got={list(g.columns)} exp={list(e.columns)}"
    if len(g) != len(e):
        return f"ROWCOUNT-MISMATCH got={len(g)} exp={len(e)}"
    bad = [c for c in g.columns if str(g[c].dtype) != str(e[c].dtype)]
    if bad:
        return "DTYPE-MISMATCH " + "; ".join(
            f"{c}: got={g[c].dtype} exp={e[c].dtype}" for c in bad[:3])
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=True, check_exact=True)
    except AssertionError:
        diffs = []
        for c in g.columns:
            a, b = g[c], e[c]
            ne = ~((a == b) | (a.isna() & b.isna()))
            if ne.any():
                i = ne.idxmax()
                diffs.append(f"{c}[{i}]: got={a[i]!r} exp={b[i]!r}")
        return "VALUE-MISMATCH " + "; ".join(diffs[:3])
    return f"OK rows={len(g)}"


def oracle(data_dir, verify_dir, tmp_dir):
    """Returns {query: "OK ..." or the failure} for every dumped query."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": tmp_dir})
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
    out = {}
    for q in sorted(sql):
        files = glob.glob(os.path.join(verify_dir, q, "*.parquet"))
        if not files:
            out[q] = "NO-RESULT"
            continue
        got = pd.concat([pd.read_parquet(p) for p in files])
        try:
            exp = con.sql(sql[q]).df()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failure
            out[q] = f"ORACLE-SQL-ERROR {e}"
            continue
        out[q] = compare(got, exp)
    con.close()
    return out
