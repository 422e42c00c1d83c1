"""Simulate the driver's correctness gate: run every __spark_entry__ query on
Spark and its DuckDB oracle side-by-side at sf0.01, compare row count, column
names, and order-insensitive values (4-decimal float tolerance in the diff
report; the driver hashes exact values, so we flag ANY bitwise difference).
"""

import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as E
from a5pg_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:] or None

spark = get_spark(shuffle_partitions=16)
con = duckdb.connect()
for t in E.TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

qs = E.queries()
oracles = E.oracle_sql()  # reading an oracle may raise (below)
with_oracle = set(oracles)  # listing the names reads none


def norm(df):
    """Columns sorted by name, rows sorted by all columns."""
    df = df[sorted(df.columns)].copy()
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def check(name, fn):
    """(ok, message, rows) of one query against its oracle."""
    sdf = fn(spark, SF_DIR).toPandas()
    if name not in with_oracle:
        return True, "(rows-only)", len(sdf)
    s, d = norm(sdf), norm(con.execute(oracles[name]).fetchdf())
    if list(s.columns) != list(d.columns):
        return False, f"columns {list(s.columns)} vs {list(d.columns)}", len(sdf)
    if len(s) != len(d):
        return False, f"rows {len(s)} vs {len(d)}", len(sdf)
    msg = ""
    for c in s.columns:
        a, b = s[c].to_numpy(), d[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            same = np.array_equal(a.astype(np.float64), b.astype(np.float64))
        else:
            same = list(map(str, a)) == list(map(str, b))
        if not same:
            bad = next(i for i in range(len(a)) if str(a[i]) != str(b[i]))
            msg += f" col {c} first-diff row {bad}: {a[bad]!r} vs {b[bad]!r};"
    return not msg, msg or "OK", len(sdf)


print(f"checking {len(qs)} queries ({len(with_oracle)} with oracles) at {SF_DIR}")
fails = []
for name, fn in qs.items():
    if ONLY and name not in ONLY:
        continue
    t0 = time.time()
    try:
        ok, msg, n = check(name, fn)
    except Exception as exc:  # a query or oracle that raises is a failure; go on
        traceback.print_exc()
        ok, msg, n = False, f"raised {type(exc).__name__}: {exc}", 0
    print(f"  {name:28s} rows={n:6d}  {msg if ok else 'FAIL ' + msg}  ({time.time() - t0:.1f}s)")
    if not ok:
        fails.append(f"{name}: {msg}")

print("entry() smoke:", end=" ")
edf = E.entry(spark)
rows = edf.collect()
print(f"{len(rows)} rows, schema {[f.name for f in edf.schema.fields]}")
print("FAILURES:" + ("" if fails else " none"))
for f in fails:
    print("  " + f)
spark.stop()
sys.exit(1 if fails else 0)
