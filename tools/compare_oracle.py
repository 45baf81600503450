#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare_oracle.py <sf_dir> <verify_out_dir> [record.json]

Writes the machine-readable record to <verify_out_dir>/CORRECTNESS_LOCAL.json,
or to the third argument when one is given (the committed record at the
repository root is written only when that path is passed).

For each query result parquet under <verify_out_dir>, runs the matching
oracle SQL from oracle_sql.json against DuckDB views over <sf_dir>'s
tables, sorts columns by name and rows by all columns, and compares
values exactly (NaN == NaN).

DRIVER-FAITHFUL STRICTNESS (the round-4 lesson): the real driver does
NOT tolerate list-valued result cells (its pandas sort throws
`unhashable numpy.ndarray`) and does NOT coerce dtypes before hashing
(DuckDB HUGEINT -> pandas float64 vs Spark int64 hash-mismatches even
when values are equal). So this tool HARD-FAILS on:
  * any list/array-valued column on either side (LIST-CELL), and
  * any spark-vs-oracle dtype difference (DTYPE-MISMATCH),
with no freeze() and no astype coercion. A local pass here is meant to
predict the driver verdict; do not weaken these checks.
"""
import json, sys, glob, os
import numpy as np
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
results = {}
for qdir in sorted(glob.glob(os.path.join(out_dir, "q*"))):
    qname = os.path.basename(qdir)
    try:
        spark_df = con.sql(
            f"SELECT * FROM read_parquet('{qdir}/*.parquet')").df()
    except Exception as e:
        results[qname] = (False, f"SPARK-READ-FAIL {e}")
        continue
    if qname not in oracle:
        results[qname] = (len(spark_df) > 0,
                          f"rows-only rows={len(spark_df)}"
                          + ("" if len(spark_df) > 0 else " EMPTY!"))
        continue
    try:
        duck_df = con.sql(oracle[qname]).df()
    except Exception as e:
        results[qname] = (False, f"ORACLE-SQL-FAIL {type(e).__name__}: {e}")
        continue

    def list_cols(df):
        return [c for c in df.columns
                if df[c].dtype == object and df[c].map(
                    lambda v: isinstance(v, (list, np.ndarray))).any()]

    bad = sorted(set(list_cols(spark_df)) | set(list_cols(duck_df)))
    if bad:
        results[qname] = (False,
            f"LIST-CELL cols={bad} — the driver's pandas sort dies on these; "
            "posexplode to scalar rows or array_join in the gate query")
        continue
    a = spark_df.reindex(sorted(spark_df.columns), axis=1)
    b = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(a.columns) != list(b.columns):
        results[qname] = (False, f"SCHEMA-MISMATCH spark={list(a.columns)} duck={list(b.columns)}")
        continue
    dt = [(c, str(a[c].dtype), str(b[c].dtype))
          for c in a.columns if a[c].dtype != b[c].dtype]
    if dt:
        results[qname] = (False,
            "DTYPE-MISMATCH " + ", ".join(
                f"{c}: spark={x} duck={y}" for c, x, y in dt)
            + " — CAST the oracle (DuckDB sums/windows return HUGEINT)")
        continue
    if len(a) != len(b):
        results[qname] = (False, f"ROWCOUNT-MISMATCH spark={len(a)} duck={len(b)}")
        continue
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    mismatch = None
    for c in a.columns:
        av, bv = a[c], b[c]
        eq = (av == bv) | (av.isna() & bv.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            mismatch = f"VALUE-MISMATCH col={c} row={i} spark={av[i]!r} duck={bv[i]!r} ({int((~eq).sum())} cells)"
            break
    results[qname] = ((mismatch is None),
                      mismatch or f"MATCH rows={len(a)}")

ok = sum(1 for passed, _ in results.values() if passed)
for k, (passed, msg) in results.items():
    flag = "  " if passed else "XX"
    print(f"{flag} {k}: {msg}")
print(f"\n{ok}/{len(results)} pass")

# Machine-readable side-file, one entry per gate in the compare output
# shape: next to the graded dump unless a third argv names the path.
side = (sys.argv[3] if len(sys.argv) > 3 else
        os.path.join(out_dir, "CORRECTNESS_LOCAL.json"))
payload = {
    "sf_dir": sf_dir,
    "out_dir": out_dir,
    "n_pass": ok,
    "n_total": len(results),
    "queries": {k: {"match": bool(passed), "detail": msg}
                for k, (passed, msg) in results.items()},
}
with open(side, "w") as f:
    json.dump(payload, f, indent=1, sort_keys=True)
    f.write("\n")
print(f"wrote {side}")
