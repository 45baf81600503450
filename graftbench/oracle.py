"""Checks gate outputs against each gate's oracle SQL run by DuckDB.

The rules are those of tools/compare_oracle.py: DuckDB views over the same
parquet tables; columns sorted by name and rows by all columns; no
list-valued cells and no dtype coercion; values equal exactly, NaN equal
to NaN.
"""
import glob
import os

import duckdb
import numpy as np


def _list_cols(df):
    return [c for c in df.columns
            if df[c].dtype == object
            and df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any()]


def compare(con, result_dir, sql):
    """Returns None when the gate output at `result_dir` equals the oracle's
    answer, else a one-line reason."""
    if not sql:
        return "no oracle SQL"
    try:
        got = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df()
    except Exception as e:
        return f"result unreadable: {e}"
    try:
        want = con.sql(sql).df()
    except Exception as e:
        return f"oracle SQL failed: {type(e).__name__}: {e}"
    lists = sorted(set(_list_cols(got)) | set(_list_cols(want)))
    if lists:
        return f"list-valued columns {lists}"
    a = got.reindex(sorted(got.columns), axis=1)
    b = want.reindex(sorted(want.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    dtypes = [(c, a[c].dtype, b[c].dtype) for c in a.columns if a[c].dtype != b[c].dtype]
    if dtypes:
        return "dtypes differ: " + ", ".join(f"{c} {x} vs {y}" for c, x, y in dtypes)
    if len(a) != len(b):
        return f"{len(a)} rows, oracle {len(b)}"
    if len(a) == 0:
        return "empty output"
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    for c in a.columns:
        eq = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return f"column {c} row {i}: {a[c][i]!r} != oracle {b[c][i]!r}"
    return None


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_gates(data_dir, results_dir, oracle_sql, failed, write_errors):
    """Problems found over the gates' written outputs. Every written output
    is compared. A gate whose output could not be written is a problem
    unless it also failed in the measured rounds (`failed`), where the
    harness counts it."""
    con = connect(data_dir)
    problems = []
    for gate, sql in sorted(oracle_sql.items()):
        if gate in write_errors:
            if gate not in failed:
                problems.append(f"{gate}: result write: {write_errors[gate]}")
            continue
        reason = compare(con, os.path.join(results_dir, gate), sql)
        if reason:
            problems.append(f"{gate}: {reason}")
    con.close()
    return problems
