#!/usr/bin/env python3
"""Tests that the benchmark's checkers reject wrong outputs.

    python3 graftbench/test_checkers.py

1. One gate runs at sf 0.001; its output passes the DuckDB oracle check.
   One value of that output is then altered, and the check must fail.
2. The pipeline checkers run on a two-clip execute: the clean output
   passes; a copy of one committed clip row, and a report that processed
   one clip too few, must each be reported.
Exits 0 when every expectation holds.
"""
import os
import shutil
import sys
import time

sys.dont_write_bytecode = True

import pyarrow as pa
import pyarrow.parquet as pq

import run
import oracle
import tables

GATE = "q01_pricing_summary"


def alter_one_value(result_dir):
    """Adds 1 to the first numeric cell of the gate's output."""
    path = os.path.join(result_dir, sorted(
        p for p in os.listdir(result_dir) if p.endswith(".parquet"))[0])
    t = pq.read_table(path)
    df = t.to_pandas()
    c = next(c for c in df.columns if df[c].dtype.kind in "if")
    df.loc[0, c] += 1
    pq.write_table(pa.Table.from_pandas(df, schema=t.schema, preserve_index=False), path)


def main():
    classpath, _ = run.build()
    work = os.path.join(run.OUT, "test")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    failures = []
    try:
        data = os.path.join(work, "data")
        tables.make_tables(data, 11, 0.001)
        res = run.run_jvm(classpath, work, "2g", {
            "mode": "gates", "gates": GATE, "data": data, "seconds": 0,
            "warmup": 0, "trace": 0, "t0ms": int(time.time() * 1000), "seed": 11})
        sql = res["check"]["oracle_sql"]
        results = os.path.join(work, "results")
        write_errors = res["check"]["write_errors"]
        clean = oracle.check_gates(data, results, sql, res["errors"], write_errors)
        if clean:
            failures.append(f"clean gate output reported: {clean}")
        alter_one_value(os.path.join(results, GATE))
        altered = oracle.check_gates(data, results, sql, res["errors"], write_errors)
        if not altered:
            failures.append("altered gate output passed the oracle check")

        pipe = run.run_jvm(classpath, work, "2g", {
            "mode": "selftest", "nodes": ",".join(run.WORKLOADS["pipeline_clips"]["nodes"])})
        if pipe["clean"]:
            failures.append(f"clean pipeline output reported: {pipe['clean']}")
        if not pipe["duplicated_row"]:
            failures.append("a duplicated clip row passed the pipeline checks")
        if not pipe["short_report"]:
            failures.append("a report short of one processed clip passed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}")
    print("checkers: ok" if not failures else f"checkers: {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
