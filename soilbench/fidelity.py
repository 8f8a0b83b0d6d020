#!/usr/bin/env python3
"""Compares the benchmark's generated lake with a reference lake of the
same scale (the engine's test lake): per table the row count and row
groups, and per operation of every workload the row count of its DuckDB
oracle's result. Runs no Spark; the oracle SQL comes from the engine's
registry through `soilbench.OracleSql`.

Usage (from the repository root):
  python3 soilbench/fidelity.py <reference_lake_dir> <seed> <sf>
Prints a markdown table per part; the generated lake is removed at exit.
"""
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import lake  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def oracle_sql(ops):
    cmd = build.java_command(build.build(), "512m") + [
        "soilbench.OracleSql", ",".join(ops)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, check=True,
                         text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ref, seed, sf = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    root = os.path.join(os.getcwd(), ".bench_build", f"fidelity-{os.getpid()}")
    gen = os.path.join(root, "lake")
    try:
        lake.generate(gen, seed, sf)
        print(f"| table | reference rows | generated rows "
              f"| reference row groups | generated row groups |")
        print("| --- | --- | --- | --- | --- |")
        for t in lake.TABLES:
            a = pq.ParquetFile(os.path.join(ref, t + ".parquet")).metadata
            b = pq.ParquetFile(os.path.join(gen, t + ".parquet")).metadata
            print(f"| {t} | {a.num_rows} | {b.num_rows} "
                  f"| {a.num_row_groups} | {b.num_row_groups} |")
        ops = [op for w in run.WORKLOADS.values() for op in w[2]]
        sql = oracle_sql(ops)
        cons = oracle.connect(ref), oracle.connect(gen)
        print()
        print(f"| operation | reference rows | generated rows (seed {seed}) |")
        print("| --- | --- | --- |")
        for op in ops:
            n = [c.sql(f"SELECT count(*) FROM ({sql[op]})").fetchone()[0]
                 for c in cons]
            print(f"| {op} | {n[0]} | {n[1]} |")
        for c in cons:
            c.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
