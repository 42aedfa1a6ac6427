#!/usr/bin/env python3
"""Regenerate the benchmark's committed expectations in perfbench/expected
from the current program, then cross-check the suite's row counts against
DuckDB.

    python3 perfbench/expect.py [--seeds 64]     # from the repository root

suite_rows.tsv gets one row count per key of SparkEntry.queries over the
suite's generated tables, plus a `duckdb_rows` column: the row count of
the key's oracle SQL (SparkEntry.oracleSql) run by DuckDB over the same
parquet files, or `-` for the rows-only keys. fingerprints.tsv pins the
suite's document corpus and the gate's corpus for seeds 0 .. seeds-1. A
changed file is a changed workload: review the diff.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duckdb_counts(tables_dir, oracle_sql):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{tables_dir}/{t}.parquet/*.parquet')")
    return {k: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for k, sql in oracle_sql.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=64)
    a = ap.parse_args()
    classes = build.build()
    work = os.path.join(build.BUILD, "work", "expect")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    expected = os.path.join(build.BENCH, "expected")
    os.makedirs(expected, exist_ok=True)
    cmd = run.jvm(classes, run.driver_mem(), work, "graftbench.Expect", [
        "--work", work, "--expected", expected, "--seeds", str(a.seeds),
        "--cores", str(len(os.sched_getaffinity(0)))])
    subprocess.run(cmd, env=run.clean_env(), check=True)

    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    ref = duckdb_counts(os.path.join(work, "tables"), oracle)
    path = os.path.join(expected, "suite_rows.tsv")
    with open(path) as f:
        header, *rows = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    bad = []
    with open(path, "w") as f:
        f.write("\t".join(header[:3] + ["duckdb_rows"]) + "\n")
        for q, module, n, *_ in rows:
            d = ref.get(q)
            if d is not None and d != int(n):
                bad.append(f"{q}: spark {n}, duckdb {d}")
            f.write(f"{q}\t{module}\t{n}\t{'-' if d is None else d}\n")
    print(f"{len(ref)} oracled keys cross-checked, {len(bad)} disagree")
    for b in bad:
        print("  " + b)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
