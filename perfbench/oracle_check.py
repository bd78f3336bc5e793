#!/usr/bin/env python3
"""Cross-check the stored expected fingerprints against the DuckDB oracle.

    python3 perfbench/oracle_check.py

Generates the catalog tables, runs every benchmark query that has oracle SQL
(`QueryCatalog.oracleSql`) in DuckDB over them, fingerprints the rows with
the same function the harness uses, and compares with
perfbench/expected/catalog.json. Exits 1 on any mismatch.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import datagen  # noqa: E402
import fingerprint  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main():
    cp, _ = run.build()
    work = os.path.join(run.WORK, "oracle")
    data = os.path.join(work, "data")
    datagen.catalog_tables(data, workloads.CATALOG_SF, workloads.CATALOG_DATA_SEED)
    sql_path = os.path.join(work, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.OracleDump", sql_path], check=True)
    with open(sql_path) as f:
        oracle = json.load(f)
    expected = run.metrics.load_expected()
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    names = workloads.catalog_queries(full=True)
    checked = bad = 0
    for n in names:
        if n not in oracle:
            continue
        checked += 1
        got = fingerprint.of(con.execute(oracle[n]).fetchall())
        if got != expected.get(n):
            bad += 1
            print(f"MISMATCH {n}: oracle {got} expected {expected.get(n)}")
    print(f"{checked} of {len(names)} queries have oracle SQL; {checked - bad} agree, {bad} differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
