#!/usr/bin/env python3
"""Regenerates perfbench/expected_rows.json, the result row count of every
query the workloads run, over the benchmark's input tables (scale 0.01).

A query with registered DuckDB oracle SQL (`SparkEntry.oracleSql`) gets
the oracle's row count. A query without one gets the count its Spark
result had in the benchmark runs named on the command line, which must
agree across every execution. Run it from the checkout root:

    python3 perfbench/expected.py .bench_build/results/*-trace0.json
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402
import run  # noqa: E402


def main():
    cp, _ = run.build()
    data = run.ensure_data(run.DEFAULT_SF)
    oracle_file = os.path.join(run.BUILD, "oracle_sql.json")
    tmp = os.path.join(run.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(run.java_cmd(cp, run.BUILD, "2g") + ["--oracle-out", oracle_file],
                   check=True, stdout=subprocess.DEVNULL)
    oracle = json.load(open(oracle_file))
    seen = {}
    for path in sys.argv[1:]:
        raw = json.load(open(path))["raw"]
        for op in (op for rnd in raw["rounds"] for op in rnd["ops"]):
            if op["type"] == "query":
                seen.setdefault(op["name"], set()).add(op.get("rows"))
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    expected = {}
    for name in sorted(seen):
        if name in oracle:
            expected[name] = len(con.execute(oracle[name]).fetchall())
        elif len(seen[name]) == 1 and None not in seen[name]:
            expected[name] = seen[name].pop()
        else:
            sys.exit(f"{name}: no oracle and runs disagree: {seen[name]}")
    with open(os.path.join(run.HERE, "expected_rows.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(expected)} queries, {sum(n in oracle for n in expected)} "
          "from the DuckDB oracle")


if __name__ == "__main__":
    main()
