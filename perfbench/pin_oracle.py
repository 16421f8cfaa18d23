#!/usr/bin/env python3
"""Pin the expected output of every pipeline_heavy query.

    python3 perfbench/pin_oracle.py

Runs each query's DuckDB oracle (``SparkEntry.oracleSql``, the SQL the
correctness gate uses) over the sf0.1 corpus and writes the result's row
count and fingerprint to perfbench/expected/pipeline_heavy.json. The
benchmark then compares every run's outputs against these pins without
running the oracle. Needs a prior build (any run.py run makes one).
Re-pin only when the corpus or a query's defined result changes.
"""
import json
import os
import subprocess
import sys

import run
import workloads


def main():
    with open(os.path.join(run.WORK, "build", "classpath.txt")) as f:
        cp = f.read().strip()
    sql_path = os.path.join(run.WORK, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--oracle-sql", sql_path]
                   + workloads.PIPELINE_QUERIES, check=True)
    with open(sql_path) as f:
        oracle = json.load(f)
    missing = set(workloads.PIPELINE_QUERIES) - set(oracle)
    if missing:
        sys.exit(f"no oracle SQL for {sorted(missing)}")
    con = workloads.duck(run.CORPUS)
    pins = {}
    for q in workloads.PIPELINE_QUERIES:
        pins[q] = workloads.fingerprint(con.sql(oracle[q]))
        print(q, pins[q])
    with open(os.path.join(workloads.HERE, "expected", "pipeline_heavy.json"), "w") as f:
        json.dump(pins, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
