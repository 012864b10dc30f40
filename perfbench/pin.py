#!/usr/bin/env python3
"""Pins the expected output of every query of an ops workload in expected.json.

Usage (from the root of a checkout): python3 perfbench/pin.py

For each ops workload it generates the workload's fixture, runs each
query's DuckDB oracle SQL (declared by the program in SparkEntry.oracleSql)
over it, and records the row count and canonical hash that run.py checks
the program's output against. Rerun it only when the fixture generator or
a workload's query list changes, and say so where the change is recorded.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def main():
    import duckdb

    root = os.getcwd()
    spark = run.spark_home(root)
    classes = run.build(root, spark)
    work = os.path.join(root, ".perfbench_run", "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ops = {k: w for k, w in run.WORKLOADS.items() if w["kind"] == "ops"}
        names = sorted({q for w in ops.values() for q in w["queries"]})
        out = f"{work}/oracles.json"
        subprocess.run([run.java_bin(), "-cp", f"{classes}:{spark}/jars/*",
                        "perfbench.Main", "--oracles", out] + names, check=True)
        oracles = json.load(open(out))
        pins = {}
        for wname, w in sorted(ops.items()):
            fixture = f"{work}/{wname}"
            gen.write_fixture(fixture, w["scale"])
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
            pins[wname] = {}
            for q in sorted(w["queries"]):
                t0 = time.time()
                rows, digest = run.canonical_hash(con.sql(oracles[q]))
                pins[wname][q] = {"rows": rows, "sha256": digest}
                print(f"{wname} {q}: {rows} rows, {time.time() - t0:.2f} s", file=sys.stderr)
        with open(f"{HERE}/expected.json", "w") as fh:
            json.dump({"fixture_seed": gen.FIXTURE_SEED, **pins}, fh, indent=1, sort_keys=True)
            fh.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    main()
