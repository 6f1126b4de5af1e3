#!/usr/bin/env python3
"""Regenerate perfbench/expected.json from describe-mode harness runs.

Usage (from the repo root):

    python3 perfbench/make_expected.py

It runs the harness in describe mode (every registered query built cold
and saved once) at each data scale the benchmark runs (sf0.01 for the
workloads, sf0.001 for the smoke runs), then takes each expected result
from the DuckDB oracle SQL on the same parquet tables. The
oracle-less sketch queries are pinned by row count and schema. A Spark
result that disagrees with its oracle is reported and the oracle's
answer is kept.
"""
import json
import os
import sys

import duckdb

import check
import run as bench

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def expect(scale):
    data = os.path.join(bench.HERE, "data", scale)
    out = bench.work_dir(f"describe-{scale}")
    bench.harness(["--workload", "describe", "--out", out, "--data", data], timeout=1800)
    described = json.load(open(f"{out}/run.json"))["queries"]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {}
    for q in sorted(described):
        d = described[q]
        got = check.describe_parquet(con, d["result"])
        entry = {"tables": d["tables"]}
        if d["oracle"]:
            want = con.sql(d["oracle"]).df()
            h, n = check.canon(want)
            entry.update(hash=h, rows=n, schema=check.schema(want))
        else:
            entry.update(rows=got[1], schema=got[2])
        if not check.matches(got, entry):
            print(f"MISMATCH {scale} {q}: spark rows {got[1]}, expected {entry['rows']}",
                  file=sys.stderr)
        expected[q] = entry
    bench.clean(out)
    return expected


def main():
    scales = {s: expect(s) for s in bench.SCALES}
    with open(bench.EXPECTED, "w") as f:
        json.dump(scales, f, indent=1, sort_keys=True)
        f.write("\n")
    print({s: len(q) for s, q in scales.items()})


if __name__ == "__main__":
    main()
