#!/usr/bin/env python3
"""Cross-check the catalogue digests against the DuckDB oracles.

    python3 perfbench/crosscheck.py

From the root of the checkout: runs the catalog workload in --dump mode,
which writes each entry's Spark output as parquet plus its
`SparkEntry.oracleSql` text, then runs each oracle in DuckDB on the same
bundled tables and compares with the rules of tools/check_oracles.py:
identical sorted column names, identical row count, and equal values
after sorting rows by every column. It also checks that each dumped row
count is the one recorded in data/catalog_digests.tsv, the file the
benchmark compares its own digests with. Needs the duckdb Python package.
"""
import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, (Decimal, float, int)):
        return (1, repr(v) if not isinstance(v, Decimal) else str(v))
    return (1, str(v))


def main():
    out = os.path.join(".bench_build", "crosscheck")
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "catalog",
                    "--seed", "1", "--seconds", "1", "--dump", out], check=True,
                   stdout=subprocess.DEVNULL)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    recorded = {}
    for line in open(os.path.join(HERE, "data", "catalog_digests.tsv")):
        if line.strip() and not line.startswith("#"):
            name, rows, _ = line.rstrip("\n").split("\t")
            recorded[name] = int(rows)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    bad = 0
    for name in sorted(recorded):
        got = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        if len(got) != recorded[name]:
            print(f"FAIL {name}: dumped {len(got)} rows, digest file records {recorded[name]}")
            bad += 1
            continue
        sql = oracle.get(name)
        if sql is None:
            print(f"NO ORACLE {name}: {len(got)} rows, checked against the recorded digest only")
            continue
        want = con.execute(sql).fetchdf()
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        g = sorted(tuple(norm(v) for v in r) for r in got[gcols].itertuples(index=False))
        w = sorted(tuple(norm(v) for v in r) for r in want[wcols].itertuples(index=False))
        if gcols != wcols or g != w:
            print(f"FAIL {name}: columns {gcols} vs {wcols}, rows {len(g)} vs {len(w)}")
            bad += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
    shutil.rmtree(out, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
