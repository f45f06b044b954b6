#!/usr/bin/env python3
"""Regenerate oracle_hashes.json: the DuckDB oracle fingerprint of every
query_mix query over data/sf0.01.

Usage (from the root of a checkout): python3 e2ebench/gen_oracle_hashes.py

The oracle SQL comes from graft.SparkEntry.oracleSql (printed by
e2ebench.OracleSql); the fingerprint is oracle.py's, the normalization of
tools/check_oracle.py. Rerun it when the query list or an oracle changes.
"""
import json
import os
import subprocess

import duckdb

import oracle
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    cp = run.build()
    out = subprocess.run(["java", *run.ADD_OPENS, "-cp", cp, "e2ebench.OracleSql"],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    sqls = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    hashes = {name: oracle.fingerprint(con.sql(sql).df()) for name, sql in sorted(sqls.items())}
    with open(os.path.join(run.HERE, "oracle_hashes.json"), "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(hashes)} oracle fingerprints written")


if __name__ == "__main__":
    main()
