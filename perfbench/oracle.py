#!/usr/bin/env python3
"""Compute perfbench/expected.json: the digest of every oracle-backed
registry entry's expected output, from DuckDB over perfbench/data — never
from Spark. Rerun it when an entry's oracle SQL or the data changes.

    python3 perfbench/oracle.py

The digest is run.py's digest(): tools/selfcheck.py's canon() of the table,
hashed. Each entry also records the sha256 of the oracle SQL it was computed
from, so a run refuses a digest whose SQL has since changed.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    cp, _ = run.build()
    data = os.path.join(run.HERE, "data")
    os.makedirs(run.WORK, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main",
                        "--dump-oracle", sql_file], check=True, timeout=120)
        oracle = json.load(open(sql_file))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {}
    for name in sorted(oracle):
        sha, n = run.digest(con.sql(oracle[name]).df())
        expected[name] = {"sha": sha, "rows": n, "oracle_sha": hashlib.sha256(
            oracle[name].encode("utf-8")).hexdigest()}
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(expected)} expected digests written", file=sys.stderr)


if __name__ == "__main__":
    main()
