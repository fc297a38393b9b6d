#!/usr/bin/env python3
"""Reference results for the analytics workload: runs each query's oracle
SQL in DuckDB over the parquet tables and writes the rows with columns
sorted by name (row order kept) as JSON.

Usage: python3 duckdb_ref.py SF_DIR ORACLE_JSON OUT_JSON
"""
import datetime
import decimal
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return v


def main():
    sf, oracle_path, out = sys.argv[1:4]
    with open(oracle_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    result = {}
    for name, sql in sorted(oracle.items()):
        rel = con.sql(sql)
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        result[name] = {
            "cols": [cols[i] for i in order],
            "rows": [[norm(row[i]) for i in order] for row in rel.fetchall()],
        }
    with open(out, "w") as f:
        json.dump(result, f, allow_nan=False)


if __name__ == "__main__":
    main()
