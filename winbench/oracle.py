#!/usr/bin/env python3
"""DuckDB oracle of the window-engine benchmark.

Usage: python3 oracle.py REQUEST.json RESPONSE.json

REQUEST is {"tables": {view: parquet_dir}, "queries": {id: sql},
"temp_directory": dir}. Each query is the SqlEmitter DuckDb text of a spec
wrapped in the benchmark's fingerprint select (Fingerprint.scala); RESPONSE
maps each id to the numbers of the query's single result row.
"""
import json
import sys

import duckdb


def quote(s):
    return "'" + s.replace("'", "''") + "'"


def main():
    request_path, response_path = sys.argv[1], sys.argv[2]
    with open(request_path) as f:
        request = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = {quote(request['temp_directory'])}")
    con.execute("SET memory_limit = '2GB'")
    for view, path in request["tables"].items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet({quote(path + '/*.parquet')}, hive_partitioning = false)")
    response = {}
    for qid, sql in request["queries"].items():
        row = con.execute(sql).fetchone()
        response[qid] = [None if v is None else float(v) for v in row]
    with open(response_path, "w") as f:
        json.dump(response, f)


if __name__ == "__main__":
    main()
