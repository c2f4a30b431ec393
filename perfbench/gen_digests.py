#!/usr/bin/env python3
"""Regenerate digests.json: run each benchmarked key's oracle SQL
(SparkEntry.oracleSql) in DuckDB over perfbench/data and record its digest.
perfbench/data holds the sf0.01 tables the benchmarked keys and the lake
generator read (events, orders, lineitem, embeddings).

    python3 perfbench/gen_digests.py

Run it when the key lists in Main.scala or an oracle changes; check the
result in. run.py compares each key's cold-pass result with these.
"""
import json
import os
import subprocess
import sys

import duckdb

import run
from digest import digest_relation

def main():
    launch, _ = run.build()
    sql_path = os.path.join(run.WORK, "oracle_sql.json")
    subprocess.run(["java"] + launch + ["perfbench.Oracles", sql_path], check=True,
                   stdout=sys.stderr)
    with open(sql_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{f}')")
    digests = {k: digest_relation(con.execute(oracle[k])) for k in sorted(oracle)}
    with open(os.path.join(run.HERE, "digests.json"), "w") as f:
        json.dump({"duckdb": duckdb.__version__, "data": "perfbench/data (the sf0.01 tables)",
                   "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(digests)} digests written with DuckDB {duckdb.__version__}")


if __name__ == "__main__":
    main()
