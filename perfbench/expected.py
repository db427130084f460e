#!/usr/bin/env python3
"""Regenerate expected/digests.json: the result digest of every query the
benchmark runs, from the DuckDB replay of the query's oracle SQL over the
committed tables (never from the engine's own output).

    python3 perfbench/expected.py

Needs the `duckdb` and `pandas` Python packages; the engine is built (as
by run.py) only to read the oracle SQL strings it registers.
"""
import json
import os
import subprocess
import sys

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb

    classpath, _ = run.build()
    sql_file = os.path.join(run.OUT, "oracle_sql.json")
    subprocess.run(["java", "-XX:-UsePerfData", "-Dgraft.fixtures.dir=" + os.path.join(run.REPO, "fixtures"),
                    "-cp", classpath, "perfbench.Oracles", sql_file], check=True)
    oracle = json.load(open(sql_file))
    out = {}
    for sf in ("sf0.01", "sf0.001"):
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(run.HERE, "data", sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out[sf] = {q: run.digest(con.execute(sql).df()) for q, sql in sorted(oracle.items())}
        print(sf, len(out[sf]), "digests", file=sys.stderr)
    os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
    with open(os.path.join(run.HERE, "expected", "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
