#!/usr/bin/env python3
"""Build the query-suite's golden row counts with DuckDB.

    python3 perfbench/golden.py [SF_DIR] [OUT]

Dumps every query's oracle SQL (graft.SparkEntry.oracleSql) through the
benchmark's classpath, runs each one in DuckDB over the parquet tables in
SF_DIR (default perfbench/data/sf0.001), and writes one `"query": rows`
line per query to OUT (default perfbench/golden/sf0.001.json). Run it from
the root of a checkout after one benchmark run has built the classpath.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    sf = Path(sys.argv[1] if len(sys.argv) > 1 else ROOT / "perfbench/data/sf0.001").resolve()
    out = Path(sys.argv[2] if len(sys.argv) > 2 else ROOT / "perfbench/golden/sf0.001.json")
    cp = (ROOT / ".bench_build/classpath.txt").read_text().strip()
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as tmp:
        dump = Path(tmp) / "oracle.json"
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--dump-oracle", str(dump)],
                       cwd=ROOT, check=True, stderr=subprocess.DEVNULL)
        oracle = json.loads(dump.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    counts = {}
    for name, sql in sorted(oracle.items()):
        counts[name] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        print(name, counts[name], flush=True)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text("{\n" + ",\n".join(f'  "{k}": {v}' for k, v in counts.items()) + "\n}\n")


if __name__ == "__main__":
    main()
