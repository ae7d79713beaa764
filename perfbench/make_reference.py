#!/usr/bin/env python3
"""Builds reference/digests.json from the DuckDB oracle.

    python3 perfbench/make_reference.py

Runs once, not per benchmark run: it asks the harness for the oracle SQL of
every query op (`SparkEntry.oracleSql`), evaluates each statement in DuckDB
over `perfbench/corpus`, and stores the digest of each result (see
digest.py). A benchmark run then only digests the engine's own outputs.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
from digest import digest  # noqa: E402


def main():
    cp = run.build()
    corpus = os.path.join(run.HERE, "corpus")
    with tempfile.TemporaryDirectory(dir=run.HERE) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--dump-oracle", out],
                       check=True, cwd=tmp)
        with open(out) as fh:
            dumped = json.load(fh)
    if dumped["no_oracle"]:
        sys.exit(f"queries without oracle SQL: {dumped['no_oracle']}")
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus)):
        name = f.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(corpus, f)}'")
    digests = {}
    for q, sql in sorted(dumped["oracle_sql"].items()):
        digests[q] = digest(con.sql(sql).df())
        print(q, digests[q], flush=True)
    with open(os.path.join(run.HERE, "reference", "digests.json"), "w") as fh:
        json.dump({"source": "DuckDB oracle over perfbench/corpus",
                   "duckdb_version": duckdb.__version__, "digests": digests}, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
