#!/usr/bin/env python3
"""Record the DuckDB row counts the catalog workload checks against.

    python3 perfbench/record_counts.py

Run from the repository root after changing the corpus generator or the
catalog workload's entry list. For every scale factor the benchmark and
its smoke test use, it runs each entry's oracle SQL (Catalog.oracleSql,
dumped by the harness) in DuckDB over the generated corpus and writes
the counts to perfbench/catalog_counts.json.
"""
import glob
import json
import os

import duckdb

import run

SCALES = (0.1, 0.001)


def main():
    cp = run.build()
    dump = os.path.join(run.WORK, "oracle_sql.json")
    if run.java(cp, ["--dump-oracle", dump]) != 0:
        raise SystemExit("could not dump the oracle SQL")
    with open(dump) as f:
        oracle = json.load(f)
    counts = {}
    for sf in SCALES:
        con = duckdb.connect()
        for p in glob.glob(os.path.join(run.corpus(sf), "*.parquet")):
            con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
        counts[str(sf)] = {name: con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
                           for name, sql in sorted(oracle.items())}
    with open(os.path.join(run.BENCH, "catalog_counts.json"), "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(counts, sort_keys=True))


if __name__ == "__main__":
    main()
