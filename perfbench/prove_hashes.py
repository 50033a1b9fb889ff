#!/usr/bin/env python3
"""Shows the recorded surface hashes identify oracle-correct results.

    python3 perfbench/run.py --workload small_batches --seed 1 \\
        --seconds 20 --record /tmp/h.tsv --dump /tmp/surface
    python3 perfbench/prove_hashes.py /tmp/surface /tmp/h.tsv

The first command runs the benchmark once, writes the hash of each
surface result it checked (/tmp/h.tsv) and dumps each result and the
registry's DuckDB SQL for it (/tmp/surface). This script then runs that
SQL on the surface warehouse, perfbench/testdata/sf0.001, and compares
each dumped result with DuckDB's answer under
tools/check_oracle.py's canonicalisation, and prints the hash lines to
commit to perfbench/surface_hashes.tsv: every entry whose result DuckDB
agrees with, plus entries the registry pairs with no oracle (marked).
It exits non-zero if any oracle-paired result disagrees.
"""
import json
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
WAREHOUSE = os.path.join(HERE, "testdata", "sf0.001")
sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
sys.path.insert(0, os.path.join(HERE, "..", "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def main(dump: str, hashes: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{WAREHOUSE}/{t}.parquet'")
    with open(f"{dump}/oracle_sql.json") as f:
        oracles = json.load(f)
    with open(hashes) as f:
        recorded = dict(line.rstrip("\n").split("\t") for line in f if line.strip())
    bad = 0
    for name, h in sorted(recorded.items()):
        if name not in oracles:
            print(f"# no oracle: {name}", file=sys.stderr)
            print(f"{name}\t{h}")
            continue
        a = canon(pd.read_parquet(f"{dump}/{name}"))
        b = canon(con.sql(oracles[name]).df())
        same = (list(a.columns) == list(b.columns) and len(a) == len(b)
                and a.equals(b))
        print(f"# {'OK  ' if same else 'FAIL'} {name}: {len(a)} rows",
              file=sys.stderr)
        if same:
            print(f"{name}\t{h}")
        else:
            bad += 1
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
