"""Regenerate ``perfbench/oracle.json``: the DuckDB oracle's result hash
for every batch key the benchmark runs, over the benchmark's own copy of
the data. Run from the repository root:

    python3 perfbench/make_oracle.py

Hashes use ``scripts/oracle_check.py``'s normalisation, so they compare
directly with the hash ``run.py`` takes of Spark's result.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(1, str(ROOT))

from batch import CORE_KEYS, SF, load_oracle_check  # noqa: E402


def main() -> None:
    oc = load_oracle_check(ROOT)
    sf_dir = BENCH / "data" / SF
    # Oracles computed in numpy read the data directory from here.
    os.environ["ORACLE_SF_DIR"] = str(sf_dir)
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in oc.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = entry.oracle_sql()
    hashes = {}
    for key in CORE_KEYS:
        rel = con.sql(oracle[key])
        hashes[key] = oc.vhash([d[0] for d in rel.description], rel.fetchall())
    (BENCH / "oracle.json").write_text(json.dumps({SF: hashes}, indent=1) + "\n")


if __name__ == "__main__":
    main()
