"""Pin the DuckDB oracle answers of the contract suite's queries.

The suite's tables are fixed (perfbench/fixtures/sf0.01), so their oracle
answers are too: this script runs each query's oracle SQL
(``medacy_spark.contract.oracle_sql``) in DuckDB over those tables and
writes the frame hashes to perfbench/fixtures/sf0.01_oracle.json, which
the suite checks every result against. Computing them takes longer than
a whole run of the suite, so they are not recomputed per run.

  python3 perfbench/oracle.py
"""

from __future__ import annotations

import json
import os
import sys

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01_oracle.json")


def load() -> dict[str, tuple[str, int]]:
    with open(FIXTURE) as f:
        return {q: (h, n) for q, (h, n) in json.load(f).items()}


def main() -> None:
    import duckdb

    from medacy_spark import contract
    from perfbench.workloads import TABLES_DIR, ContractSuite, _oracle_hash

    con = duckdb.connect()
    for f in sorted(os.listdir(TABLES_DIR)):
        con.execute(
            f"CREATE VIEW {f.removesuffix('.parquet')} AS "
            f"SELECT * FROM read_parquet('{TABLES_DIR}/{f}')"
        )
    oracle = contract.oracle_sql()
    hashes = {q: _oracle_hash(con, oracle[q]) for q in ContractSuite.QUERIES}
    con.close()
    with open(FIXTURE, "w") as f:
        json.dump(hashes, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.path[:] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))] + sys.path[1:]
    main()
