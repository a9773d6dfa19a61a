"""Regenerate ``fingerprints.json``: the committed result fingerprint of
every query the ``query_mix`` workload runs, taken from the query's
DuckDB oracle on the tables generated from the reference seed.

    python3 perfbench/make_fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import checks  # noqa: E402
import tables  # noqa: E402
from workloads import MIX_QUERIES, STORE_QUERIES  # noqa: E402


def main() -> int:
    from smart_contract_database_builder_spark import plans

    names = [q for q, _ in STORE_QUERIES] + list(MIX_QUERIES)
    oracles = plans.oracle_sql()
    missing = [n for n in names if n not in oracles]
    if missing:
        print(f"no DuckDB oracle for {missing}", file=sys.stderr)
        return 1
    with tempfile.TemporaryDirectory(dir=BENCH) as tmp:
        sf_dir = os.path.join(tmp, "sf")
        tables.write_tables(sf_dir, checks.REFERENCE_SEED)
        con = checks.oracle_connection(sf_dir)
        out = {name: checks.fingerprint(con.execute(oracles[name]).df()) for name in names}
        con.close()
    with open(checks.FINGERPRINTS, "w") as fh:
        json.dump({"seed": checks.REFERENCE_SEED, "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
