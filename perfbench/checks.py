"""Output checks for the query workload: fingerprints of query results
and their comparison against the DuckDB oracles.

A fingerprint is the row count, the column set and an order-insensitive
hash of the values.  Oracled queries must match the fingerprint of
their oracle (``plans.oracle_sql()``) on the same generated inputs.
Every query must keep the column set committed in
``fingerprints.json`` (``make_fingerprints.py`` regenerates it).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

from smart_contract_database_builder_spark.schemas import TABLE_NAMES

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")
#: The seed whose tables the committed fingerprints were taken on.
REFERENCE_SEED = 0


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (list, np.ndarray, set, tuple)):
        return repr(sorted(_cell(x) for x in v))
    if isinstance(v, dict):
        return repr(sorted((str(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    return str(v)


def fingerprint(pdf: pd.DataFrame) -> dict:
    """Row count, sorted column names and an order-insensitive hash of
    the values (floats compared bitwise, as the oracle gate does)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    digest = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return {"rows": len(pdf), "columns": cols, "hash": digest}


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, name)}.parquet')"
        )
    return con


def load_committed() -> dict:
    """``{"seed": <reference seed>, "queries": {name: fingerprint}}``."""
    with open(FINGERPRINTS) as fh:
        return json.load(fh)


def check_result(name: str, got: dict, committed: dict, seed: int, oracle: dict) -> str | None:
    """Problem description, or None when ``got`` passes every check:
    the committed column set always, the whole committed fingerprint on
    the reference seed, and the oracle's fingerprint."""
    want = committed["queries"].get(name)
    if want is None:
        return f"{name}: no committed fingerprint"
    if got["columns"] != want["columns"]:
        return f"{name}: columns {got['columns']} != committed {want['columns']}"
    if seed == committed["seed"] and any(got[k] != want[k] for k in ("rows", "hash")):
        return f"{name}: {got} != committed {want}"
    if got != oracle:
        return f"{name}: {got} != oracle {oracle}"
    return None
