"""DuckDB sink — staged-parquet, single-writer (SURVEY.md S7-S11).

The reference stores into an embedded DuckDB with conflict-ignoring
inserts (reference src/db.rs:149-234), DDL bootstrap (db.rs:52-91), and
checkpoint pragmas around bulk loads (db.rs:94-105). DuckDB allows
exactly ONE writing process, so the scale-correct Spark pattern is:

    df.write.parquet(staging)          # distributed, all executors
    → one driver-side DuckDB connection:
        PRAGMA disable_checkpoint_on_shutdown
        INSERT OR IGNORE INTO t SELECT … FROM read_parquet(staging/*)
        PRAGMA enable_checkpoint_on_shutdown

Never concurrent JDBC appends — the loader is the serialization point,
and ``INSERT OR IGNORE`` reproduces the reference's id-dedup exactly.
The storage schema is byte-compatible with the reference's DDL: nested
shapes (metadata, the ContractSource tagged union) serialize to JSON
strings at this boundary only (SURVEY.md §1.2).
"""

from __future__ import annotations

import os
import tempfile

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.contracts import first_per_id

#: Reference DDL (src/db.rs:59-88), IF NOT EXISTS like the reference's
#: ignored-error bootstrap.
DDL = """
CREATE TYPE source_type_enum AS ENUM ('json', 'vyper', 'single_sol', 'multi_sol');
CREATE TABLE IF NOT EXISTS contract (
    id STRING PRIMARY KEY,
    name STRING,
    metadata STRING,
    source STRING,
    source_type source_type_enum
);
CREATE TABLE IF NOT EXISTS function (
    id STRING PRIMARY KEY,
    contract_id STRING,
    contract_name STRING,
    function_name STRING,
    filename STRING,
    signature STRING,
    selector STRING,
    source_code STRING
);
CREATE INDEX IF NOT EXISTS idx_function_composite
    ON function (contract_id, selector, signature);
"""


def connect(db_path: str) -> duckdb.DuckDBPyConnection:
    """S9: open + bootstrap the schema (create-if-not-exists semantics,
    matching the reference's ignored DDL errors, db.rs:89)."""
    con = duckdb.connect(db_path)
    try:
        con.execute(DDL)
    except duckdb.CatalogException:
        pass  # enum already exists on reopen — same idempotence as reference
    return con


def contracts_storage_shape(parsed: DataFrame) -> DataFrame:
    """Processing shape → the reference's storage row: the files array
    re-wrapped as the serialized ContractSource tagged union
    (plain_contract.rs:87-92), nested JSON only at this boundary. File
    entries are renamed to the reference's SourceFile field names
    {name, content} (plain_contract.rs:80-83)."""
    files = F.transform(
        "files",
        lambda e: F.struct(
            e["filename"].alias("name"), e["content"].alias("content")
        ),
    )
    single = F.to_json(F.struct(F.element_at(files, 1).alias("SingleSolidity")))
    multi = F.to_json(F.struct(files.alias("MultiSolidity")))
    vyper = F.to_json(F.struct(F.element_at(files, 1).alias("Vyper")))
    js = F.to_json(F.struct(F.element_at(files, 1).alias("Json")))
    source = (
        F.when(F.col("source_type") == "multi_sol", multi)
        .when(F.col("source_type") == "vyper", vyper)
        .when(F.col("source_type") == "json", js)
        .otherwise(single)
    )
    return first_per_id(
        parsed.select(
            "id",
            F.col("contract_name").alias("name"),
            "metadata",
            source.alias("source"),
            "source_type",
        )
    )


def _staged_load(
    df: DataFrame, db_path: str, table: str, columns: list[str]
) -> int:
    """S7/S8/S10: stage to parquet (distributed write), then one
    DuckDB writer loads with conflict-ignore inside the bulk-load
    pragma window. Returns rows inserted (duplicates ignored)."""
    with tempfile.TemporaryDirectory(prefix=f"scdb_sink_{table}_") as staging:
        out = os.path.join(staging, "part")
        df.write.mode("overwrite").parquet(out)
        con = connect(db_path)
        try:
            con.execute("PRAGMA disable_checkpoint_on_shutdown")
            before = con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
            collist = ", ".join(columns)
            con.execute(
                f"INSERT OR IGNORE INTO {table} ({collist}) "
                f"SELECT {collist} FROM read_parquet('{out}/*.parquet')"
            )
            after = con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
            con.execute("PRAGMA enable_checkpoint_on_shutdown")
            return after - before
        finally:
            con.close()


def store_contracts(parsed: DataFrame, db_path: str) -> int:
    """S7: append contract rows (id-deduped within the batch AND against
    the sink via INSERT OR IGNORE — db.rs:174 semantics)."""
    return _staged_load(
        contracts_storage_shape(parsed),
        db_path,
        "contract",
        ["id", "name", "metadata", "source", "source_type"],
    )


def store_functions(functions: DataFrame, db_path: str) -> int:
    """S8: append function rows (INSERT OR IGNORE — db.rs:208)."""
    cols = [
        "id", "contract_id", "contract_name", "function_name",
        "filename", "signature", "selector", "source_code",
    ]
    return _staged_load(functions.select(*cols), db_path, "function", cols)


def read_contracts(spark: SparkSession, db_path: str) -> DataFrame:
    """Read the sink back as a DataFrame. Small results come straight
    through Arrow; at scale, COPY TO parquet + spark.read.parquet keeps
    the transfer distributed."""
    con = connect(db_path)
    try:
        pdf = con.execute(
            "SELECT id, name, metadata, source, "
            "source_type::VARCHAR AS source_type FROM contract"
        ).df()
    finally:
        con.close()
    from ..schemas import CONTRACT_SCHEMA

    return spark.createDataFrame(pdf, schema=CONTRACT_SCHEMA)


# ---------------------------------------------------------------------------
# S11: source export (plain_contract.rs:204-240, 528-535)
# ---------------------------------------------------------------------------


def sanitize_path(path: str) -> str:
    """F15: drop ``..`` components and leading slashes — the reference's
    traversal guard (plain_contract.rs:228-240)."""
    parts = [p for p in path.replace("\\", "/").split("/") if p not in ("", "..", ".")]
    return "/".join(parts)


def export_source_code(db_path: str, contract_id: str, out_dir: str) -> list[str]:
    """S11+F16: write one contract's files to disk; paths sanitized,
    ``.sol`` appended when the name has no extension and no sibling
    collides (plain_contract.rs:208-216). Returns written paths."""
    import json

    con = connect(db_path)
    try:
        row = con.execute(
            "SELECT source FROM contract WHERE id = ? LIMIT 1", [contract_id]
        ).fetchone()
    finally:
        con.close()
    if row is None:
        return []
    tagged = json.loads(row[0])
    variant = next(iter(tagged))
    entries = tagged[variant] if isinstance(tagged[variant], list) else [tagged[variant]]
    names = {e["name"] for e in entries if e.get("name")}
    written = []
    for e in entries:
        name = sanitize_path(e.get("name") or "main.sol")
        if "." not in os.path.basename(name) and f"{name}.sol" not in names:
            name += ".sol"
        dest = os.path.join(out_dir, name)
        os.makedirs(os.path.dirname(dest) or out_dir, exist_ok=True)
        with open(dest, "w", encoding="utf-8") as fh:
            fh.write(e.get("content") or "")
        written.append(dest)
    return written
