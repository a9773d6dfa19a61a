"""The compile/extract Spark stage (SURVEY.md U1/U3, §3.2).

The reference's ``index-functions`` entry point pages contracts out of
storage, compiles each with solc in a spawned task, and extracts ABI
function rows (reference src/main.rs:273-331). The Spark shape is:

    contracts DF → filter(≠vyper)           # P6, BEFORE the costly stage
                → mapInPandas(extract)       # Arrow-batched Python stage
                → dropDuplicates("id")       # INSERT OR IGNORE (db.rs:208)

``mapInPandas`` is the right tool for the one irreducibly-external step:
Arrow moves columns to Python in batches (not per row), each partition
runs independently on its executor, and stragglers (huge contracts) are
handled by Spark's normal task machinery — mirroring the reference's
task-per-contract parallelism without a driver-side loop.

Real solc compilation (via py-solc-x) is gated behind an import: when
available, ``compile_standard_json`` invokes solc with AST output and
the U2 AST slicer takes over; in this environment it is NOT installed,
so the dependency-free scanner in ``solidity.py`` provides the
deterministic extraction path (same row shape, byte-exact slices).
"""

from __future__ import annotations

import hashlib
import json
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import FUNCTION_SCHEMA
from ..sources.contracts import PY_WS_PATTERN, first_per_id
from .solidity import scan_file_contracts

#: Rust-``\s``-compatible (Unicode White_Space) class — the same one the
#: id expressions use, so function ids match simple_hash (utils.rs:12-17).
_WS_RE = re.compile(PY_WS_PATTERN)

try:  # pragma: no cover - not installed in this environment
    import solcx  # type: ignore
except ImportError:
    solcx = None


def compile_standard_json(standard_json: str, version: str) -> dict:
    """U1: run real solc on a standard-json input with AST output
    enabled (reference src/plain_contract.rs:327-377). Requires
    py-solc-x + a solc binary on the executor."""
    if solcx is None:
        raise NotImplementedError(
            "py-solc-x is not installed; the extraction stage uses the "
            "dependency-free Solidity scanner instead (solidity.py)"
        )
    solcx.install_solc(version)  # cached per executor after first call
    return solcx.compile_standard(json.loads(standard_json), solc_version=version)


def _function_rows(contract_id: str, files: list[dict]) -> Iterator[tuple]:
    # Pass 1 — scan every file in the bundle: (filename, ScannedContract)
    scanned: list[tuple[str, object]] = []
    for f in files:
        name, content = f.get("filename") or f.get("name"), f.get("content")
        if not name or content is None:
            continue
        if name.endswith(".json"):
            # standard-json container (source_type 'json'): extract from
            # its embedded sources map — its own bundle scope
            try:
                std = json.loads(content)
                inner = [
                    {"name": path, "content": entry.get("content", "")}
                    for path, entry in (std.get("sources") or {}).items()
                ]
            except (ValueError, AttributeError):
                continue
            yield from _function_rows(contract_id, inner)
            continue
        if not name.endswith(".sol"):
            continue
        for c in scan_file_contracts(content):
            scanned.append((name, c))

    # Pass 2 — resolve inheritance within the bundle: the ABI view of a
    # compiled contract includes inherited public members
    # (reference src/functions.rs:24-27 iterates alloy's functions()
    # over the artifact), attributed to the DERIVED contract's file.
    # Their bodies live in the base contract, which the reference's AST
    # slicer does not search — source_code = "" (plain_contract.rs:
    # 454-456, asserted at :565-573).
    by_name = {}
    for _, c in scanned:
        by_name.setdefault(c.name, c)

    def inherited_members(c) -> Iterator[object]:
        seen_bases: set[str] = set()
        stack = list(c.bases)
        while stack:
            b = stack.pop()
            if b in seen_bases or b not in by_name:
                continue
            seen_bases.add(b)
            basec = by_name[b]
            yield from basec.functions
            stack.extend(basec.bases)

    for name, c in scanned:
        emitted: set[str] = set()

        def row(fn, filename: str, source_code: str, cname: str) -> tuple:
            # F4: simple_hash(contract_id ‖ filename ‖ selector) —
            # functions.rs:31 via utils.rs:12-17, which strips the
            # White_Space class before md5 (filenames can contain
            # spaces in Etherscan standard-json paths).
            fid = hashlib.md5(
                _WS_RE.sub("", contract_id + filename + fn.selector).encode()
            ).hexdigest()
            return (
                fid, contract_id, cname, fn.function_name,
                filename, fn.signature, fn.selector, source_code,
            )

        for fn in c.functions:
            emitted.add(fn.selector)
            yield row(fn, name, fn.source_code, c.name)
        if c.kind == "interface":
            continue  # interfaces list only their own declarations
        for fn in inherited_members(c):
            if fn.selector in emitted:
                continue  # overridden/implemented locally
            emitted.add(fn.selector)
            yield row(fn, name, "", c.name)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in FUNCTION_SCHEMA.fields]
    for pdf in batches:
        rows = [
            row
            for contract_id, files_json in zip(pdf["id"], pdf["files_json"])
            for row in _function_rows(contract_id, json.loads(files_json))
        ]
        yield pd.DataFrame(rows, columns=cols)


def extract_functions(contracts: DataFrame) -> DataFrame:
    """U3: contracts (id, source_type, files array) → deduped function
    rows in the reference's ``function`` table shape (db.rs:74-84).

    The vyper filter sits BEFORE the Python stage so Catalyst never
    ships skipped rows across the Arrow boundary (main.rs:298-300).
    """
    packed = contracts.filter(F.col("source_type") != "vyper").select(
        "id", F.to_json("files").alias("files_json")
    )
    extracted = packed.mapInPandas(_extract_batches, schema=FUNCTION_SCHEMA)
    # conflict-ignore dedup (db.rs:208): e.g. a whitespace-variant
    # duplicate dir yields the same function id with a DIFFERENT body
    # slice; keep the lexicographic minimum row
    return first_per_id(extracted)
