"""CLI task shape and ``--chunk-size`` semantics.

``--chunk-size`` bounds the bytes or rows one task or batch holds; it
must not multiply Spark tasks, change what the CLI stores, or leave its
confs behind in the shared session. The trees here hold more than 32
directories, so Spark lists them with a parallel listing job (its
``parallelPartitionDiscovery.threshold``), the path that ran one task
per directory.
"""

from __future__ import annotations

import hashlib
import json
import math

import duckdb
import pytest

from smart_contract_database_builder_spark import cli, fixtures
from smart_contract_database_builder_spark.sources import contracts as C

#: Copies of the fixture corpus per tree: 6 x 7 folder dirs, 12 x 3
#: Etherscan dirs, both past Spark's 32-path parallel-listing threshold.
FOLDER_COPIES = 6
ETHERSCAN_COPIES = 12

#: Every conf the CLI sets for a command.
CLI_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.sources.parallelPartitionDiscovery.parallelism",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)


def _mark(text: str, copy: int, comment: str = "//") -> str:
    """Give copy ``copy`` of a source its own content id."""
    return f"{text}\n{comment} copy {copy}\n"


def _mark_std_json(container: str, copy: int) -> str:
    std = json.loads(container)
    for entry in std["sources"].values():
        entry["content"] = _mark(entry["content"], copy)
    return json.dumps(std)


def _write_folder_tree(root) -> int:
    dirs = set()
    for k in range(FOLDER_COPIES):
        for d, name, content in fixtures.CONTRACT_FILES:
            if name == "contract.json":
                content = _mark_std_json(content, k)
            elif name.endswith(".sol"):
                content = _mark(content, k)
            elif name.endswith(".vy"):
                content = _mark(content, k, "#")
            p = root / f"{d}_{k}"
            p.mkdir(parents=True, exist_ok=True)
            (p / name).write_bytes(content.encode())
            dirs.add(p)
    return len(dirs)


def _write_etherscan_tree(root) -> int:
    n = 0
    for k in range(ETHERSCAN_COPIES):
        for addr, content in fixtures.ETHERSCAN_FILES:
            row = json.loads(content)
            src = row["SourceCode"]
            if src.startswith("{{"):
                src = "{" + _mark_std_json(src[1:-1], k) + "}"
            elif src.startswith("{"):
                src = _mark_std_json(src, k)
            else:
                src = _mark(src, k)
            row["SourceCode"] = src
            addr = f"{addr[:-4]}{k:04d}"
            d = root / addr
            d.mkdir(parents=True)
            (d / f"{addr}.json").write_bytes(json.dumps(row).encode())
            n += 1
    return n


@pytest.fixture(params=["folder", "etherscan"])
def tree(request, tmp_path):
    """(pre-process flags, directory count) for a generated tree."""
    root = tmp_path / request.param
    if request.param == "folder":
        return ["--contracts-root", str(root)], _write_folder_tree(root)
    return (
        ["--etherscan", "--contracts-root", str(root)],
        _write_etherscan_tree(root),
    )


def _run(flags, db, pre_chunk: int, index_chunk: int) -> None:
    assert cli.main(["pre-process", *flags, "--db-file", db, "--ignore-errors",
                     "--chunk-size", str(pre_chunk)]) == 0
    assert cli.main(["index-functions", "--db-file", db,
                     "--chunk-size", str(index_chunk)]) == 0


def _tables(db: str) -> dict[str, list[tuple[str, str]]]:
    """(id, hash of the whole row) for every contract and function row."""
    con = duckdb.connect(db, read_only=True)
    try:
        out = {}
        for table in ("contract", "function"):
            rows = con.execute(f"SELECT * FROM {table} ORDER BY id").fetchall()
            out[table] = [
                (r[0], hashlib.md5(repr(r[1:]).encode()).hexdigest()) for r in rows
            ]
        return out
    finally:
        con.close()


def test_chunk_size_leaves_stored_tables_unchanged(spark, tree, tmp_path):
    flags, _ = tree
    tables = {}
    for pre_chunk, index_chunk in ((0, 0), (1, 1), (100, 20)):
        db = str(tmp_path / f"chunk_{pre_chunk}_{index_chunk}.duckdb")
        _run(flags, db, pre_chunk, index_chunk)
        tables[pre_chunk, index_chunk] = _tables(db)
    base = tables[0, 0]
    assert base["contract"] and base["function"]
    for key, got in tables.items():
        assert got == base, f"pre-process/index-functions chunk sizes {key}"


def _conf_state(spark) -> dict:
    explicit = spark.conf.getAll
    return {k: (k in explicit, spark.conf.get(k, None)) for k in CLI_CONFS}


def test_cli_restores_session_confs(spark, tree, tmp_path):
    flags, _ = tree
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "777")
    try:
        before = _conf_state(spark)
        _run(flags, str(tmp_path / "confs.duckdb"), 100, 20)
        assert _conf_state(spark) == before
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def _stage_tasks(spark, group: str) -> list[int]:
    """Task count of every stage of every job in job group ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return [
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    ]


def test_cli_task_counts_follow_parallelism(spark, tree, tmp_path, monkeypatch):
    """Listing and extraction run at most one task per core, and a scan
    split holds a chunk of contracts, not one file."""
    flags, n_dirs = tree
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    chunk = 100

    def listing_group(fn):
        # the listing runs when the source builds its file scan: give
        # its jobs a group of their own, then hand the command's back
        def wrapped(*args, **kwargs):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{tmp_path}-listing", "listing")
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setJobGroup(outer, "pre-process")
        return wrapped

    for name in ("read_contract_files", "read_etherscan_files"):
        monkeypatch.setattr(C, name, listing_group(getattr(C, name)))
    db = str(tmp_path / "shape.duckdb")
    try:
        sc.setJobGroup(f"{tmp_path}-pre", "pre-process")
        assert cli.main(["pre-process", *flags, "--db-file", db, "--ignore-errors",
                         "--chunk-size", str(chunk)]) == 0
        sc.setJobGroup(f"{tmp_path}-index", "index-functions")
        assert cli.main(["index-functions", "--db-file", db,
                         "--chunk-size", "1"]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    listing = _stage_tasks(spark, f"{tmp_path}-listing")
    assert listing, "no parallel listing job: the tree is too small to test it"
    assert max(listing) <= cores, listing
    scan = _stage_tasks(spark, f"{tmp_path}-pre")
    assert scan and max(scan) <= math.ceil(n_dirs / chunk) + cores, scan
    extract = _stage_tasks(spark, f"{tmp_path}-index")
    assert extract and max(extract) <= cores, extract
