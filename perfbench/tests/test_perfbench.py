"""Tests of the benchmark's own pieces: the event-log fold, the contract
tree and its model, the table generator, the result fingerprint and the
CPU meter.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import defaultdict

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import checks  # noqa: E402
import contract_tree  # noqa: E402
import eventlog  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def test_fold_sums_task_metrics_per_job_group():
    f = eventlog.fold_file(FIXTURE)
    g = f.group("0:duckdb_sink.store_functions")
    assert (g.jobs, g.stages) == (1, 2)
    assert g.job_ms == 450
    c = g.counts
    assert (c["tasks"], c["run_ms"], c["gc_ms"]) == (3, 240, 6)
    assert c["cpu_ms"] == pytest.approx(90.0)
    assert (c["input_bytes"], c["input_records"]) == (1500, 10)
    assert (c["shuffle_read_bytes"], c["shuffle_read_records"], c["shuffle_write_bytes"]) == (500, 9, 500)
    assert (c["output_records"], c["output_bytes"]) == (8, 700)
    assert g.peak_exec_mem == 3 * 2**20


def test_fold_maps_sql_accumulators_to_plan_nodes():
    g = eventlog.fold_file(FIXTURE).group("0:duckdb_sink.store_functions")
    assert g.sql[("MapInPandas", "number of output rows")] == 9
    assert g.sql[("MapInPandas", "time to run Python workers")] == 140
    # an update made outside tasks, before the execution's first job
    assert g.sql[("Scan binaryFile", "number of files read")] == 7


def test_fold_keeps_stage_records_for_layer_splits():
    stages = eventlog.fold_file(FIXTURE).stages_of("0:duckdb_sink.store_functions")
    scan, write = sorted(stages, key=lambda s: s.stage_id)
    assert scan.reads_files() and not scan.writes_output()
    assert write.reads_shuffle() and write.writes_output()
    assert write.name == "save at X:0"


def test_fold_resolves_foreign_groups_and_streaming_progress():
    def resolve(group, submit_ms):
        return "1:exec.collect" if 4000 <= submit_ms <= 6000 else group

    with open(FIXTURE) as fh:
        f = eventlog.fold(fh, resolve=resolve)
    assert f.group("1:exec.collect").jobs == 1
    assert "6f1c2d3e-run" not in f.groups
    assert [s.name for s in f.stages_of("1:exec.collect")] == ["localCheckpoint at X:0"]
    s = f.stream
    assert (s.batches, s.input_rows, s.batch_ms, s.state_rows) == (1, 42, 321, 17)


def test_function_rows_per_layout_match_the_extractor():
    from smart_contract_database_builder_spark import fixtures
    from smart_contract_database_builder_spark.compilestage.stage import _function_rows

    files = defaultdict(list)
    for d, name, content in fixtures.CONTRACT_FILES:
        files[d].append({"filename": name, "content": content})
    for layout, (tdir, _) in contract_tree._TEMPLATES.items():
        rows = {(r[4], r[6]) for r in _function_rows("cid", files[tdir])}
        want = contract_tree.FUNCTION_ROWS[layout]
        assert len(rows) == (0 if layout == "vyper" else want), layout


def test_tree_is_seeded_and_duplicates_collapse(tmp_path):
    a = contract_tree.write_tree(str(tmp_path / "a"), 120, seed=5)
    b = contract_tree.write_tree(str(tmp_path / "b"), 120, seed=5)
    assert contract_tree.summary(a) == contract_tree.summary(b)
    assert a.duplicate_dirs > 0 and a.orphan_dirs > 0
    unique = a.dirs - a.duplicate_dirs - a.orphan_dirs
    assert a.contract_rows == unique
    cid = a.export_ids(seed=1, n=1)[0]
    layout, want = a.contracts[cid]
    out = tmp_path / "export"
    for name, content in want.items():
        (out / os.path.dirname(name)).mkdir(parents=True, exist_ok=True)
        (out / name).write_text(content.replace("\n", "\r\n"))
    assert contract_tree.check_export(a, cid, str(out))
    (out / "extra.sol").write_text("contract X {}")
    assert not contract_tree.check_export(a, cid, str(out))


def test_tables_follow_the_engine_schemas_and_the_seed():
    from smart_contract_database_builder_spark.schemas import TESTDATA_SCHEMAS

    small = dict.fromkeys(tables.SIZES, 50)
    one, again, other = (tables.make_tables(s, small) for s in (3, 3, 4))
    for name, schema in TESTDATA_SCHEMAS.items():
        assert one[name].column_names == [f.name for f in schema.fields], name
        assert one[name].equals(again[name]), name
    assert not one["lineitem"].equals(other["lineitem"])


def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    b = a.iloc[::-1][["v", "k"]]
    assert checks.fingerprint(a) == checks.fingerprint(b)
    c = a.assign(v=[0.5, None, 2.0000001])
    assert checks.fingerprint(a)["hash"] != checks.fingerprint(c)["hash"]


_BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"


def test_cpu_meter_counts_processes_below_the_caller():
    # a child still running when the block ends, and one already reaped
    with workloads.CpuMeter() as cpu:
        running = subprocess.Popen([sys.executable, "-c", _BUSY + "\ninput()"],
                                   stdin=subprocess.PIPE)
        subprocess.run([sys.executable, "-c", _BUSY], check=True)
    running.communicate(b"\n")
    # two 0.3 s busy loops; the meter waits for the running one to idle
    assert cpu.seconds >= 0.5
