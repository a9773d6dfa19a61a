"""Per-layer metrics of a traced run, folded from its spans and its
Spark event log.  Every name in ``PER_LAYER`` is reported by every
workload; a layer a workload does not load reads 0.

Times and counts are per round (the run's total over its rounds,
divided by the round count), so they compare with ``wall_s``.
"""

from __future__ import annotations

import statistics

from eventlog import Fold, GroupTotals
from tracing import Recorder
from workloads import STORE_KINDS, Round

_PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "AggregateInPandas", "WindowInPandas", "MapInArrow")

#: name -> unit
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "contracts.list_tasks": "count",
    "contracts.scan_tasks": "count",
    "contracts.scan_s": "s",
    "contracts.files_read": "count",
    "contracts.parse_s": "s",
    "contracts.parse_shuffle_bytes": "bytes",
    "contracts.dirs_parsed": "count",
    "duckdb_sink.stage_write_s": "s",
    "duckdb_sink.load_s": "s",
    "duckdb_sink.rows_staged": "count",
    "duckdb_sink.rows_inserted": "count",
    "duckdb_sink.dedup_ratio": "ratio",
    "duckdb_sink.read_contracts_s": "s",
    "duckdb_sink.export_calls": "count",
    "duckdb_sink.export_s": "s",
    "compilestage.extract_s": "s",
    "compilestage.tasks": "count",
    "compilestage.python_ms": "ms",
    "compilestage.python_rows_out": "count",
    "compilestage.functions_kept_ratio": "ratio",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_mb": "MB",
    "exec.python_ms": "ms",
    "exec.python_rows_out": "count",
    "materialize.persisted_rdds": "count",
    "materialize.storage_mem_mb": "MB",
    "materialize.checkpoint_stages": "count",
    **{f"store.{k}.{m}": u for k in STORE_KINDS
       for m, u in (("build_s", "s"), ("hit_s", "s"), ("bytes", "bytes"), ("files", "count"))},
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.batch_ms": "ms",
    "stream.state_rows": "count",
    "selftime.cli_s": "s",
    "selftime.contracts_s": "s",
    "selftime.duckdb_sink_s": "s",
    "selftime.plans_s": "s",
    "selftime.exec_s": "s",
    "selftime.remainder_s": "s",
    "trace.wall_s": "s",
}


def _sum_groups(fold: Fold, ids) -> GroupTotals:
    out = GroupTotals()
    for gid in ids:
        g = fold.group(gid)
        out.jobs += g.jobs
        out.stages += g.stages
        out.job_ms += g.job_ms
        out.peak_exec_mem = max(out.peak_exec_mem, g.peak_exec_mem)
        for k, v in g.counts.items():
            out.counts[k] += v
        for k, v in g.sql.items():
            out.sql[k] += v
    return out


def _sql(g: GroupTotals, nodes, metric: str) -> float:
    return sum(v for (node, name), v in g.sql.items() if node in nodes and name == metric)


def per_layer(rounds: list[Round], rec: Recorder, fold: Fold, setup: dict) -> dict:
    n = len(rounds)
    spans = rec.spans
    ids = lambda name: [s.id for s in spans if s.name == name]  # noqa: E731
    secs = lambda name: sum(s.seconds for s in spans if s.name == name)  # noqa: E731
    stages = lambda names: [st for name in names for gid in ids(name)  # noqa: E731
                            for st in fold.stages_of(gid)]
    v: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    v["session.start_s"] = setup["session_start_s"]
    v["session.warmup_s"] = setup["warmup_s"]

    # sources.contracts: the listing job, then the stages of the
    # pre-process jobs that scan files (strict-mode probes included) and
    # that parse the per-directory lists after the shuffle
    v["contracts.list_tasks"] = _sum_groups(fold, ids("contracts.read_contract_files")).counts["tasks"]
    load_stages = stages(["duckdb_sink.store_contracts", "cli.pre-process"])
    scan = [st for st in load_stages if st.reads_files()]
    parse = [st for st in load_stages if st.reads_shuffle() and not st.writes_output()]
    v["contracts.scan_tasks"] = sum(st.counts["tasks"] for st in scan)
    v["contracts.scan_s"] = sum(st.counts["run_ms"] for st in scan) / 1000.0
    v["contracts.files_read"] = sum(st.counts["input_records"] for st in scan)
    v["contracts.parse_s"] = sum(st.counts["run_ms"] for st in parse) / 1000.0
    v["contracts.parse_shuffle_bytes"] = sum(st.counts["shuffle_read_bytes"] for st in parse)
    v["contracts.dirs_parsed"] = sum(st.counts["shuffle_read_records"] for st in parse)

    # sinks.duckdb_sink: Spark job time inside store_* is the staged
    # parquet write (and the lazy plan it runs); the rest is DuckDB
    stores = ["duckdb_sink.store_contracts", "duckdb_sink.store_functions"]
    store_groups = _sum_groups(fold, [i for s in stores for i in ids(s)])
    store_job_s = store_groups.job_ms / 1000.0
    v["duckdb_sink.stage_write_s"] = store_job_s
    v["duckdb_sink.load_s"] = sum(secs(s) for s in stores) - store_job_s
    staged = store_groups.counts["output_records"]
    inserted = sum(r.info.get("contracts", 0) + r.info.get("functions", 0) for r in rounds)
    v["duckdb_sink.rows_staged"] = staged
    v["duckdb_sink.rows_inserted"] = inserted
    v["duckdb_sink.read_contracts_s"] = secs("duckdb_sink.read_contracts")
    v["duckdb_sink.export_calls"] = len(ids("duckdb_sink.export_source_code"))
    v["duckdb_sink.export_s"] = secs("duckdb_sink.export_source_code")

    # compilestage: the mapInPandas stage of the function store job
    fn_stages = stages(["duckdb_sink.store_functions"])
    extract = [st for st in fn_stages if not st.writes_output()]
    fn_groups = _sum_groups(fold, ids("duckdb_sink.store_functions"))
    rows_out = _sql(fn_groups, ("MapInPandas",), "number of output rows")
    v["compilestage.extract_s"] = sum(st.counts["run_ms"] for st in extract) / 1000.0
    v["compilestage.tasks"] = sum(st.counts["tasks"] for st in extract)
    v["compilestage.python_ms"] = _sql(fn_groups, ("MapInPandas",), "time to run Python workers")
    v["compilestage.python_rows_out"] = rows_out
    kept = sum(st.counts["output_records"] for st in fn_stages)

    # plans and Spark execution of the registered queries
    build = _sum_groups(fold, ids("plans.build"))
    v["plans.build_s"] = secs("plans.build")
    v["plans.build_jobs"] = build.jobs
    q = _sum_groups(fold, ids("plans.build") + ids("exec.collect"))
    v["exec.jobs"] = q.jobs
    v["exec.stages"] = q.stages
    for key in ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        v[f"exec.{key}"] = q.counts[key]
    v["exec.python_ms"] = _sql(q, _PYTHON_NODES, "time to run Python workers")
    v["exec.python_rows_out"] = _sql(q, _PYTHON_NODES, "number of output rows")
    v["materialize.checkpoint_stages"] = sum(
        1 for st in stages(["plans.build", "exec.collect"]) if "heckpoint" in st.name
    )
    v["stream.batches"] = fold.stream.batches
    v["stream.input_rows"] = fold.stream.input_rows
    v["stream.batch_ms"] = fold.stream.batch_ms

    # self time per layer: a span's duration less its children's; Spark
    # jobs run inside the sink calls count as execution
    self_s = dict.fromkeys(("cli", "contracts", "duckdb_sink", "plans", "exec"), 0.0)
    for s in spans:
        child = sum(c.seconds for c in rec.children(s))
        self_s[s.layer] = self_s.get(s.layer, 0.0) + s.seconds - child
    self_s["duckdb_sink"] -= store_job_s
    self_s["exec"] += store_job_s
    wall = sum(r.wall_s for r in rounds)
    for layer, t in self_s.items():
        v[f"selftime.{layer}_s"] = t
    v["selftime.remainder_s"] = wall - sum(self_s.values())

    # everything above is a run total: make it per round
    v = {k: (x / n if not k.startswith("session.") else x) for k, x in v.items()}

    # ratios, maxima and per-store figures are not sums
    v["duckdb_sink.dedup_ratio"] = inserted / staged if staged else 0.0
    v["compilestage.functions_kept_ratio"] = kept / rows_out if rows_out else 0.0
    v["exec.peak_exec_mem_mb"] = q.peak_exec_mem / 2**20
    calls = [c for r in rounds for c in r.calls]
    v["materialize.persisted_rdds"] = max((c.info.get("persisted_rdds", 0) for c in calls), default=0)
    v["materialize.storage_mem_mb"] = max((c.info.get("storage_mem_mb", 0) for c in calls), default=0)
    v["stream.state_rows"] = fold.stream.state_rows / max(1, fold.stream.batches)
    for kind in STORE_KINDS:
        built = [c for c in calls if c.kind == "write" and c.info.get("store") == kind]
        if not built:
            continue
        hits = [c.seconds for c in calls if c.kind == "read" and c.name == built[0].name]
        v[f"store.{kind}.build_s"] = statistics.median(c.seconds for c in built)
        v[f"store.{kind}.hit_s"] = statistics.median(hits) if hits else 0.0
        v[f"store.{kind}.bytes"] = statistics.median(c.info["store_bytes"] for c in built)
        v[f"store.{kind}.files"] = statistics.median(c.info["store_files"] for c in built)
    v["trace.wall_s"] = statistics.median(r.wall_s for r in rounds)
    return {k: {"value": float(x), "unit": PER_LAYER[k]} for k, x in v.items()}
