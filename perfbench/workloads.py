"""The benchmark's workloads and the metrics folded from their rounds.

Both workloads are closed loop with one client: each call waits for
the previous reply.  A workload sets up once (inputs, warm-up), then
runs rounds of a fixed amount of work until the run's time is up; the
end-to-end metrics are CPU time per round (see ``end_to_end``), and
wall times are kept beside them (``named``).  Output checks run after the last round, outside every timed
region, and mark the calls whose output was wrong as failed.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

import checks
import contract_tree
import tables
from tracing import Recorder


@dataclass
class Call:
    name: str
    kind: str  # "write" (loads, store builds) or "read" (lookups, queries)
    seconds: float = 0.0
    cpu_s: float = 0.0
    ok: bool = True
    error: str = ""
    info: dict = field(default_factory=dict)


@dataclass
class Round:
    calls: list[Call] = field(default_factory=list)
    wall_s: float = 0.0
    in_bytes: int = 0
    out_bytes: int = 0
    info: dict = field(default_factory=dict)


def _tree_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for base, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(base, name))
            files += 1
    return total, files


_TICK = os.sysconf("SC_CLK_TCK")


def _descendant_ticks() -> int:
    """User plus system clock ticks of every process below this one (the
    Spark JVM and its Python workers), reaped children included."""
    ticks, children = {}, defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process exited meanwhile
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(b")") + 2:].split()
        ticks[int(name)] = sum(int(f) for f in fields[11:15])
        children[int(fields[1])].append(int(name))
    total, todo = 0, list(children[os.getpid()])
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children[pid]
    return total


def _own_cpu_s() -> float:
    """This process's CPU time (all its threads, DuckDB's included, to
    the nanosecond) plus that of the children it has reaped."""
    t = os.times()
    return time.process_time() + t.children_user + t.children_system


class CpuMeter:
    """CPU seconds spent by this process and every process below it (in
    clock ticks) inside a ``with`` block.  The kernel leaves out the time the
    hypervisor steals from the guest, so a contended host inflates this
    far less than it inflates wall time.  The meter's own /proc scans
    fall outside the measured interval.

    Work a call leaves running below it (JIT compiles, GC, task
    clean-up) is part of its cost, not of the next call's: when the
    processes below used CPU during the block, the meter waits, at most
    ``SETTLE_S``, until a 20 ms window passes in which they use none."""

    SETTLE_S = 5.0
    seconds = 0.0

    def __enter__(self):
        self._ticks = _descendant_ticks()
        self._own = _own_cpu_s()
        return self

    def __exit__(self, *exc):
        own = _own_cpu_s() - self._own
        last, ticks = self._ticks, _descendant_ticks()
        deadline = time.perf_counter() + self.SETTLE_S
        while ticks != last and time.perf_counter() < deadline:
            time.sleep(0.02)
            last, ticks = ticks, _descendant_ticks()
        self.seconds = own + (ticks - self._ticks) / _TICK


class CliIngest:
    """The paper's pipeline through ``cli.main`` on a generated tree."""

    N_DIRS = 150
    EXPORTS = 80
    #: a slow run must not hold fewer rounds than a fast one: round
    #: times still fall slightly from one round to the next
    MIN_ROUNDS = 3

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def setup(self, spark, rec: Recorder) -> dict:
        t0 = time.perf_counter()
        self.root = os.path.join(self.work, "tree")
        self.model = contract_tree.write_tree(self.root, self.N_DIRS, self.seed)
        gen_s = time.perf_counter() - t0
        # two untimed rounds: round times fall for about two rounds while
        # the JIT and Spark's codegen warm up, then level off
        t0 = time.perf_counter()
        for k in range(2):
            self.round(spark, rec, f"warm{k}")
        return {"input_gen_s": gen_s, "warmup_s": time.perf_counter() - t0,
                "tree": contract_tree.summary(self.model)}

    @staticmethod
    def _cli(argv: list[str]) -> int:
        from smart_contract_database_builder_spark import cli

        return cli.main(argv)

    def _call(self, rnd: Round, rec: Recorder, name: str, kind: str, argv, **info) -> Call:
        call = Call(name, kind, info=info)
        with CpuMeter() as cpu:
            t0 = time.perf_counter()
            try:
                with rec.span(f"cli.{name}"):
                    rc = self._cli(argv)
                call.ok = rc == 0
                call.error = "" if call.ok else f"exit code {rc}"
            except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
                call.ok, call.error = False, f"{type(e).__name__}: {e}"[:300]
            call.seconds = time.perf_counter() - t0
        call.cpu_s = cpu.seconds
        rnd.calls.append(call)
        return call

    def round(self, spark, rec: Recorder, k: int | str) -> Round:
        rnd = Round()
        db = os.path.join(self.work, f"round{k}.duckdb")
        out = os.path.join(self.work, f"export{k}")
        ids = self.model.export_ids(f"{self.seed}:{k}", self.EXPORTS)
        t0 = time.perf_counter()
        # the documented invocation (BASELINE.md): chunk sizes 100 and 20,
        # lenient parse
        self._call(rnd, rec, "pre-process", "write",
                   ["pre-process", "--contracts-root", self.root, "--db-file", db,
                    "--chunk-size", "100", "--ignore-errors"])
        self._call(rnd, rec, "index-functions", "write",
                   ["index-functions", "--db-file", db, "--chunk-size", "20"])
        for i, cid in enumerate(ids):
            dest = os.path.join(out, str(i))
            self._call(rnd, rec, "export-source", "read",
                       ["export-source", "--db-file", db, "--contract-id", cid,
                        "--output-folder", dest], contract_id=cid, dest=dest)
        rnd.wall_s = time.perf_counter() - t0
        rnd.in_bytes = self.model.bytes
        rnd.out_bytes = os.path.getsize(db)
        rnd.info["db"] = db
        return rnd

    def check(self, rounds: list[Round]) -> list[str]:
        import duckdb

        problems = []
        for k, rnd in enumerate(rounds):
            con = duckdb.connect(rnd.info["db"], read_only=True)
            try:
                contracts = con.execute("SELECT COUNT(*) FROM contract").fetchone()[0]
                functions = con.execute("SELECT COUNT(*) FROM function").fetchone()[0]
            finally:
                con.close()
            rnd.info.update(contracts=contracts, functions=functions)
            load, index = rnd.calls[0], rnd.calls[1]
            if contracts != self.model.contract_rows:
                load.ok = False
                problems.append(f"round {k}: {contracts} contracts, model {self.model.contract_rows}")
            if functions != self.model.function_rows:
                index.ok = False
                problems.append(f"round {k}: {functions} functions, model {self.model.function_rows}")
            for call in rnd.calls[2:]:
                if call.ok and not contract_tree.check_export(
                    self.model, call.info["contract_id"], call.info["dest"]
                ):
                    call.ok = False
                    problems.append(f"round {k}: export of {call.info['contract_id']} differs")
        return problems


#: The queries that first build each derived store, by store kind, in
#: the order that builds every store from its own query.
STORE_QUERIES = (
    ("llm_minhash_lsh_pairs_stored", "minhash"),
    ("llm_neardup_clusters", "cluster"),
    ("llm_dedup_threshold_sweep", "jaccard"),
    ("llm_simhash_hamming_pairs", "simhash"),
    ("llm_incremental_embedding_admission_stored", "annbucket"),
    ("llm_embedding_neardup_clusters", "cluster_emb"),
    ("llm_ivfpq_encoded_topk", "pq"),
    ("join_bucketed_priority_revenue", "bucketed"),
)
STORE_KINDS = tuple(kind for _, kind in STORE_QUERIES)

#: Queries that read no store: a relational star join, a pandas-UDF
#: text classifier and a true stream drain.
MIX_QUERIES = (
    "flagship_revenue_by_region",
    "llm_nb_langid",
    "stream_true_tumbling_availablenow",
)


class QueryMix:
    """Registered queries over generated tables, on an empty store root
    per round: first calls build the stores, the seeded mix that
    follows hits them."""

    MIN_ROUNDS = 1

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def setup(self, spark, rec: Recorder) -> dict:
        from smart_contract_database_builder_spark import plans

        self.queries = plans.queries()

        t0 = time.perf_counter()
        self.sf_dir = os.path.join(self.work, "sf")
        self.input_bytes = tables.write_tables(self.sf_dir, self.seed)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # JVM, parquet reader and codegen warm-up outside the timed region,
        # with a query the rounds do not run
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        self.queries["agg_pricing_summary"](spark, self.sf_dir).toPandas()
        return {"input_gen_s": gen_s, "warmup_s": time.perf_counter() - t0,
                "input_bytes": self.input_bytes,
                "tables": dict(tables.SIZES)}

    def _query(self, spark, rnd: Round, rec: Recorder, name: str, kind: str, **info) -> Call:
        call = Call(name, kind, info=info)
        pdf = None
        with CpuMeter() as cpu:
            t0 = time.perf_counter()
            try:
                with rec.span("plans.build"):
                    df = self.queries[name](spark, self.sf_dir)
                with rec.span("exec.collect"):
                    pdf = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
                call.ok, call.error = False, f"{type(e).__name__}: {e}"[:300]
            call.seconds = time.perf_counter() - t0
        call.cpu_s = cpu.seconds
        if pdf is not None:
            call.info["fingerprint"] = checks.fingerprint(pdf)
        if rec.active:
            call.info.update(_materialize_sample(spark))
        rnd.calls.append(call)
        return call

    def round(self, spark, rec: Recorder, k: int) -> Round:
        rnd = Round()
        root = os.path.join(self.work, "stores", f"round{k}")
        os.environ["SPARK_GRAFT_STORE_ROOT"] = root
        # a fresh session would have an empty catalog: drop the tables
        # earlier rounds attached, so every store is built again here
        for t in spark.catalog.listTables():
            if not t.isTemporary:
                spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
        order = [q for q, _ in STORE_QUERIES] + list(MIX_QUERIES)
        random.Random(self.seed * 1000 + k).shuffle(order)
        t0 = time.perf_counter()
        for name, kind in STORE_QUERIES:
            before = _tree_bytes(root)
            call = self._query(spark, rnd, rec, name, "write", store=kind)
            after = _tree_bytes(root)
            call.info.update(store_bytes=after[0] - before[0], store_files=after[1] - before[1])
        for name in order:
            self._query(spark, rnd, rec, name, "read")
        rnd.wall_s = time.perf_counter() - t0
        rnd.in_bytes = self.input_bytes
        rnd.out_bytes = _tree_bytes(root)[0]
        return rnd

    def check(self, rounds: list[Round]) -> list[str]:
        from smart_contract_database_builder_spark import plans

        committed = checks.load_committed()
        oracles = plans.oracle_sql()
        con = checks.oracle_connection(self.sf_dir)
        want: dict[str, dict] = {}
        problems = []
        try:
            for k, rnd in enumerate(rounds):
                built = {}
                for call in rnd.calls:
                    if not call.ok:
                        problems.append(f"round {k}: {call.name}: {call.error}")
                        continue
                    got = call.info["fingerprint"]
                    if call.name not in want:
                        want[call.name] = checks.fingerprint(con.execute(oracles[call.name]).df())
                    problem = checks.check_result(call.name, got, committed, self.seed, want[call.name])
                    if problem is None and call.kind == "write":
                        built[call.name] = got
                        if call.info["store_files"] <= 0:
                            problem = f"{call.name}: built no {call.info['store']} store"
                    elif problem is None and call.name in built and got != built[call.name]:
                        problem = f"{call.name}: hit {got} != fresh build {built[call.name]}"
                    if problem is not None:
                        call.ok = False
                        problems.append(f"round {k}: {problem}")
        finally:
            con.close()
        return problems


WORKLOADS = {"cli_ingest": CliIngest, "query_mix": QueryMix}


def _materialize_sample(spark) -> dict:
    """Persisted RDDs and executor storage memory in use right after a
    query returns (``plans.materialize`` leaves nothing pinned on a
    clean exit)."""
    jsc = spark.sparkContext._jsc
    status = jsc.sc().getExecutorMemoryStatus()
    used = 0
    it = status.iterator()
    while it.hasNext():
        pair = it.next()._2()
        used += pair._1() - pair._2()
    return {"persisted_rdds": jsc.getPersistentRDDs().size(),
            "storage_mem_mb": used / 2**20}


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, round(q * len(s) + 0.5) - 1))]


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(rounds: list[Round], setup_s: float, peak_rss_mb: float) -> dict:
    """The gated metrics.  Work is counted in CPU seconds, which host
    steal barely moves: the timed region's total divided by its rounds
    (round costs still fall from one round to the next as the JIT warms,
    so a median would pick one point of that slope), and summed over
    calls (a median over a few unlike queries jumps from one query to
    another).  The wall times are in ``named``."""
    per_round = lambda *kinds: statistics.fmean(  # noqa: E731
        sum(c.cpu_s for c in r.calls if c.kind in kinds) for r in rounds
    )
    return {
        "setup_s": _metric(setup_s, "s"),
        "cpu_s": _metric(per_round("write", "read"), "s"),
        "write_cpu_s": _metric(per_round("write"), "s"),
        "read_cpu_s": _metric(per_round("read"), "s"),
        "peak_rss_mb": _metric(peak_rss_mb, "MB"),
        "output_bytes_per_input_byte": _metric(
            statistics.median(r.out_bytes / r.in_bytes for r in rounds), "ratio"
        ),
    }


def call_summary(rounds: list[Round]) -> dict:
    """Per call name and kind: every latency and CPU time, or a summary
    when many."""
    by: dict[str, list[float]] = {}
    for r in rounds:
        for c in r.calls:
            by.setdefault(f"{c.kind}:{c.name}", []).append(round(c.seconds, 4))
            by.setdefault(f"{c.kind}:{c.name}:cpu", []).append(round(c.cpu_s, 4))
    return {
        k: v if len(v) <= 20 else {"n": len(v), "p50": _pct(v, 0.5), "max": max(v)}
        for k, v in by.items()
    }


def named(rounds: list[Round]) -> dict:
    """The workload's own names for its end-to-end figures, with units
    and sample counts: what a reader of the run record looks for."""
    calls = [c for r in rounds for c in r.calls]
    by = lambda name: [c.seconds for c in calls if c.name == name]  # noqa: E731
    failed = sum(1 for c in calls if not c.ok)
    reads = [c.seconds * 1000.0 for c in calls if c.kind == "read"]
    out = {
        "error_rate": _metric(failed / max(1, len(calls)), "ratio"),
        "wall_s": _metric(statistics.median(r.wall_s for r in rounds), "s"),
        "write_s": _metric(
            statistics.median(sum(c.seconds for c in r.calls if c.kind == "write") for r in rounds),
            "s",
        ),
        "read_p50_ms": _metric(statistics.median(reads), "ms"),
    }
    if by("pre-process"):
        exports = [s * 1000.0 for s in by("export-source")]
        out.update(
            preprocess_s=_metric(statistics.median(by("pre-process")), "s"),
            index_s=_metric(statistics.median(by("index-functions")), "s"),
            export_p50_ms=_metric(_pct(exports, 0.50), "ms"),
            export_p99_ms=_metric(_pct(exports, 0.99), "ms"),
            export_samples=_metric(len(exports), "count"),
        )
    else:
        builds = [sum(c.seconds for c in r.calls if c.kind == "write") for r in rounds]
        store_names = {q for q, _ in STORE_QUERIES}
        hits = [sum(c.seconds for c in r.calls if c.kind == "read" and c.name in store_names)
                for r in rounds]
        queries = [c.seconds for c in calls if c.kind == "read"]
        out.update(
            query_p50_s=_metric(_pct(queries, 0.50), "s"),
            query_p90_s=_metric(_pct(queries, 0.90), "s"),
            query_samples=_metric(len(queries), "count"),
            store_build_s=_metric(statistics.median(builds), "s"),
            store_hit_s=_metric(statistics.median(hits), "s"),
            store_bytes_per_input_byte=_metric(
                statistics.median(r.out_bytes / r.in_bytes for r in rounds), "ratio"
            ),
        )
    return out
