"""The engine's benchmark: one closed-loop client drives one
``local[nproc]`` Spark session through a named workload.

    python3 perfbench/run.py --workload cli_ingest --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``):

- ``cli_ingest``: ``pre-process`` -> ``index-functions`` -> a stream of
  ``export-source`` lookups over a generated contract tree;
- ``query_mix``: registered queries over generated tables on an empty
  store root: first calls build the eight derived stores, the seeded
  mix that follows reads them back beside relational, text and
  streaming queries.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run records a Spark event log,
one job group per call, and reports the per-layer metrics instead.
A readable table and the run's context (machine calibration, nproc,
input sizes) go to stderr, and the full record to
``perfbench/_runs/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = "smart_contract_database_builder_spark"
NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints
HEAP = "2g"  # the Spark JVM's heap, fixed


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Session:
    """One Spark session plus the JVM process behind it, stopped and
    waited for on ``close``."""

    def __init__(self, work: str, trace: bool):
        from smart_contract_database_builder_spark.session import get_spark

        conf = {
            "spark.driver.memory": HEAP,
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # JVM logging defaults to stdout: keep stdout for the result,
            # and keep the JVM's temporary files inside the run directory.
            # The heap is fixed and touched up front: a heap that grows on
            # demand lands on a different size from run to run, which
            # would swamp peak_rss_mb
            "spark.driver.extraJavaOptions": (
                "-Xlog:disable -Xlog:all=warning:stderr -XX:-UsePerfData "
                f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        }
        self.eventlog_dir = None
        if trace:
            self.eventlog_dir = os.path.join(work, "eventlog")
            os.makedirs(self.eventlog_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{NPROC}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb("self") + _vm_hwm_kb(self.jvm_pid)) / 1024.0

    def eventlog_file(self) -> str | None:
        if self.eventlog_dir is None:
            return None
        for base, _, names in os.walk(self.eventlog_dir):
            for name in names:
                if name.startswith(("events_", "local-")) and not name.endswith(".crc"):
                    return os.path.join(base, name)
        return None

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, dict, dict]:
    import bench
    import workloads
    from tracing import Recorder

    calib_min_ms, calib_p50_ms = bench._machine_calibration_ms()
    workload = workloads.WORKLOADS[args.workload](args.seed, work)

    t0 = time.perf_counter()
    session = Session(work, bool(args.trace))
    start_s = time.perf_counter() - t0
    rec = None
    try:
        rec = Recorder(session.spark, traced=bool(args.trace))
        setup = workload.setup(session.spark, rec)
        setup_s = time.perf_counter() - t0
        setup["session_start_s"] = start_s

        rounds = []
        rec.start()
        deadline = time.perf_counter() + args.seconds
        while len(rounds) < workload.MIN_ROUNDS or time.perf_counter() < deadline:
            rounds.append(workload.round(session.spark, rec, len(rounds)))
        peak_rss_mb = session.peak_rss_mb()
        problems = workload.check(rounds)
    finally:
        if rec is not None:
            rec.uninstall()
        session.close()  # flushes the event log

    calls = [c for r in rounds for c in r.calls]
    failed = sum(1 for c in calls if not c.ok)
    result = {
        "correct": failed == 0 and not problems,
        "attempted": len(calls),
        "failed": failed,
    }
    e2e = workloads.end_to_end(rounds, setup_s, peak_rss_mb)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": NPROC,
        "calib_min_ms": calib_min_ms,
        "calib_p50_ms": calib_p50_ms,
        "setup": setup,
        "rounds": len(rounds),
        "round_wall_s": [round(r.wall_s, 3) for r in rounds],
        "round_cpu_s": [round(sum(c.cpu_s for c in r.calls), 3) for r in rounds],
        "named": workloads.named(rounds),
        "calls": workloads.call_summary(rounds),
        "problems": problems[:20],
    }
    if args.trace:
        import eventlog
        import layers

        path = session.eventlog_file()
        with open(path, encoding="utf-8") as fh:
            folded = eventlog.fold(fh, resolve=rec.resolve_group)
        metrics = layers.per_layer(rounds, rec, folded, setup)
        context["wall_s"] = context["named"]["wall_s"]["value"]
    else:
        metrics = e2e
    return result | {"metrics": metrics}, context, e2e


def _report(result: dict, context: dict, e2e: dict, args) -> None:
    runs = os.path.join(BENCH, "_runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}")
    record = {"result": result, "context": context, "end_to_end": e2e}
    if args.trace:
        # tracing overhead: traced wall_s against the untraced run of the
        # same workload and seed, when that run's record is present
        try:
            with open(f"{stem}-trace0.json") as fh:
                untraced = json.load(fh)["context"]["named"]["wall_s"]["value"]
            context["trace_overhead_s"] = context["wall_s"] - untraced
        except (OSError, KeyError, ValueError):
            context["trace_overhead_s"] = None
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(context, default=str), file=sys.stderr)
    for name, m in sorted((context["named"] | result["metrics"]).items()):
        print(f"  {name:<44} {m['value']:>14.4f} {m['unit']}", file=sys.stderr)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [BENCH, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.makedirs(os.path.join(BENCH, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(BENCH, "_work"))
    # every derived store, all Spark scratch and every temporary file
    # live under this run's own directory, never in the user's cache
    os.environ["SPARK_GRAFT_STORE_ROOT"] = os.path.join(work, "stores")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit starts first writes no perf data
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        with contextlib.redirect_stdout(sys.stderr):
            result, context, e2e = run(args, work)
            _report(result, context, e2e, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
