"""10× scale-probe harness (SCALE.md methodology, now committed).

`/root/testdata` tops out at sf0.1, so scale behavior beyond bench SF is
probed on a synthesized 10× corpus: sf0.1 replicated REPLICAS times with
remapped ids, per-replica text perturbation (so exact dedup doesn't
trivially collapse the corpus) and per-replica embedding offsets. The
replicas are deliberately near-duplicate-heavy — a worst case for the
dedup/LSH family's bucket sizes. Events/orders are replicated with
remapped primary keys and per-replica user/customer shifts so
window/join partitions grow 10× in ROWS, not 10× in KEYS (the
conservative direction for window scaling).

Output lands under ``.scale_probe/x10/`` (gitignored: probe input only,
NEVER a correctness input). Timings are min-of-2 on local[32] with a
6 GiB heap — the 1 GiB default gives 32 threads ~32 MiB each, which
measures allocator contention, not plan scaling.

Usage:
    python tools/scale_probe.py generate
    python tools/scale_probe.py run q1 q2 ...   # times at sf0.1 AND 10×
    python tools/scale_probe.py cli N           # CLI pipeline, N contract dirs
"""

from __future__ import annotations

import os
import sys
import time

REPLICAS = int(os.environ.get("SPARK_GRAFT_PROBE_REPLICAS", "10"))
BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scale_probe", f"x{REPLICAS}")


def generate() -> None:
    import duckdb

    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    n_docs = con.execute(
        f"SELECT max(doc_id)+1 FROM read_parquet('{BASE}/documents.parquet')"
    ).fetchone()[0]
    n_vecs = con.execute(
        f"SELECT max(vec_id)+1 FROM read_parquet('{BASE}/embeddings.parquet')"
    ).fetchone()[0]
    n_ev = con.execute(
        f"SELECT max(event_id)+1 FROM read_parquet('{BASE}/events.parquet')"
    ).fetchone()[0]
    n_ord = con.execute(
        f"SELECT max(o_orderkey)+1 FROM read_parquet('{BASE}/orders.parquet')"
    ).fetchone()[0]
    con.execute(f"""
      COPY (
        SELECT doc_id + r * {n_docs} AS doc_id,
               CASE WHEN r = 0 THEN text
                    ELSE text || ' probe' || CAST(r AS VARCHAR) END AS text,
               lang, source, n_chars
        FROM read_parquet('{BASE}/documents.parquet'),
             UNNEST(range({REPLICAS})) AS u(r)
      ) TO '{OUT}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
      COPY (
        SELECT vec_id + r * {n_vecs} AS vec_id,
               list_transform(embedding,
                              x -> CAST(x + r * 0.001 AS FLOAT)) AS embedding,
               label
        FROM read_parquet('{BASE}/embeddings.parquet'),
             UNNEST(range({REPLICAS})) AS u(r)
      ) TO '{OUT}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
      COPY (
        SELECT event_id + r * {n_ev} AS event_id,
               ts + to_microseconds(r * 7) AS ts,
               user_id + r * 1000 AS user_id,
               event_type, value, props
        FROM read_parquet('{BASE}/events.parquet'),
             UNNEST(range({REPLICAS})) AS u(r)
      ) TO '{OUT}/events.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
      COPY (
        SELECT o_orderkey + r * {n_ord} AS o_orderkey,
               o_custkey + r * 1000 AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM read_parquet('{BASE}/orders.parquet'),
             UNNEST(range({REPLICAS})) AS u(r)
      ) TO '{OUT}/orders.parquet' (FORMAT PARQUET)
    """)
    # lineitem replicates WITH its parent orders (remapped l_orderkey)
    # so order-grain joins stay consistent; part/supplier keys stay
    # fixed — 10× lines per part/supplier is the conservative skew
    # direction for the dim-join probes
    con.execute(f"""
      COPY (
        SELECT l_orderkey + r * {n_ord} AS l_orderkey,
               l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag,
               l_linestatus,
               l_shipdate + to_microseconds(r * 7) AS l_shipdate
        FROM read_parquet('{BASE}/lineitem.parquet'),
             UNNEST(range({REPLICAS})) AS u(r)
      ) TO '{OUT}/lineitem.parquet' (FORMAT PARQUET)
    """)
    for t in ("region", "nation", "customer", "supplier", "part"):
        con.execute(f"""
          COPY (SELECT * FROM read_parquet('{BASE}/{t}.parquet'))
          TO '{OUT}/{t}.parquet' (FORMAT PARQUET)
        """)
    print(f"generated {REPLICAS}x probe corpus under {OUT}")


def generate_lowdup() -> None:
    """LOW-DUPLICATION 10× corpus (``.scale_probe/lowdup10``): same
    10× document replication as ``generate``, but every non-zero
    replica gets a replica-unique token spliced in EVERY 8 TOKENS —
    which breaks every cross-replica shared run at the exact-substring
    family's >= 8-token grain (and, because the splice position is a
    per-doc token index, cross-DOC alignments within a replica too).
    Total duplicated mass therefore stays ~constant (replica 0's own)
    while the corpus grows 10× — the probe cell that shows the
    dup-mass-bounded audits flatten when duplication does not scale
    with the corpus (VERDICT r16 #7). Non-document tables copy from
    the x10 probe corpus unchanged."""
    import shutil

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(os.path.dirname(OUT), "lowdup10")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    base = con.execute(
        f"SELECT doc_id, text, lang, source, n_chars "
        f"FROM read_parquet('{BASE}/documents.parquet') ORDER BY doc_id"
    ).df()
    n_docs = int(base["doc_id"].max()) + 1
    frames = []
    for r in range(REPLICAS):
        rep = base.copy()
        rep["doc_id"] = rep["doc_id"] + r * n_docs
        if r > 0:
            tag = f"zq{r}x"

            def splice(t: str, tag: str = tag) -> str:
                toks = t.split(" ")
                outt = []
                for i, w in enumerate(toks):
                    outt.append(w)
                    if (i + 1) % 8 == 0:
                        outt.append(tag)
                return " ".join(outt)

            rep["text"] = rep["text"].map(splice)
            rep["n_chars"] = rep["text"].str.len()
        frames.append(rep)
    allr = pd.concat(frames, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(allr, preserve_index=False),
        os.path.join(out, "documents.parquet"),
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(os.path.join(OUT, f"{t}.parquet"),
                    os.path.join(out, f"{t}.parquet"))
    print(f"generated low-dup 10x corpus under {out}")


def run(names: list[str]) -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    from smart_contract_database_builder_spark import plans

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"])
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = plans.queries()
    for name in names:
        fn = qs[name]
        for label, sf_dir in (("sf0.1", BASE), (f"{REPLICAS}x", OUT)):
            best = None
            for _ in range(2):
                t0 = time.monotonic()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            print(f"{name} {label} {best:.2f} s", flush=True)


def buckets() -> None:
    """LSH band-bucket occupancy on the probe corpus: how many buckets
    exist per size band, how many exceed ``_LSH_BUCKET_CAP`` (cap-
    dropped), and how many docs sit ONLY in dropped buckets — the
    recall cost of the mega-bucket guard at this duplication level."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from smart_contract_database_builder_spark.plans.llm_ops import (
        _BAND_ROWS,
        _LSH_BUCKET_CAP,
        _N_HASHES,
        _tokens,
        _word_ngrams,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "6g"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{OUT}/documents.parquet")
    sh = docs.select(
        "doc_id", _tokens().alias("t")
    ).select("doc_id", F.explode(_word_ngrams(F.col("t"))).alias("s"))
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"m{i}")
            for i in range(_N_HASHES)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(F.concat(f"m{2 * b}", f"m{2 * b + 1}")).alias(
                            "key"
                        ),
                    )
                    for b in range(_N_HASHES // _BAND_ROWS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.key")
    sizes = bands.groupBy("band_idx", "key").agg(
        F.count(F.lit(1)).alias("n")
    ).persist()
    hist = (
        sizes.select(
            F.when(F.col("n") == 1, "1")
            .when(F.col("n") <= 4, "2-4")
            .when(F.col("n") <= 16, "5-16")
            .when(F.col("n") <= _LSH_BUCKET_CAP, f"17-{_LSH_BUCKET_CAP}")
            .otherwise(f">{_LSH_BUCKET_CAP} (dropped)")
            .alias("size_band")
        )
        .groupBy("size_band")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy("size_band")
        .collect()
    )
    for r in hist:
        print(f"bucket size {r['size_band']}: {r['n_buckets']} buckets")
    dropped = sizes.filter(F.col("n") > _LSH_BUCKET_CAP)
    in_dropped = (
        bands.join(dropped, ["band_idx", "key"], "left_semi")
        .select("doc_id").distinct()
    )
    in_kept = (
        bands.join(
            sizes.filter(
                (F.col("n") > 1) & (F.col("n") <= _LSH_BUCKET_CAP)
            ),
            ["band_idx", "key"],
            "left_semi",
        )
        .select("doc_id").distinct()
    )
    only_dropped = in_dropped.subtract(in_kept).count()
    print(f"docs whose every colliding bucket was cap-dropped: {only_dropped}")
    sizes.unpersist()


def simhash_blocks() -> None:
    """SimHash block-bucket occupancy on the probe corpus — the r8
    honest-finding probe, rerun after the 64-bit widening (r8 VERDICT
    item #2): per 16-bit block key, how many buckets fall in each size
    band, how many exceed ``_LSH_BUCKET_CAP`` (dropped whole), and how
    many verified in-radius candidate pairs the banded query actually
    emits. At 16 bits the 4-bit block keys saturated (zero surviving
    buckets at 100×); at 64 bits the 65,536-key blocks must keep
    surviving buckets and nonzero pairs."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from smart_contract_database_builder_spark.plans.llm_ops import (
        _LSH_BUCKET_CAP,
        _SIMH_BLOCK_W,
        _SIMH_BLOCKS,
        llm_simhash_hamming_pairs,
    )
    from smart_contract_database_builder_spark.plans.reference_ext import (
        llm_simhash_documents,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "6g"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    fps = llm_simhash_documents(spark, OUT).select("doc_id", "simhash")
    blocks = fps.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.substring(
                            "simhash", b * _SIMH_BLOCK_W + 1, _SIMH_BLOCK_W
                        ).alias("key"),
                    )
                    for b in range(_SIMH_BLOCKS)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "blk.block_idx", "blk.key")
    sizes = blocks.groupBy("block_idx", "key").agg(
        F.count(F.lit(1)).alias("n")
    )
    hist = (
        sizes.select(
            F.when(F.col("n") == 1, "a:1")
            .when(F.col("n") <= 4, "b:2-4")
            .when(F.col("n") <= 16, "c:5-16")
            .when(F.col("n") <= _LSH_BUCKET_CAP, f"d:17-{_LSH_BUCKET_CAP}")
            .otherwise(f"e:>{_LSH_BUCKET_CAP} (dropped)")
            .alias("size_band")
        )
        .groupBy("size_band")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy("size_band")
        .collect()
    )
    for r in hist:
        print(f"block-bucket size {r['size_band'][2:]}: "
              f"{r['n_buckets']} buckets")
    surviving = sizes.filter(
        (F.col("n") >= 2) & (F.col("n") <= _LSH_BUCKET_CAP)
    ).count()
    pairs = llm_simhash_hamming_pairs(spark, OUT).count()
    print(f"surviving candidate buckets (2..{_LSH_BUCKET_CAP}): {surviving}")
    print(f"verified in-radius pairs emitted: {pairs}")


def cli(n_dirs: int) -> None:
    """The paper's CLI pipeline on an ``n_dirs``-directory contract tree
    written by the benchmark's generator (``perfbench/contract_tree.py``,
    seed 0, under ``.scale_probe/cli<N>/``). Each of three rounds runs the
    documented invocation (BASELINE.md) into a fresh DuckDB file,
    ``pre-process --chunk-size 100 --ignore-errors`` then
    ``index-functions --chunk-size 20``, and prints each command's wall
    and CPU seconds (this process plus the Spark JVM and Python workers
    below it). Round 1 includes the session's warm-up. The stored row
    counts are checked against the generator's model every round."""
    import shutil
    import tempfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    import bench
    import contract_tree
    import duckdb
    from workloads import CpuMeter

    from smart_contract_database_builder_spark import cli as scdb_cli
    from smart_contract_database_builder_spark.session import get_spark

    calib_min_ms, calib_p50_ms = bench._machine_calibration_ms()
    tree = os.path.join(os.path.dirname(OUT), f"cli{n_dirs}")
    shutil.rmtree(tree, ignore_errors=True)
    model = contract_tree.write_tree(tree, n_dirs, seed=0)
    print(f"tree {tree}: {contract_tree.summary(model)}", flush=True)
    spark = get_spark(
        app_name="scale-probe-cli",
        extra_conf={"spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.memory": "2g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"master {spark.sparkContext.master} calib_ms min "
          f"{calib_min_ms:.1f} p50 {calib_p50_ms:.1f}", flush=True)
    steps = (
        ("pre-process", ["pre-process", "--contracts-root", tree,
                         "--chunk-size", "100", "--ignore-errors"]),
        ("index-functions", ["index-functions", "--chunk-size", "20"]),
    )
    with tempfile.TemporaryDirectory(prefix="scale_probe_cli_") as work:
        for r in range(1, 4):
            db = os.path.join(work, f"round{r}.duckdb")
            for name, argv in steps:
                with CpuMeter() as cpu:
                    t0 = time.perf_counter()
                    rc = scdb_cli.main(argv + ["--db-file", db])
                    wall = time.perf_counter() - t0
                if rc != 0:
                    raise SystemExit(f"{name} exited {rc}")
                print(f"round {r} {name} wall {wall:.2f} s cpu "
                      f"{cpu.seconds:.2f} s", flush=True)
            con = duckdb.connect(db, read_only=True)
            got = tuple(con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
                        for t in ("contract", "function"))
            con.close()
            want = (model.contract_rows, model.function_rows)
            if got != want:
                raise SystemExit(f"round {r}: stored {got}, model {want}")
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1] == "cli":
        cli(int(sys.argv[2]))
    elif sys.argv[1] == "generate_lowdup":
        generate_lowdup()
    elif sys.argv[1] == "generate":
        generate()
    elif sys.argv[1] == "buckets":
        buckets()
    elif sys.argv[1] == "simhash_blocks":
        simhash_blocks()
    else:
        run(sys.argv[2:] if sys.argv[1] == "run" else sys.argv[1:])
