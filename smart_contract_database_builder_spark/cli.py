"""Command-line entry points — parity with the reference's 4-command
CLI (reference src/main.rs:77-87, dispatch :353-358).

    python -m smart_contract_database_builder_spark.cli pre-process \
        --contracts-root DIR --db-file out.duckdb [--etherscan] \
        [--chunk-size N] [--ignore-errors]
    python -m smart_contract_database_builder_spark.cli index-functions \
        --db-file out.duckdb [--chunk-size N]
    python -m smart_contract_database_builder_spark.cli export-source \
        --db-file out.duckdb --contract-id ID --output-folder DIR
    python -m smart_contract_database_builder_spark.cli download-solc

Mapping to the reference:
- ``pre-process`` ≙ main.rs:170-258 — walk a contract tree (fiesta
  folder layout, or Etherscan JSON dumps with ``--etherscan``), parse,
  content-address, dedup, bulk-load into DuckDB. ``--chunk-size N``
  means about N contracts per scan split (the reference chunked to
  bound RAM; Spark streams each split). ``--ignore-errors`` keeps the
  lenient parse fallbacks; strict mode fails the job on malformed
  input.
- ``index-functions`` ≙ main.rs:261-331 — read stored contracts back,
  run the extraction stage (solc when available, the built-in scanner
  otherwise), store function rows. ``--chunk-size N`` means at most N
  contracts per Arrow batch into the extraction stage.
- ``export-source`` ≙ main.rs:353-358 + plain_contract.rs:528-535 —
  point lookup + sanitized file writes.
- ``download-solc`` ≙ utils.rs:29-48 — solc bootstrap, gated on
  py-solc-x.

Task counts follow the session's parallelism, not the chunk size: the
file listing runs at most one task per core, and a chunk bounds the
bytes or rows one task or batch holds. Every Spark conf a command sets
is put back when the command returns, so it never reaches later work
in a shared session.
"""

from __future__ import annotations

import argparse
import contextlib
import sys

from pyspark.sql import SparkSession

#: Scan budget per contract for ``pre-process --chunk-size``: ~16 KiB
#: approximates a verified-contract bundle, which is about two files
#: (metadata.json plus one source) at the per-file open cost below.
_CONTRACT_SPLIT_BYTES = 16 * 1024
#: Spark charges every file this many bytes when it packs files into
#: scan splits. Its 4 MiB default outweighs a whole chunk's budget, so
#: every file got a split (a task) of its own.
_FILE_OPEN_COST_BYTES = 8 * 1024


def _spark() -> SparkSession:
    from .session import get_spark

    return get_spark(app_name="scdb-cli")


@contextlib.contextmanager
def _scoped_conf(spark: SparkSession, settings: dict):
    """Set session confs for one command's Spark work, then restore the
    values they had before, or unset the ones that were unset."""
    prior = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _scan_conf(spark: SparkSession, chunk_size: int) -> dict:
    """Scan-shape confs for ``pre-process``: a file listing of at most
    one task per core (Spark's default cap is 10,000 tasks, one per
    directory below it), and splits packing about ``chunk_size``
    contracts. Spark also caps a split at the tree's bytes per core, so
    a small tree scans in about one task per core."""
    conf = {
        "spark.sql.sources.parallelPartitionDiscovery.parallelism":
            spark.sparkContext.defaultParallelism,
        "spark.sql.files.openCostInBytes": _FILE_OPEN_COST_BYTES,
    }
    if chunk_size:
        # The reference's --chunk-size bounds rows held in RAM per chunk
        # (main.rs:170-258). Spark's analogue is the scan split budget.
        conf["spark.sql.files.maxPartitionBytes"] = (
            chunk_size * _CONTRACT_SPLIT_BYTES
        )
    return conf


def _first_corrupt_json(df, content_col: str, key_col: str):
    """Rows whose ``content_col`` is not valid JSON (the P8
    corrupt-record probe): returns up to one offending key for the
    strict-mode error message."""
    from pyspark.sql import functions as F

    probe = F.from_json(
        content_col,
        "struct<_corrupt_record:string>",
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return df.filter(probe["_corrupt_record"].isNotNull()).select(key_col).take(1)


def cmd_pre_process(args: argparse.Namespace) -> int:
    spark = _spark()
    with _scoped_conf(spark, _scan_conf(spark, args.chunk_size)):
        return _pre_process(spark, args)


def _pre_process(spark: SparkSession, args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .sinks import duckdb_sink as sink
    from .sources import contracts as C

    if args.etherscan:
        raw = C.read_etherscan_files(spark, args.contracts_root)
        if not args.ignore_errors:
            # strict default ≙ the reference's panic on malformed input
            # (main.rs:107); --ignore-errors keeps the lenient fallbacks
            bad = _first_corrupt_json(raw, "content", "address")
            if bad:
                print(
                    f"malformed Etherscan dump for address {bad[0][0]!r} "
                    "(use --ignore-errors to fall back to raw-source parse)",
                    file=sys.stderr,
                )
                return 1
        parsed = C.parse_etherscan_contracts(raw)
        # storage shape: etherscan rows carry no files array — rebuild the
        # processing shape via the explode path for multi-source entries
        stored = _etherscan_storage_shape(raw, parsed)
    else:
        files = C.read_contract_files(spark, args.contracts_root)
        if not args.ignore_errors:
            meta = files.filter(F.col("filename") == "metadata.json")
            bad = _first_corrupt_json(meta, "content", "dir")
            if bad:
                print(
                    f"malformed metadata.json under {bad[0][0]!r} "
                    "(use --ignore-errors to skip malformed dirs)",
                    file=sys.stderr,
                )
                return 1
            # A corrupt standard-json CONTAINER would otherwise pass
            # strict pre-process and only surface at index-functions
            # time as silently-zero function rows (the sources explode
            # yields null); the reference errors at its serde parse
            # (plain_contract.rs get_source_files), so strict mode
            # probes contract.json too.
            cj = files.filter(F.col("filename") == "contract.json")
            bad = _first_corrupt_json(cj, "content", "dir")
            if bad:
                print(
                    f"malformed contract.json under {bad[0][0]!r} "
                    "(use --ignore-errors to treat it as raw source)",
                    file=sys.stderr,
                )
                return 1
        parsed = C.parse_folder_contracts(files)
        stored = None
    if stored is None:
        n = sink.store_contracts(parsed, args.db_file)
    else:
        n = sink._staged_load(
            stored, args.db_file, "contract",
            ["id", "name", "metadata", "source", "source_type"],
        )
    print(f"stored {n} new contracts into {args.db_file}")
    return 0


def _etherscan_storage_shape(raw, parsed):
    from pyspark.sql import functions as F

    from .schemas import ETHERSCAN_RAW_SCHEMA
    from .sources.contracts import first_per_id, unwrap_double_brace

    fields = F.from_json("content", ETHERSCAN_RAW_SCHEMA)
    src = unwrap_double_brace(fields["SourceCode"])
    meta = F.to_json(
        F.struct(
            fields["ContractName"].alias("ContractName"),
            fields["CompilerVersion"].alias("CompilerVersion"),
            F.coalesce(fields["Runs"].try_cast("int"), F.lit(0)).alias("Runs"),
            (fields["OptimizationUsed"] == "1").alias("OptimizationUsed"),
        )
    )
    with_files = raw.select(
        "address", meta.alias("metadata"), src.alias("source_code")
    )
    joined = with_files.join(
        parsed.select("address", "id", "contract_name", "source_type"), "address"
    )
    # Storage parity with the reference's tagged union: standard-json is
    # ONE Json source file named contract.json holding the whole
    # unwrapped container (plain_contract.rs:265-271); the fallback is a
    # SingleSolidity file named main.sol (:272-280).
    tagged = F.when(
        F.col("source_type") == "json",
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("contract.json").alias("name"),
                    F.col("source_code").alias("content"),
                ).alias("Json")
            )
        ),
    ).otherwise(
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("main.sol").alias("name"),
                    F.col("source_code").alias("content"),
                ).alias("SingleSolidity")
            )
        )
    )
    return first_per_id(
        joined.select(
            "id",
            F.col("contract_name").alias("name"),
            "metadata",
            tagged.alias("source"),
            "source_type",
        )
    )


def cmd_index_functions(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .sinks import duckdb_sink as sink
    from .compilestage import stage

    spark = _spark()
    contracts = sink.read_contracts(spark, args.db_file)
    # storage → processing shape: tagged-union JSON back to a files array
    variant = F.from_json(
        "source",
        "struct<SingleSolidity:struct<name:string,content:string>,"
        "MultiSolidity:array<struct<name:string,content:string>>,"
        "Vyper:struct<name:string,content:string>,"
        "Json:struct<name:string,content:string>>",
    )
    # The Json variant holds the whole standard-json container as one
    # file; explode its sources map into real source files at read time,
    # like the reference's get_source_files (plain_contract.rs:188-200).
    json_sources = F.from_json(
        variant["Json"]["content"],
        "struct<sources: map<string, struct<content: string>>>",
    )["sources"]
    json_files = F.transform(
        F.map_entries(json_sources),
        lambda e: F.struct(
            e["key"].alias("name"), e["value"]["content"].alias("content")
        ),
    )
    files = F.coalesce(
        variant["MultiSolidity"],
        F.when(variant["Json"].isNotNull(), json_files),
        F.array(F.coalesce(variant["SingleSolidity"], variant["Vyper"])),
    )
    processing = contracts.select(
        "id",
        "source_type",
        F.transform(
            files,
            lambda e: F.struct(
                e["name"].alias("filename"), e["content"].alias("content")
            ),
        ).alias("files"),
    )
    fns = stage.extract_functions(processing)
    # --chunk-size bounds the contracts per Arrow batch, the RAM bound
    # the reference's compile chunk gave (main.rs:273-331); the stage
    # keeps the input's partitions, one per core. Set only around the
    # store: read_contracts slices its own Arrow transfer by this conf.
    batch = (
        {"spark.sql.execution.arrow.maxRecordsPerBatch": args.chunk_size}
        if args.chunk_size
        else {}
    )
    with _scoped_conf(spark, batch):
        n = sink.store_functions(fns, args.db_file)
    print(f"stored {n} new functions into {args.db_file}")
    return 0


def cmd_export_source(args: argparse.Namespace) -> int:
    from .sinks.duckdb_sink import export_source_code

    written = export_source_code(args.db_file, args.contract_id, args.output_folder)
    if not written:
        print(f"contract {args.contract_id} not found", file=sys.stderr)
        return 1
    for path in written:
        print(path)
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """EXT beyond the reference CLI: run the corpus-curation pipeline
    (quality → dedup → decontamination → mix) over a documents corpus
    and export the survivors as sorted training shards.

    Input: a parquet documents table (the testdata schema) or a JSONL
    corpus (``--jsonl``; malformed lines are dropped with a warning
    unless strict parquet-style parsing is wanted upstream).
    """
    import json as _json

    from pyspark.sql import functions as F

    from .plans.llm_ops import (
        curate_documents,
        interleave_order,
        training_order,
    )
    from .schemas import TESTDATA_SCHEMAS
    from .sinks.corpus import write_training_shards

    spark = _spark()
    if args.jsonl:
        from .sources.documents import read_documents_jsonl

        raw = read_documents_jsonl(spark, args.documents)
        n_bad = raw.filter(
            F.col("_corrupt").isNotNull() | F.col("doc_id").isNull()
        ).select("doc_id").count()
        if n_bad:
            print(f"dropping {n_bad} malformed line(s)", file=sys.stderr)
        # the filter must match the report above: a valid-JSON line
        # missing doc_id is as unusable as a corrupt one, and letting it
        # through would only vanish later inside joins on the null key
        docs = raw.filter(
            F.col("_corrupt").isNull() & F.col("doc_id").isNotNull()
        ).drop("_corrupt")
    else:
        docs = spark.read.schema(TESTDATA_SCHEMAS["documents"]).parquet(
            args.documents
        )
    band = None
    if args.min_flesch is not None or args.max_flesch is not None:
        band = (
            args.min_flesch if args.min_flesch is not None else -1e9,
            args.max_flesch if args.max_flesch is not None else 1e9,
        )
    kept = curate_documents(docs, readability_band=band)
    if getattr(args, "order", "shuffle") == "interleave":
        order = interleave_order(kept, n_shards=args.shards)
    else:
        order = training_order(kept, n_shards=args.shards)
    payload = kept.join(
        docs.select("doc_id", "text"), "doc_id"
    ).join(order, "doc_id")
    write_training_shards(payload, args.output)
    stats = kept.agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tok").alias("tokens")
    ).collect()[0]
    print(
        _json.dumps(
            {
                "kept_docs": stats.docs,
                "kept_tokens": int(stats.tokens or 0),
                "shards": args.shards,
                "output": args.output,
            }
        )
    )
    return 0


def cmd_analyze(args: argparse.Namespace) -> int:
    """EXT beyond the reference CLI: one-command corpus PROFILE — the
    reports a curation team reads before setting thresholds, composed
    from the registered (oracle-verified) report operators and emitted
    as one JSON object: per-language length quartiles/token budget,
    per-source exact-duplicate rates, corpus entropy/surprisal
    envelopes, Gopher-filter pass rate, and funnel-free global counts.

    Every collected relation is an O(languages)/O(sources)/O(1)
    aggregate — the corpus-sized work all happens distributed; the
    driver only receives report rows.
    """
    import json as _json

    from pyspark.sql import functions as F

    spark = _spark()
    sfd = args.sf_dir
    scratch = None
    if getattr(args, "jsonl", None):
        # JSONL corpora profile through the SAME oracle-verified report
        # queries: parse once, materialize as a documents.parquet layout
        # in a scratch dir, and point the registry at it. One extra
        # write of the corpus — the price of reusing verified plans
        # verbatim instead of maintaining a parallel report path. The
        # scratch copy is removed once the report rows are collected.
        import tempfile

        from .sources.documents import read_documents_jsonl

        raw = read_documents_jsonl(spark, args.jsonl)
        docs = raw.filter(
            F.col("_corrupt").isNull() & F.col("doc_id").isNotNull()
        ).drop("_corrupt")
        scratch = tempfile.mkdtemp(prefix="analyze_jsonl_")
        sfd = scratch
        docs.write.mode("overwrite").parquet(f"{sfd}/documents.parquet")

    try:
        report = _analyze_report(spark, sfd)
    finally:
        if scratch is not None:
            import shutil

            shutil.rmtree(scratch, ignore_errors=True)
    print(_json.dumps(report, default=str))
    return 0


def _analyze_report(spark, sfd: str) -> dict:
    """Collect the corpus-profile report rows (all O(report)-sized)."""
    from pyspark.sql import functions as F

    from .plans import QUERIES

    length_rows = [
        r.asDict() for r in QUERIES["llm_corpus_length_report"].fn(spark, sfd).collect()
    ]
    dup_rows = [
        r.asDict() for r in QUERIES["llm_dedup_rate_by_source"].fn(spark, sfd).collect()
    ]
    ent = (
        QUERIES["llm_token_entropy"].fn(spark, sfd)
        .agg(
            F.min("entropy_nats").alias("lo"),
            F.avg("entropy_nats").alias("mean"),
            F.max("entropy_nats").alias("hi"),
        )
        .collect()[0]
    )
    sup = (
        QUERIES["llm_unigram_surprisal"].fn(spark, sfd)
        .agg(
            F.min("avg_surprisal_nats").alias("lo"),
            F.avg("avg_surprisal_nats").alias("mean"),
            F.max("avg_surprisal_nats").alias("hi"),
        )
        .collect()[0]
    )
    gopher = (
        QUERIES["llm_gopher_quality_filter"].fn(spark, sfd)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
        .collect()[0]
    )
    return {
        "length_by_lang": length_rows,
        "dup_rate_by_source": dup_rows,
        "entropy_nats": {"min": ent.lo, "mean": ent.mean, "max": ent.hi},
        "surprisal_nats": {"min": sup.lo, "mean": sup.mean, "max": sup.hi},
        "gopher": {
            "docs": gopher.n,
            "kept": int(gopher.kept or 0),
            "pass_rate": (int(gopher.kept or 0) / gopher.n)
            if gopher.n
            else None,
        },
    }


def cmd_download_solc(_args: argparse.Namespace) -> int:
    try:
        import solcx  # type: ignore
    except ImportError:
        print(
            "py-solc-x is not installed; the extraction stage uses the "
            "built-in Solidity scanner instead",
            file=sys.stderr,
        )
        return 1
    for version in solcx.get_installable_solc_versions():  # pragma: no cover
        solcx.install_solc(version)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="smart-contract-database-builder-spark")
    sub = p.add_subparsers(dest="command", required=True)

    pp = sub.add_parser("pre-process", help="ingest a contract tree into DuckDB")
    pp.add_argument("--contracts-root", required=True)
    pp.add_argument("--db-file", required=True)
    pp.add_argument("--etherscan", action="store_true")
    pp.add_argument(
        "--chunk-size", type=int, default=0,
        help="about N contracts per scan split (0: Spark's split size)",
    )
    pp.add_argument("--ignore-errors", action="store_true")
    pp.set_defaults(fn=cmd_pre_process)

    ix = sub.add_parser("index-functions", help="extract function rows")
    ix.add_argument("--db-file", required=True)
    ix.add_argument(
        "--chunk-size", type=int, default=0,
        help="at most N contracts per Arrow batch into the extraction "
             "stage (0: Spark's batch size)",
    )
    ix.set_defaults(fn=cmd_index_functions)

    ex = sub.add_parser("export-source", help="write a contract's files to disk")
    ex.add_argument("--db-file", required=True)
    ex.add_argument("--contract-id", required=True)
    ex.add_argument("--output-folder", required=True)
    ex.set_defaults(fn=cmd_export_source)

    dl = sub.add_parser("download-solc", help="install solc binaries (solcx)")
    dl.set_defaults(fn=cmd_download_solc)

    cu = sub.add_parser(
        "curate", help="curate a documents corpus into training shards"
    )
    cu.add_argument("--documents", required=True,
                    help="documents parquet path, or JSONL with --jsonl")
    cu.add_argument("--output", required=True)
    cu.add_argument("--shards", type=int, default=8)
    cu.add_argument("--jsonl", action="store_true")
    cu.add_argument(
        "--order", choices=("shuffle", "interleave"), default="shuffle",
        help="training order: seeded shuffle (default) or "
             "source-interleaved round-robin",
    )
    cu.add_argument(
        "--min-flesch", type=float, default=None,
        help="optional readability floor (Flesch reading ease): docs "
             "below it are dropped in the quality stage",
    )
    cu.add_argument(
        "--max-flesch", type=float, default=None,
        help="optional readability ceiling (drops word-salad extremes)",
    )
    cu.set_defaults(fn=cmd_curate)

    an = sub.add_parser(
        "analyze", help="emit a one-JSON corpus profile (reports family)"
    )
    an_src = an.add_mutually_exclusive_group(required=True)
    an_src.add_argument("--sf-dir",
                        help="directory holding documents.parquet "
                             "(testdata layout)")
    an_src.add_argument("--jsonl",
                        help="profile a JSONL corpus instead of --sf-dir")
    an.set_defaults(fn=cmd_analyze)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
