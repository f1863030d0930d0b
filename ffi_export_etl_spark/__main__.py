"""Config-driven CLI entry point — reference xml_to_rdb.py parity.

The reference ``main()`` (/root/reference/xml_to_rdb.py:15-56) reads
``config.ini``, builds a DB URL from the ``[SQLServer]``-style section,
scans ``data/`` for ``*.xml`` exports, runs extract/transform/load per
file, and moves fully-loaded files to ``processed/``. The Spark
equivalent::

    python -m ffi_export_etl_spark --config config.ini

config.ini (all sections optional; CLI flags override)::

    [Paths]
    data = /path/to/exports          ; directory containing *.xml
    warehouse = /path/to/warehouse   ; keyed parquet warehouse output

    [SQLServer]                      ; reference README template; only
    type = SQLServer                 ; consulted when --jdbc is passed
    server = host[:port]
    database = FFI
    user = ...
    password = ...

Default load target is the keyed parquet warehouse (parquet_upsert with
ledger idempotency — the object-store-native analog of ``processed/``
moves). With ``--jdbc`` the same frames load through MergeLoader +
DbApiExecutor/spark_staging_writer against the configured database
(requires the DB's JDBC jar — discovered by session.find_jdbc_jar /
$SPARK_GRAFT_JDBC_JAR — and a DBAPI driver for the MERGE; the flag
exits with instructions rather than half-loading when absent).

A second entry point curates a training corpus::

    python -m ffi_export_etl_spark curate --input docs.parquet \\
        --output shards/ [--url-col url --block-domain spam.bad ...]

running plans/curation.curate_documents and writing deterministic
ordered shards + manifest via sinks/shards.write_training_shards.
"""

from __future__ import annotations

import argparse
import configparser
import json
import os
import sys


def build_db_url(section) -> str:
    """[SQLServer]/[PostgreSQL] config section -> JDBC URL (reference
    create_url parity, parser/functions.py:7-25)."""
    from .sources.jdbc import jdbc_url

    kind = section.get("type", "sqlserver").lower()
    server = section["server"]
    host, _, port = server.partition(":")
    dialect = "postgres" if "postgres" in kind else "mssql"
    return jdbc_url(dialect, host, section["database"],
                    int(port) if port else None)


def _stream_input_suite(args):
    """The per-batch gate suite for --require-input-quality (same
    contract as the batch curate gate, minus min_rows — an empty
    micro-batch is normal between drops)."""
    from .operators.validate import CheckSuite

    return (
        CheckSuite()
        .not_null(args.id_col)
        .unique(args.id_col)
        .not_null(args.text_col)
    )


def curate_stream_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark curate-stream``: the continuous
    (daily-increment) shape — drain a drop directory of parquet doc
    files through streaming_curate against persisted signature stores.
    Each run is an availableNow drain (cron-able); reusing the same
    --checkpoint continues where the last run stopped. Prints one JSON
    line of counts."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark curate-stream",
        description="Continuously curate newly-arrived parquet document "
                    "files against persisted exact/minhash (and "
                    "optionally span) signature stores.",
    )
    ap.add_argument("--source-dir", required=True,
                    help="parquet doc files / glob to drain")
    ap.add_argument("--kept", required=True,
                    help="curated output root (batch_id=N dirs)")
    ap.add_argument("--exact-store", required=True)
    ap.add_argument("--minhash-store", required=True)
    ap.add_argument("--span-store", default=None,
                    help="window-digest store root (requires "
                         "--span-dedup-tokens)")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--jaccard-threshold-pct", type=int, default=20)
    ap.add_argument("--shingle-mode", choices=("word", "char"),
                    default="word")
    ap.add_argument("--span-dedup-tokens", type=int, default=None)
    ap.add_argument("--max-files-per-trigger", type=int, default=1)
    ap.add_argument("--on-existing-store", choices=("replay", "continue"),
                    default="replay")
    ap.add_argument("--kept-compact-every", type=int, default=None,
                    help="fold the kept corpus's batch dirs into one "
                         "generation every N batches (bounds file "
                         "count for cron-driven daemons)")
    ap.add_argument("--require-input-quality", action="store_true",
                    help="gate every micro-batch on data-quality "
                         "checks (non-null unique ids, non-null text)")
    ap.add_argument("--quarantine", default=None,
                    help="divert failing batches whole to this root "
                         "(batch_id=N dirs with a _dq_error column) "
                         "instead of stopping the stream; requires "
                         "--require-input-quality")
    ap.add_argument("--profile-store", default=None,
                    help="append one mergeable profile row per batch "
                         "(HLL sketches + exact counts over the kept "
                         "rows); report over it with the 'profile' "
                         "subcommand's --from-store")
    ap.add_argument("--funnel-store", default=None,
                    help="append per-stage survival rows (seq, stage, "
                         "docs, chars) per batch — the drop-rate "
                         "monitor: a drifting crawl mix moves the "
                         "exact/near-dup drop fractions batch over "
                         "batch before the kept profile drifts")
    ap.add_argument("--input-html", action="store_true",
                    help="arrivals are raw HTML: extract plain text "
                         "before any stage (keep this flag constant "
                         "across sessions of one store family)")
    ap.add_argument("--c4-line-clean", action="store_true",
                    help="C4 line rule + page-drop markers per batch")
    ap.add_argument("--gopher-rules", action="store_true",
                    help="Gopher document-quality heuristics per batch")
    args = ap.parse_args(argv)
    if (args.span_store is None) != (args.span_dedup_tokens is None):
        ap.error("--span-store and --span-dedup-tokens go together")
    if args.quarantine is not None and not args.require_input_quality:
        ap.error("--quarantine requires --require-input-quality")

    from pyspark.sql.utils import AnalysisException

    from .session import get_spark, tune
    from .streaming.curate import streaming_curate

    spark = tune(get_spark(app_name="ffi-etl-curate-stream"))
    spark.sparkContext.setLogLevel("ERROR")
    # cron-able daemon contract: an empty drop dir (first tick before
    # any drop lands, or a glob matching nothing) is a clean zero-work
    # drain, not a schema-inference traceback
    try:
        spark.read.parquet(args.source_dir).schema
    except AnalysisException:
        # ONLY the path-level failure class: a corrupt store or IO/auth
        # error must traceback, not masquerade as a clean empty drain
        print(json.dumps({"kept_rows": 0, "note": "no input files",
                          "source_dir": args.source_dir}, sort_keys=True))
        return 0
    streaming_curate(
        spark,
        source_dir=args.source_dir,
        kept_path=args.kept,
        exact_store_path=args.exact_store,
        minhash_store_path=args.minhash_store,
        checkpoint=args.checkpoint,
        id_col=args.id_col,
        text_col=args.text_col,
        source_col=args.source_col,
        max_files_per_trigger=args.max_files_per_trigger,
        on_existing_store=args.on_existing_store,
        span_store_path=args.span_store,
        kept_compact_every=args.kept_compact_every,
        min_words=args.min_words,
        jaccard_threshold_pct=args.jaccard_threshold_pct,
        shingle_mode=args.shingle_mode,
        span_dedup_tokens=args.span_dedup_tokens,
        input_html=args.input_html,
        c4_line_clean=args.c4_line_clean,
        gopher_rules=args.gopher_rules,
        input_suite=(
            _stream_input_suite(args) if args.require_input_quality
            else None
        ),
        quarantine_path=args.quarantine,
        profile_store_path=args.profile_store,
        funnel_store_path=args.funnel_store,
    )
    # logical counts through the generation layout: 0 for a root a
    # zero-batch drain never created; a corrupt footer or an IO/auth
    # failure surfaces instead of printing rows: 0
    from .streaming.dedup import store_row_count

    out = {
        key: store_row_count(spark, root)
        for key, root in (
            ("kept_rows", args.kept),
            ("exact_store_rows", args.exact_store),
            ("minhash_store_rows", args.minhash_store),
            ("span_store_rows", args.span_store),
            ("quarantined_rows", args.quarantine),
        )
        if root is not None
    }
    if out["kept_rows"] == 0:
        out["note"] = "no batches processed or empty kept corpus"
    print(json.dumps(out, sort_keys=True))
    return 0


def curate_maintain_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark curate-maintain``: between-
    sessions maintenance for a curate-stream deployment — fold the kept
    corpus's committed batch dirs (and the quarantine's and signature
    stores', if given) into single generations so file counts stay
    bounded across daemon runs. The in-run ``--kept-compact-every``
    cadence does the same thing mid-drain; this command is the
    cron-able nightly form the sink docstrings point at. Prints one
    JSON line."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark curate-maintain",
        description="Fold committed kept-corpus (and quarantine) batch "
                    "dirs into single compacted generations.",
    )
    ap.add_argument("--kept", required=True)
    ap.add_argument("--quarantine", default=None)
    ap.add_argument("--num-files", type=int, default=4,
                    help="parquet files per compacted generation")
    ap.add_argument("--exact-store", default=None,
                    help="also fold this signature store into a compacted "
                         "generation (compact_signature_store)")
    ap.add_argument("--minhash-store", default=None)
    ap.add_argument("--span-store", default=None)
    args = ap.parse_args(argv)

    from .session import get_spark, tune
    from .streaming.dedup import compact_signature_store, store_row_count
    from .streaming.events import compact_generations

    spark = tune(get_spark(app_name="ffi-etl-curate-maintain"))
    spark.sparkContext.setLogLevel("ERROR")

    # an absent root (cron before the first drain) folds to -1 and
    # counts 0 — a clean zero-work report, not a traceback
    out: dict = {
        "kept_generation": compact_generations(
            spark, args.kept, num_files=args.num_files
        ),
        "kept_rows": store_row_count(spark, args.kept),
    }
    if args.quarantine is not None:
        out["quarantine_generation"] = compact_generations(
            spark, args.quarantine, num_files=args.num_files
        )
        out["quarantined_rows"] = store_row_count(spark, args.quarantine)
    for family, root in (
        ("exact", args.exact_store),
        ("minhash", args.minhash_store),
        ("span", args.span_store),
    ):
        if root is not None:
            out[f"{family}_store_generation"] = compact_signature_store(
                spark, root, args.num_files
            )
    print(json.dumps(out, sort_keys=True))
    return 0


def warehouse_maintain_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark warehouse-maintain``: fold the
    parquet warehouse's accumulated per-batch append files into sized
    files (sinks/files.compact_warehouse) — the batch-loader twin of
    curate-maintain, cron-able between loader runs. Prints one JSON
    line of {table: {files_before, files_after, rows, action}}."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark warehouse-maintain",
        description="Compact the parquet warehouse's small append files "
                    "(idempotent; run between loader batches).",
    )
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--tables", default=None,
                    help="comma-separated subset (default: every table "
                         "dir under the warehouse)")
    ap.add_argument("--target-file-mb", type=int, default=128,
                    help="target parquet file size after the fold")
    ap.add_argument("--min-files", type=int, default=8,
                    help="leave tables with fewer files untouched")
    args = ap.parse_args(argv)

    from .session import get_spark, tune
    from .sinks.files import compact_warehouse

    spark = tune(get_spark(app_name="ffi-etl-warehouse-maintain"))
    spark.sparkContext.setLogLevel("ERROR")
    out = compact_warehouse(
        spark,
        args.warehouse,
        tables=(args.tables.split(",") if args.tables else None),
        target_file_bytes=args.target_file_mb * 1024 * 1024,
        min_files=args.min_files,
    )
    print(json.dumps(out, sort_keys=True))
    return 0


def ann_index_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark ann-index``: the persisted
    IVF-PQ similarity index (operators/annstore.py) as a CLI — build it
    from an embedding table, grow it with arrival batches (no retrain),
    search it (optionally exact-reranked), and fold its per-add append
    files. Prints one JSON line per action."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark ann-index",
        description="Persisted IVF-PQ ANN index: build / add / search / "
                    "compact.",
    )
    ap.add_argument("action", choices=["build", "add", "search", "compact"])
    ap.add_argument("--index", required=True, help="index directory")
    ap.add_argument("--input", default=None,
                    help="embedding parquet: the corpus (build), the "
                         "arrival batch (add), or the queries (search)")
    ap.add_argument("--id-col", default="vec_id")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--dim", type=int, default=None,
                    help="build: vector width (default: probed from the "
                         "input's first row)")
    ap.add_argument("--coarse-k", type=int, default=16)
    ap.add_argument("--m", type=int, default=4)
    ap.add_argument("--pq-k", type=int, default=16)
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--nprobe", type=int, default=3)
    ap.add_argument("--output", default=None,
                    help="search: write (query_id, nbr_id, dist, rnk) "
                         "parquet here instead of echoing rows")
    ap.add_argument("--rerank-with", default=None,
                    help="search: raw-vector parquet for exact re-scoring "
                         "of the ADC shortlist (IVFADC+R)")
    ap.add_argument("--min-files", type=int, default=8)
    ap.add_argument("--target-file-mb", type=int, default=128)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from .operators.annstore import (
        ann_index_add,
        ann_index_compact,
        ann_index_search,
        build_ann_index,
    )
    from .session import get_spark, tune

    spark = tune(get_spark(app_name="ffi-etl-ann-index"))
    spark.sparkContext.setLogLevel("ERROR")
    if args.action == "compact":
        out = ann_index_compact(
            spark, args.index, min_files=args.min_files,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
        )
    else:
        if args.input is None:
            ap.error(f"--input is required for {args.action}")
        table = spark.read.parquet(args.input)
        if args.action == "build":
            dim = args.dim or len(
                table.select(args.vec_col).first()[args.vec_col]
            )
            out = build_ann_index(
                table, args.index, dim, coarse_k=args.coarse_k, m=args.m,
                pq_k=args.pq_k, iters=args.iters, id_col=args.id_col,
                vec_col=args.vec_col,
            )
        elif args.action == "add":
            out = ann_index_add(
                spark, args.index, table, id_col=args.id_col,
                vec_col=args.vec_col,
            )
        else:  # search
            queries = table.select(
                F.col(args.id_col).alias("query_id"),
                F.col(args.vec_col).alias("embedding"),
            )
            rerank = (
                spark.read.parquet(args.rerank_with)
                if args.rerank_with else None
            )
            hits = ann_index_search(
                spark, args.index, queries, k=args.k, nprobe=args.nprobe,
                rerank_vectors=rerank, rerank_id_col=args.id_col,
            )
            if args.output:
                hits.write.mode("overwrite").parquet(args.output)
                out = {"queries": queries.count(), "k": args.k,
                       "output": args.output}
            else:
                out = {"hits": [r.asDict() for r in hits.collect()]}
    print(json.dumps(out, sort_keys=True))
    return 0


def dataset_card_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark dataset-card``: the release
    datasheet for a document corpus — overall counts, per-source
    mixture with shares, token-length percentiles, optional top
    domains. Prints the card as one JSON line; ``--markdown PATH``
    additionally writes the human-facing render."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark dataset-card",
        description="Summarize a document corpus as a dataset card "
                    "(counts, mixture, length percentiles, domains).",
    )
    ap.add_argument("--input", required=True,
                    help="corpus parquet (a dir of training shards "
                         "works — the manifest is skipped as a hidden "
                         "_ path)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--url-col", default=None)
    ap.add_argument("--top-domains", type=int, default=10)
    ap.add_argument("--markdown", default=None,
                    help="also write the markdown render here")
    ap.add_argument("--title", default="Dataset card")
    args = ap.parse_args(argv)

    from .operators.profile import dataset_card, render_dataset_card
    from .session import get_spark, tune

    spark = tune(get_spark(app_name="ffi-etl-dataset-card"))
    spark.sparkContext.setLogLevel("ERROR")
    card = dataset_card(
        spark,
        spark.read.parquet(args.input),
        id_col=args.id_col,
        text_col=args.text_col,
        source_col=args.source_col,
        url_col=args.url_col,
        top_domains=args.top_domains,
    )
    if args.markdown is not None:
        with open(args.markdown, "w") as f:
            f.write(render_dataset_card(card, title=args.title))
        card["markdown"] = args.markdown
    print(json.dumps(card, sort_keys=True))
    return 0


def funnel_report_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark funnel-report``: read a funnel
    store written by curate-stream --funnel-store and print the
    per-(batch, stage) survival time series — plus, with --baseline N,
    a drift summary comparing each stage's mean survival over the first
    N batches vs the rest (the drop-rate drift monitor). One JSON line."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark funnel-report",
        description="Per-stage survival report over a curate-stream "
                    "funnel store.",
    )
    ap.add_argument("--store", required=True,
                    help="the funnel store root (--funnel-store of "
                         "curate-stream)")
    ap.add_argument("--baseline", type=int, default=None,
                    help="compare mean survival per stage over the "
                         "first N batches vs all later batches")
    args = ap.parse_args(argv)

    from .session import get_spark, tune
    from .streaming.curate import funnel_drop_rates

    spark = tune(get_spark(app_name="ffi-etl-funnel-report"))
    spark.sparkContext.setLogLevel("ERROR")
    rates = funnel_drop_rates(spark, args.store)
    out: dict = {
        "batches": [
            {
                "batch_id": r["batch_id"], "stage": r["stage"],
                "docs": r["docs"], "survival": r["survival"],
            }
            for r in rates.collect()
        ]
    }
    if args.baseline is not None:
        # batch-count x stage-count rows are already on the driver —
        # split in plain Python rather than re-running the read+join
        # as a second Spark job
        base_ids = set(sorted(
            {b["batch_id"] for b in out["batches"]}
        )[: args.baseline])
        sums: dict = {}
        for b in out["batches"]:
            if b["survival"] is None:
                continue
            w = "baseline" if b["batch_id"] in base_ids else "recent"
            s, n = sums.get((b["stage"], w), (0.0, 0))
            sums[(b["stage"], w)] = (s + b["survival"], n + 1)
        means = {k: s / n for k, (s, n) in sums.items()}
        out["drift"] = [
            {
                "stage": stage,
                "baseline": means.get((stage, "baseline")),
                "recent": means.get((stage, "recent")),
                "delta": (
                    round(
                        means[(stage, "recent")]
                        - means[(stage, "baseline")], 6
                    )
                    if (stage, "baseline") in means
                    and (stage, "recent") in means
                    else None
                ),
            }
            for stage in sorted({s for s, _ in means})
        ]
    print(json.dumps(out, sort_keys=True))
    return 0


def curate_replay_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark curate-replay-quarantine``:
    after fixing the quality rule (or the data), re-run the input
    CheckSuite over the committed DLQ units, route the passes through
    the normal curate flow against the live stores, and rewrite the
    still-failing units quarantined in place (passed units' dirs are
    removed; no generation rewrite — see replay_quarantine). Prints one
    JSON line of counts; idempotent — a second replay of an unchanged
    DLQ is a no-op for the kept corpus."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark curate-replay-quarantine",
        description="Reprocess quarantined (DLQ) batches through the "
                    "input quality gate and the incremental curate "
                    "pipeline; keep only the still-failing residue "
                    "quarantined.",
    )
    ap.add_argument("--quarantine", required=True,
                    help="the DLQ root written by curate-stream")
    ap.add_argument("--kept", required=True)
    ap.add_argument("--exact-store", required=True)
    ap.add_argument("--minhash-store", required=True)
    ap.add_argument("--span-store", default=None)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--jaccard-threshold-pct", type=int, default=20)
    ap.add_argument("--shingle-mode", choices=("word", "char"),
                    default="word")
    ap.add_argument("--span-dedup-tokens", type=int, default=None)
    ap.add_argument("--kept-compact-every", type=int, default=None)
    ap.add_argument("--profile-store", default=None)
    ap.add_argument("--input-html", action="store_true")
    ap.add_argument("--c4-line-clean", action="store_true")
    ap.add_argument("--gopher-rules", action="store_true")
    ap.add_argument("--dry-run", action="store_true",
                    help="preview only: re-run the suite per DLQ unit "
                         "and report which would pass, without staging, "
                         "curating, or deleting anything")
    args = ap.parse_args(argv)
    if (args.span_store is None) != (args.span_dedup_tokens is None):
        ap.error("--span-store and --span-dedup-tokens go together")

    from .session import get_spark, tune
    from .streaming.curate import replay_quarantine

    spark = tune(get_spark(app_name="ffi-etl-curate-replay"))
    spark.sparkContext.setLogLevel("ERROR")
    out = replay_quarantine(
        spark,
        quarantine_path=args.quarantine,
        input_suite=_stream_input_suite(args),
        kept_path=args.kept,
        exact_store_path=args.exact_store,
        minhash_store_path=args.minhash_store,
        id_col=args.id_col,
        text_col=args.text_col,
        source_col=args.source_col,
        span_store_path=args.span_store,
        kept_compact_every=args.kept_compact_every,
        profile_store_path=args.profile_store,
        min_words=args.min_words,
        jaccard_threshold_pct=args.jaccard_threshold_pct,
        shingle_mode=args.shingle_mode,
        span_dedup_tokens=args.span_dedup_tokens,
        input_html=args.input_html,
        c4_line_clean=args.c4_line_clean,
        gopher_rules=args.gopher_rules,
        dry_run=args.dry_run,
    )
    print(json.dumps(out, sort_keys=True))
    return 0


def curate_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark curate``: parquet corpus ->
    curate_documents (scrub -> near-dup keeper -> quality -> packing,
    plus optional blocklist/mixture via flags) -> ordered training
    shards + manifest. Prints one JSON line of counts."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark curate",
        description="Curate a parquet document corpus into training "
                    "shards (scrub, near-dup dedup, quality filter, "
                    "sequence packing, deterministic shard order).",
    )
    ap.add_argument("--input", required=True,
                    help="parquet path/glob of documents")
    ap.add_argument("--output", required=True, help="shard output dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--capacity", type=int, default=512,
                    help="tokens per packed training sequence")
    ap.add_argument("--rows-per-shard", type=int, default=100_000)
    ap.add_argument("--shard-format",
                    choices=("parquet", "orc", "jsonl"),
                    default="parquet",
                    help="training-shard file format (manifest stays "
                         "parquet either way)")
    ap.add_argument("--boilerplate-min-docs", type=int, default=None,
                    help="strip lines repeated across >= N docs")
    ap.add_argument("--paragraph-min-repeat", type=int, default=None,
                    help="dedup paragraphs repeated across >= N docs "
                         "down to one canonical copy")
    ap.add_argument("--span-dedup-tokens", type=int, default=None,
                    help="cut duplicate cross-document token runs of "
                         ">= N tokens down to their first occurrence")
    ap.add_argument("--url-col", default=None)
    ap.add_argument("--dedup-urls", action="store_true",
                    help="collapse recrawl/tracking-variant URLs to one "
                         "doc per canonical URL (requires --url-col)")
    ap.add_argument("--block-domain", action="append", default=None,
                    help="domain to drop (repeatable; requires --url-col)")
    ap.add_argument("--compression-ratio-bounds", type=float, nargs=2,
                    default=None, metavar=("LO", "HI"),
                    help="keep docs whose zlib compressed/raw byte ratio "
                         "lies in [LO, HI] (both tails mark junk)")
    ap.add_argument("--max-dup-line-frac", type=float, default=None,
                    help="drop docs whose repeated-line fraction "
                         "exceeds this (Gopher repetition signal)")
    ap.add_argument("--max-top-bigram-frac", type=float, default=None,
                    help="drop docs whose top-bigram coverage exceeds "
                         "this")
    ap.add_argument("--require-input-quality", action="store_true",
                    help="gate the run on input data-quality checks "
                         "(non-null unique ids, non-null text); exit 2 "
                         "with a JSON error line on failure")
    ap.add_argument("--benchmark", default=None,
                    help="parquet eval set (bench_id, text) to "
                         "decontaminate against (shared 8-grams)")
    ap.add_argument("--decon-n", type=int, default=8,
                    help="contamination shingle width (words)")
    ap.add_argument("--decon-containment-pct", type=int, default=None,
                    help="switch decontamination to the normalized "
                         "rule: drop docs holding >= PCT%% of any "
                         "benchmark item's n-grams (requires "
                         "--benchmark)")
    ap.add_argument("--decon-span-tokens", type=int, default=None,
                    help="switch decontamination to the SPAN rule: cut "
                         "benchmark-overlapping runs of >= N tokens out "
                         "of the document and keep the rest (requires "
                         "--benchmark)")
    ap.add_argument("--c4-line-clean", action="store_true",
                    help="C4 line rule: keep only lines ending in "
                         "terminal punctuation with >= 3 words; drop "
                         "pages with lorem-ipsum/brace markers")
    ap.add_argument("--gopher-rules", action="store_true",
                    help="Gopher document-quality heuristics (word "
                         "count, word length, symbol/bullet/ellipsis "
                         "ratios, alphabetic fraction, stopwords)")
    ap.add_argument("--input-html", action="store_true",
                    help="input text column is raw HTML: extract plain "
                         "text (drop script/style/head, decode "
                         "entities, strip tags) before any other stage")
    ap.add_argument("--lm-reference", default=None,
                    help="parquet reference corpus for the bigram-LM "
                         "quality filter (enables --max-avg-neg-logprob)")
    ap.add_argument("--max-avg-neg-logprob", type=float, default=None,
                    help="drop docs whose LM avg negative log-prob "
                         "exceeds this (reference-likeness cut)")
    ap.add_argument("--shingle-mode", choices=("word", "char", "auto"),
                    default="word",
                    help="near-dup shingling: word n-grams (default), "
                         "char n-grams for boundary-less scripts "
                         "(CJK/Thai corpora), or auto per-document "
                         "script routing")
    ap.add_argument("--shingle-n", type=int, default=None,
                    help="shingle width (default: 3 for word mode, "
                         "5 for char mode)")
    def _budget(s: str) -> tuple[str, int]:
        src, sep, n = s.partition("=")
        if not sep or not src:
            raise argparse.ArgumentTypeError(
                f"expected SOURCE=N, got {s!r}"
            )
        try:
            return src, int(n)
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"budget for {src!r} must be an integer, got {n!r}"
            ) from None

    ap.add_argument("--token-budget", action="append", default=None,
                    metavar="SOURCE=N", type=_budget,
                    help="per-source token budget (repeatable), e.g. "
                         "--token-budget web=1000000; sources without "
                         "a budget are dropped")
    ap.add_argument("--temperature-alpha", type=float, default=None,
                    help="temperature-mix the sources: rate_i derived "
                         "from corpus-share^alpha (0.5 = sqrt mixing; "
                         "<1 up-weights small sources)")
    ap.add_argument("--temperature-budget", type=int, default=None,
                    help="expected kept docs for --temperature-alpha "
                         "(default: corpus size)")

    def _epochs(s: str) -> tuple[str, float]:
        src, sep, n = s.partition("=")
        if not sep or not src:
            raise argparse.ArgumentTypeError(
                f"expected SOURCE=N, got {s!r}"
            )
        import math

        try:
            v = float(n)
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"epochs for {src!r} must be a number, got {n!r}"
            ) from None
        if not math.isfinite(v) or v < 0:
            raise argparse.ArgumentTypeError(
                "epochs must be a finite number >= 0"
            )
        return src, v

    ap.add_argument("--epochs", action="append", default=None,
                    metavar="SOURCE=N", type=_epochs,
                    help="repeat a source N epochs in the token stream "
                         "(repeatable; N may be fractional — the "
                         "fractional copy is a deterministic hash "
                         "subset; unlisted sources get 1 epoch); adds "
                         "an epoch copy-index column")
    ap.add_argument("--split-val", type=float, default=None,
                    help="tag a leakage-safe validation split of this "
                         "fraction (hashed on the near-dup cluster id, "
                         "so near-duplicates share a side); adds a "
                         "split column")
    ap.add_argument("--split-test", type=float, default=None,
                    help="tag a leakage-safe test split of this "
                         "fraction (see --split-val)")
    ap.add_argument("--split-salt", default="split",
                    help="salt for the split hash (default 'split'; "
                         "must differ from the samplers' axis — an "
                         "empty salt would correlate the split with "
                         "mixture membership)")
    ap.add_argument("--funnel", action="store_true",
                    help="audit mode: add a per-stage survival report "
                         "(docs + chars at every enabled stage "
                         "boundary) to the summary JSON — answers "
                         "'which stage shrank my corpus'; costs extra "
                         "counting passes over the pre-scrub stages")
    args = ap.parse_args(argv)
    if args.decon_containment_pct is not None and args.benchmark is None:
        ap.error("--decon-containment-pct requires --benchmark")
    if args.decon_span_tokens is not None and args.benchmark is None:
        ap.error("--decon-span-tokens requires --benchmark")
    if args.temperature_budget is not None and args.temperature_alpha is None:
        ap.error("--temperature-budget requires --temperature-alpha")

    from .plans.curation import curate_documents
    from .session import get_spark, tune
    from .sinks.shards import write_training_shards

    spark = tune(get_spark(app_name="ffi-etl-curate"))
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)
    n_in = None
    if args.require_input_quality:
        from pyspark.errors import AnalysisException

        from .operators.validate import CheckSuite, format_failures

        suite = (
            CheckSuite()
            .not_null(args.id_col)
            .unique(args.id_col)
            .not_null(args.text_col)
            .min_rows(1)
        )
        try:
            rows = suite.run(docs).collect()
        except AnalysisException as e:
            # e.g. the corpus is missing the id/text column entirely —
            # still the gate's job to report as JSON, not a traceback
            print(json.dumps({"error": str(e)}, sort_keys=True))
            return 2
        msg = format_failures(rows)
        if msg:
            print(json.dumps({"error": msg}, sort_keys=True))
            return 2
        # the suite's single scan already counted the corpus
        n_in = rows[0]["n_rows"]
    if n_in is None:
        n_in = docs.count()
    lm_reference = (
        spark.read.parquet(args.lm_reference)
        if args.lm_reference is not None
        else None
    )
    benchmark = (
        spark.read.parquet(args.benchmark)
        if args.benchmark is not None
        else None
    )
    funnel_stages: list | None = [] if args.funnel else None
    curated = curate_documents(
        docs,
        funnel=funnel_stages,
        id_col=args.id_col,
        text_col=args.text_col,
        source_col=args.source_col,
        min_words=args.min_words,
        capacity=args.capacity,
        boilerplate_min_docs=args.boilerplate_min_docs,
        paragraph_min_repeat=args.paragraph_min_repeat,
        span_dedup_tokens=args.span_dedup_tokens,
        input_html=args.input_html,
        c4_line_clean=args.c4_line_clean,
        gopher_rules=args.gopher_rules,
        url_col=args.url_col,
        domain_blocklist=args.block_domain,
        dedup_urls=args.dedup_urls,
        max_dup_line_frac=args.max_dup_line_frac,
        compression_ratio_bounds=(tuple(args.compression_ratio_bounds)
                                  if args.compression_ratio_bounds
                                  else None),
        max_top_bigram_frac=args.max_top_bigram_frac,
        benchmark=benchmark,
        decon_n=args.decon_n,
        decon_min_containment_pct=args.decon_containment_pct,
        decon_span_tokens=args.decon_span_tokens,
        lm_reference=lm_reference,
        max_avg_neg_logprob=args.max_avg_neg_logprob,
        shingle_mode=args.shingle_mode,
        shingle_n=args.shingle_n,
        token_budgets=(
            dict(args.token_budget) if args.token_budget else None
        ),
        temperature_alpha=args.temperature_alpha,
        temperature_budget=args.temperature_budget,
        epochs=(dict(args.epochs) if args.epochs else None),
        split_val=args.split_val,
        split_test=args.split_test,
        split_salt=args.split_salt,
    )
    shuffle_key = None
    if args.epochs:
        # copies of an upsampled doc must spread through the training
        # stream, not sit adjacent: shard-shuffle on (id, epoch) so each
        # copy hashes to its own stream position. Passed as a COMPUTED
        # shuffle key (ADVICE r8) — id + epoch already identify the
        # copy, so a materialized helper column would be redundant
        # bytes in every shard and pollute the verify-shards digests.
        from pyspark.sql import functions as F

        shuffle_key = F.concat_ws(
            "#", F.col("id").cast("string"), F.col("epoch")
        )
    manifest = write_training_shards(
        curated, args.output, "id",
        rows_per_shard=args.rows_per_shard,
        data_format=args.shard_format,
        shuffle_key=shuffle_key,
    )
    shards = manifest.collect()
    # mixture report from the WRITTEN shards (one narrow scan of the
    # output — re-aggregating `curated` would re-run the pipeline):
    # per-source doc and token counts, the numbers a mixture spec is
    # checked against
    from pyspark.sql import functions as F

    from .sinks.shards import _SPARK_FMT

    written = spark.read.format(
        _SPARK_FMT.get(args.shard_format, args.shard_format)
    ).load(args.output)
    per_source = {
        r["source"]: {"docs": r["docs"], "tokens": r["tokens"]}
        for r in written.groupBy("source").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_words").alias("tokens"),
        ).collect()
    } if {"source", "n_words"} <= set(written.columns) else None
    report = {
        "docs_in": n_in,
        "docs_out": sum(m["n_rows"] for m in shards),
        "n_shards": len(shards),
        "output": args.output,
    }
    if per_source is not None:
        report["per_source"] = per_source
    if funnel_stages is not None:
        # counted AFTER the shard write so the boundaries at/after the
        # persisted scrub ride the pipeline's own (now hot) caches;
        # upstream boundaries recompute their scan-shaped lineage —
        # the priced part of asking for an audit
        from .plans.curation import count_funnel_stages

        report["funnel"] = count_funnel_stages(funnel_stages, curated)
    print(json.dumps(report, sort_keys=True))
    return 0


def profile_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark profile``: per-column profile of
    a parquet table (or of an incremental profile STORE, never
    rescanning the corpus), optionally saved and/or drifted against an
    earlier saved profile. Prints one JSON line:
    {"profile": [per-column rows], "drift": [rows]?}."""
    import argparse

    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark profile",
        description="One-scan table profile / incremental-store report "
                    "/ snapshot drift.",
    )
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet table to profile (one scan)")
    src.add_argument("--from-store",
                     help="fold a profile store (profile_batch rows, "
                          "e.g. curate-stream --profile-store) into the "
                          "corpus profile — reads ONLY the store")
    ap.add_argument("--append-store", default=None,
                    help="with --input: also append this table's "
                         "mergeable profile row to the store dir")
    ap.add_argument("--save", default=None,
                    help="write the profile rows as parquet (snapshot "
                         "for later --drift-against)")
    ap.add_argument("--drift-against", default=None,
                    help="earlier --save output: also report "
                         "profile_drift (old=that, new=this)")
    args = ap.parse_args(argv)
    if args.append_store and not args.input:
        ap.error("--append-store requires --input")

    from .operators.profile import (
        profile_batch,
        profile_drift,
        profile_from_batches,
        profile_table,
    )
    from .session import get_spark, tune

    spark = tune(get_spark(app_name="ffi-etl-profile"))
    spark.sparkContext.setLogLevel("ERROR")
    if args.input:
        table = spark.read.parquet(args.input)
        if args.append_store:
            # ONE corpus scan: materialize the mergeable row, append it,
            # and derive the report from it (profile_from_batches has
            # profile_table's schema; only the distinct estimator
            # differs — HLL DataSketch vs HLL++, same tolerance class)
            batch = profile_batch(table).localCheckpoint()
            batch.write.mode("append").parquet(args.append_store)
            prof = profile_from_batches(batch)
        else:
            prof = profile_table(table)
    else:
        prof = profile_from_batches(spark.read.parquet(args.from_store))
    if args.save:
        prof.write.mode("overwrite").parquet(args.save)
        prof = spark.read.parquet(args.save)  # report what was saved
    out = {"profile": sorted(
        (r.asDict() for r in prof.collect()), key=lambda r: r["column"]
    )}
    if args.drift_against:
        old = spark.read.parquet(args.drift_against)
        out["drift"] = sorted(
            (r.asDict() for r in profile_drift(old, prof).collect()),
            key=lambda r: r["column"],
        )
    print(json.dumps(out, sort_keys=True))
    return 0


def diff_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark diff``: id-level snapshot diff
    of two parquet corpora (added/removed/changed/unchanged counts +
    id ranges). One JSON line."""
    import argparse

    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark diff",
        description="Corpus snapshot diff by content digest.",
    )
    ap.add_argument("--old", required=True)
    ap.add_argument("--new", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    args = ap.parse_args(argv)

    from .operators.corpusdiff import corpus_diff_counts
    from .session import get_spark, tune

    spark = tune(get_spark(app_name="ffi-etl-diff"))
    spark.sparkContext.setLogLevel("ERROR")
    rows = corpus_diff_counts(
        spark.read.parquet(args.old),
        spark.read.parquet(args.new),
        id_col=args.id_col,
        text_col=args.text_col,
    ).collect()
    out = {
        r["status"]: {
            "n_docs": r["n_docs"],
            "min_id": r["min_id"],
            "max_id": r["max_id"],
        }
        for r in rows
    }
    for status in ("added", "removed", "changed", "unchanged"):
        out.setdefault(status, {"n_docs": 0, "min_id": None, "max_id": None})
    print(json.dumps(out, sort_keys=True, default=str))
    return 0


def rank_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark rank``: PageRank over a link
    graph. Input is either an edge table (src, dst) or raw crawled
    pages (--html: url + html columns — links are extracted and both
    sides canonicalized, composing htmlx -> urls -> pagerank). Writes
    (node, rank) parquet and prints a JSON summary with the top ranks.
    """
    import argparse

    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark rank",
        description="PageRank over a link graph or a crawled page set.",
    )
    ap.add_argument("--input", required=True, help="parquet table")
    ap.add_argument("--output", required=True, help="(node, rank) parquet")
    ap.add_argument("--html", action="store_true",
                    help="input is (url, html) pages: extract hrefs and "
                         "canonicalize both endpoints first")
    ap.add_argument("--src-col", default="src")
    ap.add_argument("--dst-col", default="dst")
    ap.add_argument("--url-col", default="url")
    ap.add_argument("--html-col", default="html")
    ap.add_argument("--iterations", type=int, default=10)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--top", type=int, default=10,
                    help="top-N ranks echoed in the JSON summary")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from .operators.pagerank import pagerank
    from .session import get_spark, tune

    spark = tune(get_spark(app_name="ffi-etl-rank"))
    spark.sparkContext.setLogLevel("ERROR")
    table = spark.read.parquet(args.input)
    if args.html:
        from .operators.htmlx import extract_links
        from .operators.urls import canonicalize_url
        from .operators.xplode import explode_nonempty

        # explode_nonempty, not F.explode: the optimizer would push a
        # size() filter that re-runs the extraction regex per scan
        edges = explode_nonempty(
            table,
            [canonicalize_url(args.url_col).alias("src")],
            extract_links(args.html_col),
            "_href",
        ).select("src", canonicalize_url("_href").alias("dst"))
    else:
        edges = table.select(
            F.col(args.src_col).alias("src"),
            F.col(args.dst_col).alias("dst"),
        )
    ranks = pagerank(
        edges, damping=args.damping, iterations=args.iterations
    )
    ranks.write.mode("overwrite").parquet(args.output)
    saved = spark.read.parquet(args.output)
    top = [
        {"node": r["node"], "rank": r["rank"]}
        for r in saved.orderBy(F.col("rank").desc(), "node")
        .limit(args.top).collect()
    ]
    print(json.dumps({
        "n_nodes": saved.count(),
        "iterations": args.iterations,
        "top": top,
        "output": args.output,
    }, sort_keys=True, default=str))
    return 0


def verify_shards_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark verify-shards``: integrity
    check of a checksummed training-shard directory
    (sinks/shards.verify_training_shards) — run after a copy/transfer
    or before a training job trusts a corpus. Prints one JSON line;
    exit 1 if any shard fails, 2 if the manifest has no checksums."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark verify-shards",
        description="Verify training shards against their manifest "
                    "(row counts, order-insensitive row digests, byte "
                    "sizes).",
    )
    ap.add_argument("--path", required=True, help="shard directory")
    ap.add_argument("--format", choices=("parquet", "orc", "jsonl"),
                    default="parquet", dest="data_format")
    args = ap.parse_args(argv)

    from .session import get_spark, tune
    from .sinks.shards import verify_training_shards

    spark = tune(get_spark(app_name="ffi-etl-verify-shards"))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        report = verify_training_shards(
            spark, args.path, data_format=args.data_format
        ).collect()
    except ValueError as e:
        print(json.dumps({"error": str(e)}, sort_keys=True))
        return 2
    bad = [r["file"] for r in report if not r["ok"]]
    print(json.dumps({
        "n_shards": len(report),
        "n_failed": len(bad),
        "failed": sorted(bad),
        "path": args.path,
    }, sort_keys=True))
    return 1 if bad else 0


def cross_audit_main(argv: list[str]) -> int:
    """``python -m ffi_export_etl_spark cross-audit``: fuzzy overlap
    audit between TWO corpora — near-duplicate pairs from A x B only
    (operators/minhash.cross_corpus_near_duplicates), written as
    parquet plus a one-line JSON summary. The vendor-dataset /
    recrawl-vs-archive / cross-corpus-decontamination report."""
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark cross-audit",
        description="Near-duplicate pairs BETWEEN two corpora "
                    "(never within either side).",
    )
    ap.add_argument("--corpus-a", required=True,
                    help="parquet path/glob of corpus A")
    ap.add_argument("--corpus-b", required=True,
                    help="parquet path/glob of corpus B")
    ap.add_argument("--output", required=True,
                    help="output dir for the (id_a, id_b, jaccard) pairs")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--jaccard-threshold-pct", type=int, default=20)
    ap.add_argument("--shingle-mode", choices=("word", "char"),
                    default="word")
    ap.add_argument("--shingle-n", type=int, default=None)
    args = ap.parse_args(argv)

    from .operators.minhash import cross_corpus_near_duplicates
    from .session import get_spark, tune

    spark = tune(get_spark(app_name="ffi-etl-cross-audit"))
    spark.sparkContext.setLogLevel("ERROR")
    a = spark.read.parquet(args.corpus_a)
    b = spark.read.parquet(args.corpus_b)
    pairs = cross_corpus_near_duplicates(
        a, b, id_col=args.id_col, text_col=args.text_col,
        n=args.shingle_n, threshold_pct=args.jaccard_threshold_pct,
        shingle_mode=args.shingle_mode,
    )
    pairs.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    n_pairs = written.count()
    # distinct doc counts per side — the headline contamination measure
    n_a_hit = written.select("id_a").distinct().count()
    n_b_hit = written.select("id_b").distinct().count()
    print(json.dumps({
        "n_pairs": n_pairs,
        "n_a_docs_with_match": n_a_hit,
        "n_b_docs_with_match": n_b_hit,
        "output": args.output,
    }, sort_keys=True))
    return 0


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "rank":
        return rank_main(argv[1:])
    if argv and argv[0] == "curate":
        return curate_main(argv[1:])
    if argv and argv[0] == "curate-stream":
        return curate_stream_main(argv[1:])
    if argv and argv[0] == "curate-replay-quarantine":
        return curate_replay_main(argv[1:])
    if argv and argv[0] == "curate-maintain":
        return curate_maintain_main(argv[1:])
    if argv and argv[0] == "warehouse-maintain":
        return warehouse_maintain_main(argv[1:])
    if argv and argv[0] == "ann-index":
        return ann_index_main(argv[1:])
    if argv and argv[0] == "funnel-report":
        return funnel_report_main(argv[1:])
    if argv and argv[0] == "dataset-card":
        return dataset_card_main(argv[1:])
    if argv and argv[0] == "profile":
        return profile_main(argv[1:])
    if argv and argv[0] == "diff":
        return diff_main(argv[1:])
    if argv and argv[0] == "cross-audit":
        return cross_audit_main(argv[1:])
    if argv and argv[0] == "verify-shards":
        return verify_shards_main(argv[1:])
    ap = argparse.ArgumentParser(
        prog="python -m ffi_export_etl_spark",
        description="FFI export ETL: XML exports -> transformed tables -> "
                    "keyed warehouse (parquet by default, JDBC MERGE with "
                    "--jdbc).",
    )
    ap.add_argument("--config", default="config.ini",
                    help="config.ini path (reference README format)")
    ap.add_argument("--data", default=None,
                    help="directory of *.xml exports (overrides [Paths] data)")
    ap.add_argument("--warehouse", default=None,
                    help="parquet warehouse dir (overrides [Paths] warehouse)")
    ap.add_argument("--jdbc", action="store_true",
                    help="load into the configured database via MERGE "
                         "instead of the parquet warehouse")
    ap.add_argument("--batched", action="store_true",
                    help="batch mode: per-file pipelines, tables unioned "
                         "across files, one upsert per table (coarser "
                         "failure isolation)")
    ap.add_argument("--glob", action="store_true",
                    help="whole-glob mode: ONE parse + ONE pipeline over "
                         "all pending files (fastest at many files; "
                         "pipeline dedup rules apply across files)")
    args = ap.parse_args(argv)

    config = configparser.ConfigParser()
    config.read(args.config)
    paths = config["Paths"] if "Paths" in config else {}
    data_dir = args.data or paths.get("data", "data")
    warehouse = args.warehouse or paths.get("warehouse", "warehouse")

    if args.jdbc:
        db_section = next(
            (config[s] for s in config.sections()
             if s.lower() in ("sqlserver", "localmssql", "postgresql")),
            None,
        )
        if db_section is None:
            print("--jdbc requires a [SQLServer]/[PostgreSQL] config "
                  "section", file=sys.stderr)
            return 2
        url = build_db_url(db_section)
        print(
            "JDBC load path: stage frames with sinks.jdbc_exec."
            "spark_staging_writer + MergeLoader against\n  " + url +
            "\nThis container ships no JDBC driver jar; run with "
            "--jars <driver.jar> on a connected cluster.",
            file=sys.stderr,
        )
        return 2

    from .plans.batch_driver import (
        process_exports,
        process_exports_batched,
        process_exports_glob,
    )
    from .session import get_spark, tune

    spark = tune(get_spark(app_name="ffi-export-etl"))
    spark.sparkContext.setLogLevel("ERROR")
    glob_pat = os.path.join(data_dir, "*.xml")
    if args.glob:
        print(json.dumps(process_exports_glob(spark, glob_pat, warehouse),
                         sort_keys=True))
        return 0
    if args.batched:
        print(json.dumps(process_exports_batched(spark, glob_pat, warehouse),
                         sort_keys=True))
        return 0
    results = process_exports(spark, glob_pat, warehouse)
    print(json.dumps(
        {os.path.basename(f): tables for f, tables in results.items()},
        sort_keys=True,
    ))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
