"""End-to-end batch driver: directory of FFI export XMLs -> transformed
tables -> keyed parquet warehouse, with per-file failure isolation and an
idempotent processed-file ledger.

Reference entry point parity (/root/reference/xml_to_rdb.py:15-56):
  scandir *.xml            -> glob + ledger.pending()
  FFIFile(...).extract/transform -> FFIPipeline.run()
  .load(server) MERGE      -> parquet_upsert per table (or MergeLoader
                              against a real JDBC warehouse)
  move to processed/       -> ledger.mark(file) iff no table failed
  UpdateLog audit          -> audit_log_append

Each file is processed independently (the reference's unit of retry);
tables within a file load independently too, with failures collected
per table (xml_to_rdb.py:44-49, parser/xml.py:699-707).
"""

from __future__ import annotations

import glob as globmod
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.ffi_pipeline import EXCLUDED_TABLES, FFIPipeline
from ..plans.fieldmap import LoadMaps
from ..sinks.files import ProcessedLedger, audit_log_append, parquet_upsert
from ..sources.xml import read_ffi_export

# Primary keys for warehouse tables (reference: reflected from the live
# DB, parser/server.py:12-38; here declared for the parquet warehouse).
DEFAULT_KEYS: dict[str, tuple[str, ...]] = {
    "MacroPlot": ("PlotID",),
    "SampleEvent": ("EventID",),
    "ProjectUnit": ("ProjectID",),
    "ProjectVisit": ("VisitID", "MM_SampleEvent_GUID"),
    "Transect": ("EventID", "Transect"),
}
FALLBACK_KEY_CANDIDATES = (
    "EventID",
    "AttributeData_DataRow_GUID",
    "SampleData_SampleRow_GUID",
)


def _keys_for(table: str, columns: list[str]) -> tuple[str, ...] | None:
    if table in DEFAULT_KEYS:
        return tuple(k for k in DEFAULT_KEYS[table] if k in columns) or None
    keys = [k for k in FALLBACK_KEY_CANDIDATES if k in columns]
    return tuple(keys) or None


def _pending(
    export_glob: str, warehouse_dir: str
) -> tuple[ProcessedLedger, list[str]]:
    """The warehouse's processed-file ledger and the glob's files it has
    not recorded yet, in path order."""
    os.makedirs(warehouse_dir, exist_ok=True)
    ledger = ProcessedLedger(os.path.join(warehouse_dir, "_processed.jsonl"))
    return ledger, ledger.pending(sorted(globmod.glob(export_glob)))


def _run_pipeline(
    spark: SparkSession, tables: dict[str, DataFrame], persists: list
) -> dict[str, DataFrame]:
    """Extract + transform one export's tables; appends every frame the
    pipeline persisted to ``persists`` (even on failure, so the caller
    can release them)."""
    pipe = FFIPipeline(spark, tables)
    try:
        pipe.run()
    finally:
        persists.extend(pipe.persists)
    return pipe.tables


def _work_list(
    tables: dict[str, DataFrame],
    maps: LoadMaps | None,
    order_col: str | None = None,
) -> list[tuple[str, DataFrame, tuple[str, ...]]]:
    """(target_name, df, key_cols) per warehouse table: excluded source
    tables are skipped, the LoadMaps projection runs BEFORE the keys are
    resolved (so they resolve against renamed columns), and a table
    with no stable key is not a warehouse table. ``order_col`` (batched
    mode's staged file sequence) threads through the projection and
    keeps the earliest row per key — identical to sequential per-file
    loads, where a later file's duplicate keys anti-join away."""
    keep = (order_col,) if order_col else ()
    work = []
    for name, df in tables.items():
        if name in EXCLUDED_TABLES:
            continue
        target_name = (maps.target_for(name) if maps else None) or name
        if maps:
            df = maps.project(df, target_name, keep_cols=keep)
        keys = _keys_for(name, [c for c in df.columns if c not in keep])
        if keys is None:
            continue
        if order_col:
            w = Window.partitionBy(*keys).orderBy(order_col)
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", order_col)
            )
        work.append((target_name, df, keys))
    return work


def _upsert_concurrently(
    spark: SparkSession,
    work: list[tuple[str, DataFrame, tuple[str, ...]]],
    warehouse_dir: str,
) -> tuple[dict[str, int], list[str]]:
    """The load step of every mode: run ``work`` — (target_name, df,
    key_cols) triples — as CONCURRENT per-table upserts, then append
    one UpdateLog record per target that inserted rows; returns
    ({target: rows_inserted}, [failed targets]).

    The ~17 table loads are independent jobs over disjoint target dirs,
    each small enough that the scheduler never saturates — run serially
    they were the batch floor (each pays its own job-submission + plan
    execution latency while the cluster idles). One bounded
    InheritableThread worker per TARGET (``parallel.run_parallel``, NOT a
    ThreadPoolExecutor: under PYSPARK_PIN_THREAD every plain Python
    thread that touches py4j pins a JVM thread that is only released
    when InheritableThread's cleanup runs). Items that share a target
    name (a fieldmap can alias two source tables to one target) CHAIN
    inside that target's worker — parquet_upsert is single-writer per
    target dir — and their counts sum. collect_errors keeps per-table
    failure isolation (parser/xml.py:699-707); a worker that died
    before reaching its target leaves it absent from the result map,
    which counts as failed so the ledger records it for a retry.
    """
    from ..parallel import run_parallel

    by_target: dict[str, list[tuple[DataFrame, tuple[str, ...]]]] = {}
    for target_name, df, keys in work:
        by_target.setdefault(target_name, []).append((df, keys))

    def _load(target_name: str, items) -> int:
        total = 0
        for df, keys in items:
            total += parquet_upsert(
                spark, df, os.path.join(warehouse_dir, target_name),
                list(keys),
            )
        return total

    counts, _errs = run_parallel(
        {
            t: (lambda t=t, items=items: _load(t, items))
            for t, items in by_target.items()
        },
        max_workers=16,
        collect_errors=True,
    )
    loaded = {t: counts[t] for t in by_target if t in counts}
    failed = [t for t in by_target if t not in counts]
    audit_log_append(
        spark,
        [
            {
                "User": os.environ.get("USER", "spark"),
                "Time": str(int(time.time())),
                "Table": t,
                "ChangeType": "INSERT",
                "Changes": n,
            }
            for t, n in loaded.items()
            if n
        ],
        os.path.join(warehouse_dir, "UpdateLog"),
    )
    return loaded, failed


def _prepare(
    spark: SparkSession,
    path: str | list[str],
    maps: LoadMaps | None,
    persists: list,
) -> list[tuple[str, DataFrame, tuple[str, ...]]]:
    """Parse + pipeline + the upsert work list for one export (or, in
    glob mode, a list of exports read as one). Appends every frame it
    persisted to ``persists`` (even on failure, so the caller can
    release them)."""
    tables = read_ffi_export(spark, path, persists=persists)
    return _work_list(_run_pipeline(spark, tables, persists), maps)


def process_exports(
    spark: SparkSession,
    export_glob: str,
    warehouse_dir: str,
    maps: LoadMaps | None = None,
) -> dict[str, dict[str, int]]:
    """Process every pending export file; returns {file: {table: rows}}.

    Files run one after another; each file's tables load concurrently.
    A file that fails to parse or transform records ``{}`` and stays
    pending (the reference's loop would crash here, xml_to_rdb.py:39-49),
    so it is retried on the next run once fixed; a failed table load
    blocks the file's ledger mark. The frames a file cached are released
    once it is loaded (nothing from a finished file is read again), and
    only those: a loader embedded in a long-lived session keeps its
    host's caches.
    """
    ledger, pending = _pending(export_glob, warehouse_dir)
    results: dict[str, dict[str, int]] = {}
    for path in pending:
        persists: list = []
        try:
            work = _prepare(spark, path, maps, persists)
        except Exception:
            results[path] = {}
        else:
            results[path], failed = _upsert_concurrently(
                spark, work, warehouse_dir
            )
            ledger.mark(path, failed_tables=failed)
        finally:
            for df in persists:
                df.unpersist()
    return results


def process_exports_batched(
    spark: SparkSession,
    export_glob: str,
    warehouse_dir: str,
    maps: LoadMaps | None = None,
) -> dict[str, int]:
    """Batch-mode loading: transform every pending file into a parquet
    STAGING area, then upsert ONCE per table from the staged scans.
    Returns {table: rows_inserted}.

    The per-file mode above issues files x tables upserts (each upsert =
    read existing + anti-join + append); with thousands of small exports
    that write amplification dominates. Batch mode collapses it to one
    upsert per TABLE. Staging through parquet (rather than unioning N
    live pipeline plans) keeps the final upsert plans flat: a lazy union
    of N per-file pipelines makes Catalyst analysis super-linear in N.

    - **Extract:** every file that passes the driver-side pre-scan
      (``discover_columns``, also the per-file validity gate) joins one
      shared ``read_ffi_export_sliced`` parse when the wave is sliceable;
      each file's pipeline runs over its own slice, with the same tags,
      columns and rows as a single-file read.
    - **Stage:** a file's table writes run concurrently, each into its
      own ``<table>/_file_seq=<seq>`` partition (seq = the file's index
      in the pending list). A file whose pipeline or staging fails stays
      pending; its partial dirs carry a seq the final scan prunes away.
    - **Load:** the staged scans go through the same work list and
      concurrent upserts as the other modes; cross-file duplicate keys
      resolve keep-first in file order, matching sequential per-file
      loads. A failed table load fails the ledger mark of every file.

    Caches are released per file (and the shared parse after the wave),
    never with ``clearCache()``: that would evict the sibling slices and
    the host session's own caches.
    """
    from ..parallel import run_parallel
    from ..sources.xml import (
        discover_columns,
        read_ffi_export_sliced,
        sliceable_paths,
    )

    ledger, pending = _pending(export_glob, warehouse_dir)
    staging_root = os.path.join(
        warehouse_dir, f"_staging_batch_{int(time.time() * 1000)}"
    )
    # driver-side pre-scan: validity gate + per-file tag/column sets
    colsets: dict[str, dict[str, list[str]]] = {}
    roots: dict[str, str] = {}
    for path in pending:
        try:
            _ns, root, cols = discover_columns(path)
            if root:
                colsets[path] = cols
                roots[path] = root
        except Exception:
            continue  # malformed: stays pending
    shared: dict[str, dict] = {}
    shared_slices: dict[str, DataFrame] = {}
    shared_persists: list = []
    wave = [p for p in pending if p in colsets]
    if (
        wave
        and len(set(roots[p] for p in wave)) == 1
        and sliceable_paths(wave)
    ):
        shared, shared_slices = read_ffi_export_sliced(
            spark, wave, roots[wave[0]],
            {p: colsets[p] for p in wave},
            persists=shared_persists,
        )
    staged: set[str] = set()
    ok_files: list[str] = []
    ok_seqs: list[int] = []
    for seq, path in enumerate(pending):
        persists: list = []
        try:
            if path in shared:
                tables = shared[path]
                # the file's 1-row root slice is released with the
                # file's own persists once it is staged
                persists.append(shared_slices[path])
            elif path in colsets:
                # non-sliceable wave (single file / dup basenames):
                # per-file read, discovery already paid by the pre-scan
                tables = read_ffi_export(
                    spark, path, tags=list(colsets[path]),
                    persists=persists,
                )
            else:
                continue  # failed the pre-scan: stays pending
            tables = _run_pipeline(spark, tables, persists)

            def _stage(name: str, seq: int = seq, tables=tables) -> str:
                tables[name].write.mode("overwrite").parquet(
                    os.path.join(staging_root, name, f"_file_seq={seq}")
                )
                return name

            done, errs = run_parallel(
                {
                    n: (lambda n=n: _stage(n))
                    for n in tables
                    if n not in EXCLUDED_TABLES
                },
                max_workers=16,
                collect_errors=True,
            )
            if errs:
                raise next(iter(errs.values()))
        except Exception:
            continue  # stays pending; retried next run
        finally:
            # release THIS file's caches only: the shared wave parse
            # must survive the sibling files
            for df in persists:
                df.unpersist()
        ok_files.append(path)
        ok_seqs.append(seq)
        staged.update(done)
    for df in shared_persists:  # staging done: release the wave parse
        df.unpersist()
    # mergeSchema: files may stage different column subsets; absent
    # columns read as nulls (= unionByName(allowMissingColumns)).
    # _file_seq comes back as a partition column; restricting it to the
    # fully-staged files is partition PRUNING, so a failed file's
    # partial dirs are never even scanned.
    scans = {
        name: spark.read.option("mergeSchema", "true")
        .option("basePath", os.path.join(staging_root, name))
        .parquet(os.path.join(staging_root, name))
        .filter(F.col("_file_seq").isin(ok_seqs))
        for name in sorted(staged)
    }
    loaded, failed = _upsert_concurrently(
        spark, _work_list(scans, maps, order_col="_file_seq"), warehouse_dir
    )
    shutil.rmtree(staging_root, ignore_errors=True)
    for path in ok_files:
        ledger.mark(path, failed_tables=failed)
    return loaded


def process_exports_glob(
    spark: SparkSession,
    export_glob: str,
    warehouse_dir: str,
    maps: LoadMaps | None = None,
) -> dict[str, int]:
    """Whole-glob loading: ALL pending exports are read as ONE XML parse
    (the reader's glob mode — one row per file) and transformed by ONE
    pipeline run, then upserted once per table.

    Per-file driver overhead (method discovery, per-table jobs) is paid
    once per BATCH, not once per file, and the cluster sees one big
    distributed parse instead of thousands of small ones. Semantics: the
    union of files is treated as one export, so cross-file duplicate
    keys resolve by the PIPELINE's own deterministic rules (e.g.
    latest-DateIn plot wins) — the reference's rules applied globally
    rather than in file-arrival order. Failure isolation is batch-level
    (an extract or transform error propagates); use process_exports for
    per-file isolation. Only this batch's cached frames are released.
    Returns {table: rows_inserted}.
    """
    ledger, pending = _pending(export_glob, warehouse_dir)
    if not pending:
        return {}
    persists: list = []
    try:
        work = _prepare(spark, pending, maps, persists)
        loaded, failed = _upsert_concurrently(spark, work, warehouse_dir)
    finally:
        for df in persists:
            df.unpersist()
    for path in pending:
        ledger.mark(path, failed_tables=failed)
    return loaded
