"""Continuous-ingest near-duplicate detection: the incremental signature
stores driven by Structured Streaming — MinHash by default
(operators/minhash.py:138-198), any store family via the pluggable
``sketch``/``pair_fn`` hooks (exact content-hash ingest dedup pinned by
test; simhash/sign-LSH stores satisfy the same contract).

The daily-increment batch shape generalizes to a stream: each
micro-batch of newly-arrived documents is sketched ONCE, joined against
the persisted (id, band, bucket) index for candidates involving anything
seen before, and then appended to that index — stored x stored is never
re-paired, and no stored document is ever re-read or re-sketched. At
100 TB this is the shape that keeps dedup cost proportional to the
ARRIVAL rate instead of the corpus size.

Exactly-once contract (same discipline as the event ingest in
tests/test_streaming.py): Structured Streaming may re-run a micro-batch
after a failure, so each batch overwrites its own ``batch_id=N``
subdirectory (Hive-partition layout, so the roots read back with
batch_id as a partition column) — a replayed batch overwrites itself
instead of appending a duplicate, and the non-partitioned per-subdir
write leaves a schema-carrying file even for an empty batch. Within one run, micro-batches
execute serially, so the store a batch joins against contains exactly
the batches before it; the union of per-batch candidate pairs over any
file arrival order equals the one-shot LSH candidate set (every pair
(a, b) is emitted by whichever batch processes the LATER of the two
docs — the earlier one is by then stored, or they share a batch).
Pinned by tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.minhash import (
    incremental_candidate_pairs,
    minhash_signature_store,
)

def _gen_table(table: str, gen: int) -> str:
    """Catalog name of a folded-store generation (compact_signature_store
    writes versioned tables so a fold never overwrites the generation a
    concurrent reader rule still points at)."""
    return f"{table}_g{gen}"


def _folded_meta(spark: SparkSession, store_path: str) -> dict | None:
    """Newest COMMITTED folded generation of a signature store, or None.

    compact_signature_store records each fold in a JSON sidecar under
    ``<store>/_folded/gen=<max_id>/`` (underscore-prefixed, so Spark's
    plain parquet read of the store root never sees it). Commit marker
    is the _SUCCESS file Spark leaves on the sidecar write — the same
    rule as the window-sink generations (events._sink_ids)."""
    from .events import _sink_ids

    folded_dir = os.path.join(store_path, "_folded")
    gens = sorted(_sink_ids(folded_dir, "gen", committed_only=True))
    if not gens:
        return None
    row = spark.read.json(
        os.path.join(folded_dir, f"gen={gens[-1]}")
    ).first()
    return {
        "table": row["table"],
        "max_batch_id": int(row["max_batch_id"]),
        # the generation's parquet data under the store root (the
        # store is self-contained; the catalog table is derived bucket
        # metadata). Derived, not recorded — relocating the store root
        # keeps the reference valid.
        "location": os.path.join(
            store_path, "_folded_data", f"gen={gens[-1]}"
        ),
    }


def _read_folded(spark: SparkSession, meta: dict) -> DataFrame:
    """Rows of the folded generation. Prefers the bucketed catalog
    table (join co-location), but the table is DERIVED metadata: the
    sidecar's generation data lives under <store>/_folded_data, so a
    session whose metastore cannot resolve the recorded name (derby
    metastore_db is working-directory-dependent; a drain daemon or
    curate-maintain launched from another cwd, or after a metastore
    reset) still reads the store correctly — it just pays the join
    shuffle the bucket metadata would have avoided. Raises only when
    BOTH the table and the data location are unreadable (a genuinely
    corrupt store must surface, not read as empty)."""
    try:
        return spark.table(meta["table"])
    except AnalysisException:
        try:
            return spark.read.parquet(meta["location"])
        except AnalysisException as e:
            raise ValueError(
                f"folded store generation unreadable: table "
                f"{meta['table']!r} is not in this session's catalog "
                f"and no parquet data at {meta['location']!r}"
            ) from e


def _read_store(
    spark: SparkSession,
    store_path: str,
    like: DataFrame,
    before_batch: int | None = None,
) -> DataFrame:
    """The signature index accumulated by prior micro-batches (empty on
    the first batch, schema borrowed from the current batch's index).
    Layout-aware: a store that compact_signature_store has folded reads
    back as the newest committed generation TABLE (bucketed on the
    family's join key) unioned with the batch_id dirs written after the
    fold — the same newest-generation-plus-tail rule as the window
    sinks, so a fold can crash between its commit and its cleanup
    without double-counting (consumed dirs <= the folded max are
    excluded by the batch_id filter until the next fold removes them).

    ``before_batch``: micro-batches execute serially, so batch N's
    legitimate store is EXACTLY batches < N — and after a failure,
    Structured Streaming re-runs batch N with its own half-written
    ``batch_id=N`` rows still on disk. Reading those would let the batch
    see ITSELF as already-stored (an exact-dedup replay then drops every
    doc of the batch — a real bug caught by the streaming-curate replay
    test), so the read prunes batch_id >= before_batch (a partition
    filter, no data scan of the pruned dirs).

    Existence is probed by ATTEMPTING the read, not by local-filesystem
    calls — an os.path probe would silently report an hdfs:// or s3a://
    store as absent and every batch would join an empty index (wrong
    output, no error). Only the first batch's read can legitimately fail
    (no store yet); later failures re-raise."""
    cols = [c for c in like.columns if c != "batch_id"]
    meta = _folded_meta(spark, store_path)
    if meta is not None:
        if before_batch is not None and before_batch <= meta["max_batch_id"]:
            # a fresh-checkpoint re-delivery ("replay" mode) needs the
            # per-batch_id slots the fold consumed — batch N's
            # legitimate store (batches < N) is no longer separable
            # from the folded generation. Failing fast beats the silent
            # alternative (batch 0 would see the WHOLE prior corpus as
            # stored and drop every one of its own docs as duplicates).
            raise ValueError(
                f"store at {store_path!r} was folded through batch "
                f"{meta['max_batch_id']} (table {meta['table']}); a "
                f"re-delivery below that is impossible — reuse the "
                f"original checkpoint or use on_existing_store="
                f"'continue'"
            )
        folded = _read_folded(spark, meta).select(*cols)
        try:
            tail = spark.read.parquet(store_path)
        except AnalysisException:  # every dir consumed by the fold
            return folded
        if "batch_id" in tail.columns:
            tail = tail.filter(F.col("batch_id") > meta["max_batch_id"])
            if before_batch is not None:
                tail = tail.filter(F.col("batch_id") < before_batch)
        return folded.unionByName(tail.select(*cols))
    try:
        store = spark.read.parquet(store_path)
        if before_batch is not None and "batch_id" in store.columns:
            store = store.filter(F.col("batch_id") < before_batch)
        return store.select(*cols)
    except AnalysisException:  # PATH_NOT_FOUND / empty dir: first batch
        return spark.createDataFrame([], like.select(*cols).schema)


def store_row_count(spark: SparkSession, store_path: str) -> int:
    """Logical row count of a signature store under ANY layout: folded
    generation table + post-fold batch dirs, plain batch dirs, or an
    absent/never-drained root (0). A plain ``read.parquet(root).count()``
    under-counts a folded store (the consumed dirs live in the table)
    — the CLI summary bug this helper replaces."""
    meta = _folded_meta(spark, store_path)
    total = 0 if meta is None else _read_folded(spark, meta).count()
    try:
        tail = spark.read.parquet(store_path)
    except AnalysisException:
        # no batch dirs: fully-folded store, or absent root (total 0)
        return total
    if meta is not None and "batch_id" in tail.columns:
        tail = tail.filter(F.col("batch_id") > meta["max_batch_id"])
    return total + tail.count()


def _session_base(
    spark: SparkSession,
    checkpoint: str,
    tag: str,
    store_path: str,
    max_id_fn=None,
) -> int:
    """Base offset for absolute batch ids in ``continue`` mode: the
    store's max batch_id + 1, computed ONCE per checkpoint and pinned in
    a sidecar next to the checkpoint dir (first-writer-wins via
    mode=ignore) — so a failure replay within the session reuses the
    same base and its batch_id pruning/overwrite slots stay correct.

    ``max_id_fn``: optional zero-arg probe returning the store's max
    occupied absolute id (or None for an empty store), replacing the
    default plain-parquet batch_id scan — required for roots whose
    layout a plain read cannot parse (the kept corpus once compaction
    has produced ``compacted=`` generations; see curate._kept_max_id)."""
    sidecar = checkpoint.rstrip("/") + f"_base_{tag}"
    try:
        return int(spark.read.json(sidecar).first()["base"])
    except AnalysisException:
        pass
    if max_id_fn is not None:
        top = max_id_fn()
        computed = int(top) + 1 if top is not None else 0
    else:
        # a folded store's consumed dirs are gone, so the plain scan
        # alone would restart the base at 0 — new batches would then
        # land AT OR BELOW the folded max, where the reader rule skips
        # them forever; the sidecar's max keeps the base monotone
        meta = _folded_meta(spark, store_path)
        tops = [] if meta is None else [meta["max_batch_id"]]
        try:
            store = spark.read.parquet(store_path)
            if "batch_id" in store.columns:
                top = store.select(F.max("batch_id")).first()[0]
                if top is not None:
                    tops.append(int(top))
        except AnalysisException:
            pass
        computed = max(tops) + 1 if tops else 0
    spark.createDataFrame([(computed,)], "base: long").coalesce(1).write.mode(
        "ignore"
    ).json(sidecar)
    return int(spark.read.json(sidecar).first()["base"])


def streaming_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = None,
    max_files_per_trigger: int = 1,
    sketch=None,
    pair_fn=None,
    on_existing_store: str = "replay",
):
    """Drain ``source_dir`` (parquet doc files) with availableNow,
    emitting candidate near-dup pairs to ``pairs_path`` and growing the
    signature store at ``store_path``. Returns the finished query.

    ``on_existing_store`` declares the intent when a FRESH checkpoint is
    started against a non-empty store — the driver cannot infer it:

    - ``"replay"`` (default): the run is a re-delivery of the same
      arrivals; each batch overwrites its slot, output unchanged (the
      exactly-once idempotence contract).
    - ``"continue"``: the run continues a prior session over new
      arrivals; batch ids offset past the store's max (stable per
      checkpoint via a sidecar), so the prior corpus stays stored and
      everything already seen dedups away. NOTE: the recommended
      continuation path is simply REUSING the same checkpoint (Spark
      then skips processed files and numbers new batches above the old
      ones — correct with no mode flag); "continue" exists for when the
      checkpoint is gone.

    ``max_bucket_size=None`` by default: the cap is computed against the
    store-so-far, which drifts from the one-shot population while the
    corpus is still arriving; callers who want the cap at steady state
    pass it explicitly.

    The store FAMILY is pluggable: ``sketch(batch) -> index rows`` and
    ``pair_fn(new_index, stored_index) -> (id_a, id_b, ...)`` default to
    the MinHash store, but any of the engine's signature stores slots in
    — e.g. exact content-hash streaming ingest dedup is
    ``sketch=lambda b: exact_signature_store(b, id, text)`` with
    ``pair_fn=exact_pairs_from_stores`` (pinned by test), and the
    simhash/sign-LSH stores follow the same contract.
    """
    schema = spark.read.parquet(source_dir).schema  # footer-only probe
    if sketch is None:
        sketch = lambda b: minhash_signature_store(  # noqa: E731
            b, id_col, text_col, n=n, num_perm=num_perm, bands=bands
        )
    if pair_fn is None:
        pair_fn = lambda nw, st: incremental_candidate_pairs(  # noqa: E731
            nw, st, max_bucket_size=max_bucket_size
        )
    if on_existing_store not in ("replay", "continue"):
        raise ValueError("on_existing_store must be 'replay' or 'continue'")
    if on_existing_store == "continue":
        store_base = _session_base(spark, checkpoint, "store", store_path)
        pairs_base = _session_base(spark, checkpoint, "pairs", pairs_path)
    else:
        store_base = pairs_base = 0

    def _process(batch: DataFrame, batch_id: int) -> None:
        bs = batch.sparkSession
        # sketch ONCE; feeds the join and the sink
        new_banded = sketch(batch).localCheckpoint()
        stored = _read_store(
            bs, store_path, new_banded, before_batch=store_base + batch_id
        )
        pairs = pair_fn(new_banded, stored)
        # each batch overwrites ITS OWN batch_id=N subdirectory (replay
        # idempotence), written non-partitioned so even an all-empty
        # batch leaves a schema-carrying file — a pairs dir where no
        # duplicate was ever found still reads back with the right
        # schema (a partitionBy write of an empty frame leaves nothing)
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, f"batch_id={pairs_base + batch_id}")
        )
        new_banded.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={store_base + batch_id}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _store_bucket_cols(cols: list[str]) -> list[str]:
    """The store family's JOIN KEY — (band, bucket) for minhash/sign-LSH,
    (band, val) for simhash, the digest for the exact/span stores.
    Bucketing on any extra column (e.g. the simhash fingerprint carried
    for verification) would misalign the bucket hash with the equi-join
    and silently reinstate the stored-side shuffle."""
    for join_key in (("band", "bucket"), ("band", "val"), ("key",)):
        if set(join_key) <= set(cols):
            return list(join_key)
    return [c for c in cols if c != "id"]


def compact_signature_store(
    spark: SparkSession,
    store_path: str,
    table: str,
    num_buckets: int = 64,
) -> dict:
    """THE between-sessions maintenance for a streaming-grown signature
    store (nightly, like curate.compact_kept for the kept corpus; the
    one-shot ``compact_store`` sibling was removed in r9 — it wrote a
    snapshot table the daemon could not read back, a second
    half-orphaned fold path): fold the committed ``batch_id=N`` dirs —
    plus the previous folded generation — into ONE bucketed generation
    on the family's join key, then remove the consumed dirs. File count
    stays O(num_buckets + batches-since-last-fold) instead of O(total
    batches), and the fold is transparent to the daemon: ``_read_store``
    reads the newest committed generation unioned with the dirs
    written after it, and a ``continue``-mode session base stays
    monotone via the sidecar max.

    Generation discipline (the window-sink rules): each fold writes its
    parquet data UNDER THE STORE ROOT at ``<store>/_folded_data/
    gen=<max>/`` with an EXTERNAL bucketed catalog table
    ``<table>_g<max>`` over it, and commits via a JSON sidecar
    ``<store>/_folded/gen=<max>/`` (_SUCCESS marker = committed, same
    as events._sink_ids). The catalog entry is DERIVED bucket metadata:
    derby's metastore_db resolves relative to the launch directory, so
    a reader in another working directory (or after a metastore reset)
    falls back to the location read — the store root is always
    self-contained (r8 ADVICE; r8's managed tables put the only copy of
    the folded rows inside the session warehouse). A fold that crashes
    after the data/table write but before the sidecar commit leaves the
    old view intact (orphan tables and data dirs are GC'd on the next
    run); a crash after the commit but before cleanup leaves consumed
    dirs <= the folded max, which the reader rule already excludes and
    the next fold removes. No transaction log needed.

    Only COMMITTED batch dirs fold (a crashed batch write has no
    _SUCCESS and will be overwritten by the stream's replay — freezing
    its partial rows into a generation would make them canonical) —
    and the NEWEST committed dir is always left unfolded (one-batch
    replay headroom): the stream's sink writes commit before Spark's
    checkpoint records the batch, so a daemon that crashed in that
    window re-delivers its last batch on restart, and a fold that had
    consumed it would turn every restart into the fail-fast
    re-delivery-below-the-fold error — permanently, with no recovery
    path. Spark can only re-deliver the LAST batch under checkpoint
    reuse, so max-committed-minus-one is exactly the safe bound; the
    held-back dir folds next time, once a newer batch lands.
    Duplicate signature rows across the generation boundary are
    harmless (stores are sets; every pair consumer applies distinct) so
    the fold is a straight union, no dedup shuffle.

    Returns {"generation", "table", "folded_dirs"} — generation -1 /
    table None when there was nothing to fold and no prior fold exists.
    Single-writer, like every sink in this family: the owning stream
    must not be running."""
    import shutil

    from .events import _sink_ids
    from ..sinks.bucketed import write_bucketed

    def _drop_gen_table(name: str) -> None:
        # DROP the catalog entry AND clear any orphan managed-table
        # LOCATION left behind it: a crash between a metastore drop and
        # its location cleanup (or a lost/reset metastore) leaves the
        # warehouse dir with no table, and the next fold's saveAsTable
        # then dies with LOCATION_ALREADY_EXISTS. Scoped to the
        # <table>_g<N> names this module owns. A db-qualified name's
        # managed location lives under <warehouse>/<db>.db/<name>
        # (default-db tables sit directly under the warehouse root).
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", ""
        ).removeprefix("file:")
        if wh:
            parts = name.lower().split(".")
            loc = (
                os.path.join(wh, f"{parts[-2]}.db", parts[-1])
                if len(parts) > 1
                else os.path.join(wh, parts[-1])
            )
            shutil.rmtree(loc, ignore_errors=True)

    folded_dir = os.path.join(store_path, "_folded")
    data_root = os.path.join(store_path, "_folded_data")
    gens = sorted(_sink_ids(folded_dir, "gen", committed_only=True))
    cur = gens[-1] if gens else -1
    cur_meta = _folded_meta(spark, store_path)
    # GC: uncommitted/stale sidecars, their tables AND their data dirs,
    # plus orphan tables from a fold that crashed BEFORE its sidecar write started
    # (table exists, no sidecar dir at all)
    for g in _sink_ids(folded_dir, "gen"):
        if g != cur:
            _drop_gen_table(_gen_table(table, g))
            shutil.rmtree(
                os.path.join(folded_dir, f"gen={g}"), ignore_errors=True
            )
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            if d.startswith("gen=") and d != f"gen={cur}":
                shutil.rmtree(
                    os.path.join(data_root, d), ignore_errors=True
                )
    # orphan-table scan in the table's OWN database (listTables defaults
    # to the current db, which would miss db-qualified generations)
    db = table.rsplit(".", 1)[0] if "." in table else None
    qual = (lambda n: f"{db}.{n}") if db else (lambda n: n)
    prefix = table.split(".")[-1] + "_g"
    own_tables = [
        t.name
        for t in (
            spark.catalog.listTables(db) if db else spark.catalog.listTables()
        )
    ]
    for name in own_tables:
        if name.startswith(prefix) and name[len(prefix):].isdigit():
            if int(name[len(prefix):]) != cur:
                _drop_gen_table(qual(name))
    eligible = sorted(
        i
        for i in _sink_ids(store_path, "batch_id", committed_only=True)
        if i > cur
    )[:-1]  # replay headroom: never fold the newest committed dir
    # (the stream's checkpoint may not have recorded it yet — see
    # docstring; it folds next run, once a newer batch exists)
    # dirs <= cur are replay artifacts already folded in (or a prior
    # fold's commit-then-clean crash window) — redundant by the reader
    # rule, just remove them
    for i in _sink_ids(store_path, "batch_id"):
        if i <= cur:
            shutil.rmtree(
                os.path.join(store_path, f"batch_id={i}"), ignore_errors=True
            )
    if not eligible:
        return {
            "generation": cur,
            "table": cur_meta["table"] if cur_meta is not None else None,
            "folded_dirs": 0,
        }
    new_gen = eligible[-1]
    paths = [os.path.join(store_path, f"batch_id={i}") for i in eligible]
    rows = spark.read.parquet(*paths)
    cols = [c for c in rows.columns if c != "batch_id"]
    rows = rows.select(*cols)
    if cur_meta is not None:
        # prior generation through the SIDECAR's recorded name (a run
        # with a changed table prefix must fold and GC the generation
        # it actually recorded, not a reconstructed name — r8 ADVICE),
        # falling back to the generation's parquet data when this
        # session's metastore cannot resolve it
        rows = _read_folded(spark, cur_meta).select(*cols).unionByName(rows)
    new_table = _gen_table(table, new_gen)
    if new_table.split(".")[-1] not in own_tables:
        _drop_gen_table(new_table)  # orphan location (db-aware listing)
    # the generation's parquet data lives UNDER THE STORE ROOT; the
    # catalog entry is an EXTERNAL table over it (r8 ADVICE: a managed
    # table made the folded rows cwd-dependent — derby's metastore_db
    # resolves relative to the launch dir, so a daemon started
    # elsewhere lost the whole folded store; now losing the metastore
    # costs only bucket co-location, never data)
    write_bucketed(
        rows,
        new_table,
        _store_bucket_cols(cols),
        num_buckets,
        path=os.path.join(data_root, f"gen={new_gen}"),
    )
    spark.createDataFrame(
        [(new_table, new_gen)],
        "table: string, max_batch_id: long",
    ).coalesce(1).write.mode("overwrite").json(
        os.path.join(folded_dir, f"gen={new_gen}")
    )
    # consumed inputs are redundant the moment the sidecar committed
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
    if cur_meta is not None:
        _drop_gen_table(cur_meta["table"])
        shutil.rmtree(cur_meta["location"], ignore_errors=True)
        shutil.rmtree(
            os.path.join(folded_dir, f"gen={cur}"), ignore_errors=True
        )
    return {
        "generation": new_gen,
        "table": new_table,
        "folded_dirs": len(paths),
    }
