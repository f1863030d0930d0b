"""Signature stores of the streaming curation daemon
(streaming/curate.py): the persisted (id, band, bucket) index each
micro-batch joins against and then appends to, so stored x stored is
never re-paired and no stored document is re-read or re-sketched — the
shape that keeps dedup cost proportional to the ARRIVAL rate instead of
the corpus size.

Exactly-once contract: Structured Streaming may re-run a micro-batch
after a failure, so each batch overwrites its own ``batch_id=N``
subdirectory (Hive-partition layout, so the roots read back with
batch_id as a partition column) — a replayed batch overwrites itself
instead of appending a duplicate. Within one run, micro-batches execute
serially, so the store a batch joins against contains exactly the
batches before it (``_read_store``'s ``before_batch`` pruning).

This module holds the store's reader (``_read_store``,
``store_row_count``), the ``continue``-mode batch-id base
(``_session_base``) and the between-sessions fold
(``compact_signature_store``) onto the events.py generation protocol.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import _sink_ids, _sink_max_id, compact_window_sink


def _store_generation(store_path: str) -> int:
    """Newest COMMITTED ``compacted=<id>`` generation of a signature
    store (-1 = never folded) — the shared layout probe of the reader
    and the fold.

    A store still carrying the retired ``<store>/_folded/`` layout (a
    bucketed catalog-table fold) raises: its folded rows live under
    ``_folded_data/``, which this reader never sees, so reading on
    would silently drop every folded signature from the dedup index."""
    legacy = os.path.join(store_path, "_folded")
    if os.path.isdir(legacy):
        raise ValueError(
            f"signature store at {store_path!r} has a retired fold "
            f"layout ({legacy!r}); its folded rows are not readable — "
            f"rebuild the store"
        )
    return max(_sink_ids(store_path, "compacted", committed_only=True),
               default=-1)


def _store_frame(
    spark: SparkSession, store_path: str, before_batch: int | None = None
) -> DataFrame | None:
    """Rows of a signature store (None = absent or empty), batch ids
    pruned to ``< before_batch``.

    A folded store (any ``compacted=`` dir) reads the newest committed
    generation plus the committed batch dirs above it — the
    events.read_window_sink rule, so a fold can crash between its
    commit and its cleanup without double-counting, and an uncommitted
    generation never shadows the dirs it was folding. A store with no
    generation is read by a plain root read: existence is probed by
    ATTEMPTING the read, not by local-filesystem calls, so an hdfs://
    or s3a:// store is never silently reported as absent."""
    cur = _store_generation(store_path)
    if cur >= 0 or _sink_ids(store_path, "compacted"):
        if before_batch is not None and before_batch <= cur:
            # a fresh-checkpoint re-delivery ("replay" mode) needs the
            # per-batch_id slots the fold consumed — batch N's
            # legitimate store (batches < N) is no longer separable
            # from the generation. Failing fast beats the silent
            # alternative (batch 0 would see the WHOLE prior corpus as
            # stored and drop every one of its own docs as duplicates).
            raise ValueError(
                f"store at {store_path!r} was folded through batch "
                f"{cur}; a re-delivery below that is impossible — reuse "
                f"the original checkpoint or use on_existing_store="
                f"'continue'"
            )
        paths = (
            [os.path.join(store_path, f"compacted={cur}")] if cur >= 0 else []
        )
        paths += [
            os.path.join(store_path, f"batch_id={i}")
            for i in sorted(
                _sink_ids(store_path, "batch_id", committed_only=True)
            )
            if i > cur and (before_batch is None or i < before_batch)
        ]
        return spark.read.parquet(*paths) if paths else None
    try:
        store = spark.read.parquet(store_path)
    except AnalysisException:  # PATH_NOT_FOUND / empty dir
        return None
    if before_batch is not None and "batch_id" in store.columns:
        store = store.filter(F.col("batch_id") < before_batch)
    return store


def _read_store(
    spark: SparkSession,
    store_path: str,
    like: DataFrame,
    before_batch: int | None = None,
) -> DataFrame:
    """The signature index accumulated by prior micro-batches (empty on
    the first batch, schema borrowed from the current batch's index),
    under either layout (see _store_frame).

    ``before_batch``: micro-batches execute serially, so batch N's
    legitimate store is EXACTLY batches < N — and after a failure,
    Structured Streaming re-runs batch N with its own half-written
    ``batch_id=N`` rows still on disk. Reading those would let the batch
    see ITSELF as already-stored (an exact-dedup replay then drops every
    doc of the batch — a real bug caught by the streaming-curate replay
    test), so the read prunes batch_id >= before_batch (a partition
    filter, no data scan of the pruned dirs)."""
    cols = [c for c in like.columns if c != "batch_id"]
    store = _store_frame(spark, store_path, before_batch)
    if store is None:
        return spark.createDataFrame([], like.select(*cols).schema)
    return store.select(*cols)


def store_row_count(spark: SparkSession, store_path: str) -> int:
    """Logical row count of a signature store under ANY layout: folded
    generation + post-fold batch dirs, plain batch dirs, or an
    absent/never-drained root (0). A plain ``read.parquet(root).count()``
    under-counts a folded store (the consumed dirs live in the
    generation)."""
    store = _store_frame(spark, store_path)
    return 0 if store is None else store.count()


def _session_base(
    spark: SparkSession, checkpoint: str, tag: str, store_path: str
) -> int:
    """Base offset for absolute batch ids in ``continue`` mode: the
    store's max occupied id + 1 (events._sink_max_id: generation-aware,
    so new batches always land above the newest fold), computed ONCE
    per checkpoint and pinned in a sidecar next to the checkpoint dir
    (first-writer-wins via mode=ignore) — so a failure replay within
    the session reuses the same base and its batch_id pruning/overwrite
    slots stay correct."""
    sidecar = checkpoint.rstrip("/") + f"_base_{tag}"
    try:
        return int(spark.read.json(sidecar).first()["base"])
    except AnalysisException:
        pass
    top = _sink_max_id(spark, store_path)
    computed = int(top) + 1 if top is not None else 0
    spark.createDataFrame([(computed,)], "base: long").coalesce(1).write.mode(
        "ignore"
    ).json(sidecar)
    return int(spark.read.json(sidecar).first()["base"])


def compact_signature_store(
    spark: SparkSession, store_path: str, num_files: int
) -> dict:
    """THE between-sessions maintenance for a streaming-grown signature
    store (nightly, like curate.compact_kept for the kept corpus): fold
    the committed ``batch_id=N`` dirs — plus the previous generation —
    into one ``compacted=<max_id>`` generation of ``num_files`` files,
    then remove the consumed dirs. It is the window-sink fold
    (events.compact_window_sink) and its reader rule, so file count
    stays O(num_files + batches-since-last-fold) and the fold is
    transparent to the daemon: ``_read_store`` reads the newest
    committed generation plus the dirs above it, and a ``continue``-mode
    session base clears the generation id.

    The NEWEST committed dir is always left unfolded (one-batch replay
    headroom): the stream's sink writes commit before Spark's
    checkpoint records the batch, so a daemon that crashed in that
    window re-delivers its last batch on restart, and a fold that had
    consumed it would turn every restart into the fail-fast
    re-delivery-below-the-fold error — permanently, with no recovery
    path. Spark can only re-deliver the LAST batch under checkpoint
    reuse, so max-committed-minus-one is exactly the safe bound; the
    held-back dir folds next time, once a newer batch lands.

    Returns {"generation", "folded_dirs"} — generation -1 when there
    was nothing to fold and no prior fold exists. Single-writer, like
    every sink in this family: the owning stream must not be running."""
    cur = _store_generation(store_path)
    committed = _sink_ids(store_path, "batch_id", committed_only=True)
    newest = max(committed, default=-1)
    gen = compact_window_sink(
        spark, store_path, num_files=num_files, before_batch=newest
    )
    return {
        "generation": gen,
        "folded_dirs": sum(1 for i in committed if cur < i < newest),
    }
