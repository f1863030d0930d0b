"""Signature stores of the streaming curation daemon
(streaming/curate.py): the persisted (id, band, bucket) index each
micro-batch joins against and then appends to, so stored x stored is
never re-paired and no stored document is re-read or re-sketched — the
shape that keeps dedup cost proportional to the ARRIVAL rate instead of
the corpus size.

Exactly-once contract: Structured Streaming may re-run a micro-batch
after a failure, so each batch overwrites its own ``batch_id=N``
subdirectory — a replayed batch overwrites itself instead of appending
a duplicate. Within one run, micro-batches execute serially, so the
store a batch joins against contains exactly the batches before it
(``_read_store``'s ``before_batch`` pruning). A store is a root of the
events.py generation layout, like the kept corpus and the quarantine:
one listing, one reader (``read_generations``), one fold.

This module holds the store's reader (``_read_store``), the row count
of every generation root (``store_row_count``), the ``continue``-mode
batch-id base (``_session_base``) and the signature stores' fold policy
(``compact_signature_store``)."""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .events import (
    _sink_ids,
    _sink_max_id,
    compact_generations,
    read_generations,
)


def _read_store(
    spark: SparkSession,
    store_path: str,
    like: DataFrame,
    before_batch: int | None = None,
) -> DataFrame:
    """The signature index accumulated by prior micro-batches (empty on
    the first batch, schema borrowed from the current batch's index),
    folded or not (events.read_generations).

    ``before_batch``: micro-batches execute serially, so batch N's
    legitimate store is EXACTLY batches < N — and after a failure,
    Structured Streaming re-runs batch N with its own half-written
    ``batch_id=N`` rows still on disk. Reading those would let the batch
    see ITSELF as already-stored (an exact-dedup replay then drops every
    doc of the batch — a real bug caught by the streaming-curate replay
    test), so the read prunes batch_id >= before_batch (the pruned dirs
    are never listed)."""
    cols = [c for c in like.columns if c != "batch_id"]
    store = read_generations(spark, store_path, before_batch)
    if store is None:
        return spark.createDataFrame([], like.select(*cols).schema)
    return store.select(*cols)


def store_row_count(spark: SparkSession, store_path: str) -> int:
    """Logical row count of any generation root — the kept corpus, the
    quarantine or a signature store, folded or not; 0 for an absent or
    never-drained root. A plain ``read.parquet(root).count()`` fails on
    a folded root (mixed ``compacted=``/``batch_id=`` dir names) and
    counts uncommitted batch dirs on an unfolded one."""
    store = read_generations(spark, store_path)
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
) -> int:
    """THE between-sessions maintenance for a streaming-grown signature
    store: events.compact_generations with one policy on top — the
    NEWEST committed batch dir is always left unfolded (one-batch replay
    headroom). The stream's sink writes commit before Spark's
    checkpoint records the batch, so a daemon that crashed in that
    window re-delivers its last batch on restart, and a fold that had
    consumed it would turn every restart into the fail-fast
    re-delivery-below-the-fold error — permanently, with no recovery
    path. Spark can only re-deliver the LAST batch under checkpoint
    reuse, so max-committed-minus-one is exactly the safe bound; the
    held-back dir folds next time, once a newer batch lands.

    Returns the generation id (-1 = nothing folded yet). Single-writer,
    like every root of this layout: the owning stream must not be
    running."""
    newest = max(
        _sink_ids(store_path, "batch_id", committed_only=True), default=-1
    )
    return compact_generations(
        spark, store_path, num_files=num_files, before_batch=newest
    )
