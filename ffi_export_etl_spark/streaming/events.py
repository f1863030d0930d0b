"""Structured Streaming over the events table (SURVEY.md section 2.8
extension surface: the reference is batch-only; its processed-file
tracking xml_to_rdb.py:51-56 and append-only audit log parser/xml.py:
681-695 are natively covered by the file source + sinks here).

Patterns provided:
- file-source reader with explicit schema (streams never infer),
- tumbling/sliding window aggregation with optional watermark,
- run-to-completion helper (availableNow + memory sink) that turns a
  bounded stream into a DataFrame — used for oracle-checked streaming
  queries and tests,
- the generation layout of the curation daemon's roots (kept corpus,
  quarantine, signature stores): ``batch_id=N`` dirs folded into
  ``compacted=<id>`` generations, listed once (``_live_dirs``) for the
  one reader (``read_generations``) and the one fold
  (``compact_generations``).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.errors import AnalysisException, SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.eventtime import event_timestamp


def events_stream_schema(spark: SparkSession, path: str) -> StructType:
    """Explicit schema for the events file stream (streams never infer).

    Probed from the parquet footer by a one-off batch read so the stream
    matches whichever physical ts encoding this data generation uses
    (epoch-nanos BIGINT under nanosAsLong, or TIMESTAMP_NTZ for
    micro-precision files). Footer-only — no data is scanned.
    """
    return spark.read.parquet(path).schema


def stage_as_dir(path: str) -> str:
    """The file stream source requires a *directory*; stage a single file
    behind a temp dir of symlinks (no data copy)."""
    if os.path.isdir(path):
        return path
    d = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
    return d


def stage_with_late_filler(path: str) -> str:
    """Stage a single parquet file as a TWO-file stream-source dir: the
    real file plus a tiny filler file whose only row is maximally late
    (ts = epoch 0), mtime-ordered strictly after the real file.

    Why: Spark advances the event-time watermark at micro-batch
    boundaries — one batch late. A bounded single-file availableNow
    stream therefore terminates with the watermark still at its initial
    value and an append-mode windowed aggregation emits NOTHING. With
    maxFilesPerTrigger=1 the filler forms a second micro-batch that runs
    under the watermark computed from the real data, flushing every
    closed window; the filler row itself falls far below that watermark
    and is discarded by the late-data filter, so it never appears in any
    aggregate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="stream_src_wm_")
    real = os.path.abspath(path)
    if os.path.isdir(real):
        # sorted => the probed file is deterministic; all part files of
        # one table share a schema, so any one is representative
        inner = sorted(f for f in os.listdir(real) if f.endswith(".parquet"))
        if not inner:
            raise ValueError(
                f"no .parquet files under {real!r} — cannot probe the "
                "events ts physical type"
            )
        ts_type = pq.read_schema(os.path.join(real, inner[0])).field("ts").type
    else:
        ts_type = pq.read_schema(real).field("ts").type
    os.symlink(real, os.path.join(d, os.path.basename(path)))
    filler = os.path.join(d, "zz_late_filler.parquet")
    # filler ts matches the real file's physical type; 0 == epoch either way
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": pa.array([0]).cast(ts_type),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["__filler__"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array([None], pa.string()),
            }
        ),
        filler,
    )
    # the file source orders batches by modification time; pin the filler
    # into the future so it is always the LAST micro-batch
    future = os.stat(os.path.abspath(path)).st_mtime + 3600
    os.utime(filler, (future, future))
    return d


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over parquet events (one file per micro-batch
    by default; maxFilesPerTrigger tunes ingest pacing). Adds ``ts_micro``
    (TimestampType, exact epoch micros) whatever the physical ``ts``."""
    stream = (
        spark.readStream.schema(events_stream_schema(spark, path))
        .format("parquet")
        .load(stage_as_dir(path))
    )
    return stream.withColumn("ts_micro", event_timestamp(stream))


def windowed_counts(
    stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding) window counts + value sums per event_type."""
    src = stream.withWatermark("ts_micro", watermark) if watermark else stream
    win = (
        F.window("ts_micro", window, slide)
        if slide
        else F.window("ts_micro", window)
    )
    return src.groupBy(win, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("value_sum"),
    )


def _sink_ids(
    out_dir: str, prefix: str, committed_only: bool = False
) -> list[int]:
    """Ids of ``prefix=<id>`` subdirectories. ``committed_only`` keeps
    only dirs carrying the _SUCCESS marker Spark writes on job
    completion — a generation dir whose write crashed midway must never
    shadow the inputs it was folding (it would otherwise become the
    "current" generation and the real rows in the consumed dirs would
    be skipped on read and deleted on the next compaction)."""
    if not os.path.isdir(out_dir):
        return []
    return [
        int(name.split("=", 1)[1])
        for name in os.listdir(out_dir)
        if name.startswith(prefix + "=")
        and (
            not committed_only
            or os.path.exists(os.path.join(out_dir, name, "_SUCCESS"))
        )
    ]


def _sink_max_id(spark: SparkSession, root: str) -> int | None:
    """Max occupied absolute id of a ``batch_id=``/``compacted=`` sink
    root (the kept corpus, the signature stores), or None when empty.

    A plain parquet read of a compacted root either throws (mixed
    ``compacted=``/``batch_id=`` partition dir names) or yields no
    batch_id column, so a continue-mode session base computed that way
    silently restarts at 0 — new batches then land AT OR BELOW the
    current generation id, where the reader skips them and the next
    compaction DELETES them. This probe combines (a) the local dir
    listing (committed generations + every batch dir, even uncommitted
    ones — a crashed dir's id stays burned rather than reused) with
    (b) the plain batch_id scan for roots the listing can't see
    (hdfs://, s3a:// — never compacted, since the generation machinery
    is local-filesystem)."""
    ids = list(_sink_ids(root, "compacted", committed_only=True))
    ids += list(_sink_ids(root, "batch_id"))
    try:
        # the fallback classes are scoped to the READ — absent root
        # (AnalysisException) and mixed compacted=/batch_id= partition
        # names, which Spark 4 raises eagerly at partition discovery as
        # SparkRuntimeException CONFLICTING_PARTITION_COLUMN_NAMES (the
        # root shape nightly compaction plus a fresh drain produces;
        # caught by the daily-ops lifecycle test). ONLY that condition
        # is swallowed: on a dir-listing-blind root (hdfs://, s3a://)
        # the scan is the ONLY id source, so any other runtime read
        # failure must surface — treating it as "no store" would
        # restart the base at 0 and overwrite existing batch dirs. The
        # max SCAN below stays OUTSIDE the guard for the same reason.
        store = spark.read.parquet(root)
    except AnalysisException:
        store = None
    except SparkRuntimeException as e:
        if e.getCondition() != "CONFLICTING_PARTITION_COLUMN_NAMES":
            raise
        store = None
    if store is not None and "batch_id" in store.columns:
        top = store.select(F.max("batch_id")).first()[0]
        if top is not None:
            ids.append(int(top))
    return max(ids) if ids else None


def _live_dirs(
    root: str, before_batch: int | None = None
) -> tuple[int, list[str]]:
    """The generation layout's one listing: ``(cur, paths)`` where
    ``cur`` is the newest COMMITTED ``compacted=<id>`` generation (-1 =
    never folded) and ``paths`` are the live dirs — that generation,
    then the committed ``batch_id`` dirs above it (and below
    ``before_batch``), in id order.

    The rule is what makes the fold safe with no transaction log:
    batch dirs at or below the generation are replay or crash leftovers
    already folded in, and a dir without Spark's ``_SUCCESS`` marker
    (a write that died midway) is never live — an uncommitted
    generation cannot shadow the dirs it was folding, and an
    uncommitted batch waits for the stream's replay to overwrite it
    (folding its partial rows would freeze them: the replayed dir would
    land at or below the new generation and be skipped forever).

    A root still carrying the retired ``_folded/`` layout (a bucketed
    catalog-table fold) raises: its folded rows live under
    ``_folded_data/``, which this listing never sees, so reading on
    would silently drop them."""
    legacy = os.path.join(root, "_folded")
    if os.path.isdir(legacy):
        raise ValueError(
            f"store at {root!r} has a retired fold layout ({legacy!r}); "
            f"its folded rows are not readable — rebuild the store"
        )
    cur = max(_sink_ids(root, "compacted", committed_only=True), default=-1)
    paths = [os.path.join(root, f"compacted={cur}")] if cur >= 0 else []
    paths += [
        os.path.join(root, f"batch_id={i}")
        for i in sorted(_sink_ids(root, "batch_id", committed_only=True))
        if i > cur and (before_batch is None or i < before_batch)
    ]
    return cur, paths


def read_generations(
    spark: SparkSession, root: str, before_batch: int | None = None
) -> DataFrame | None:
    """Rows of a generation root — the kept corpus, the quarantine or a
    signature store — or None when it is absent or empty; batch ids
    pruned to ``< before_batch``.

    A local root is read through ``_live_dirs``, folded or not, so
    every reader and the fold agree on its contents. A root that is
    not a local directory (hdfs://, s3a:// — never folded, since the
    fold is local-filesystem) is read whole, existence probed by
    ATTEMPTING the read so such a store is never reported as absent.

    Concurrency caveat: the listing resolves eagerly but the files read
    lazily, so a fold running before the consuming action can delete
    listed dirs (the read then fails rather than losing rows).
    Single-writer is assumed throughout (one stream owns the root)."""
    if not os.path.isdir(root):
        try:
            df = spark.read.parquet(root)
        except AnalysisException:  # PATH_NOT_FOUND
            return None
        if before_batch is not None and "batch_id" in df.columns:
            df = df.filter(F.col("batch_id") < before_batch)
        return df
    cur, paths = _live_dirs(root, before_batch)
    if before_batch is not None and before_batch <= cur:
        # a fresh-checkpoint re-delivery ("replay" mode) needs the
        # per-batch_id slots the fold consumed — batch N's legitimate
        # store (batches < N) is no longer separable from the
        # generation. Failing fast beats the silent alternative (batch
        # 0 would see the WHOLE prior corpus as stored and drop every
        # one of its own docs as duplicates).
        raise ValueError(
            f"store at {root!r} was folded through batch {cur}; a "
            f"re-delivery below that is impossible — reuse the original "
            f"checkpoint or use on_existing_store='continue'"
        )
    return spark.read.parquet(*paths) if paths else None


def compact_generations(
    spark: SparkSession,
    root: str,
    num_files: int = 1,
    before_batch: int | None = None,
) -> int:
    """Fold a generation root's live dirs (``_live_dirs``: the current
    generation plus the committed batch dirs above it, below
    ``before_batch``) into one ``compacted=<max_id>`` generation of
    ``num_files`` parquet files, then remove the consumed inputs.
    Returns the current generation id (-1 = nothing folded yet, which
    includes an absent root).

    Crash-tolerant by the listing rule alone: the new generation is
    live only once its write commits, so the inputs are redundant from
    that moment and their removal can stop anywhere; leftovers are
    skipped by every reader and removed here on the next run, together
    with uncommitted or superseded generations. Idempotent; the one
    fold of the kept corpus, the quarantine (in-stream cadence and the
    curate-maintain CLI) and the signature stores
    (dedup.compact_signature_store). Single-writer: the owning stream
    must not be running."""
    import shutil

    cur, paths = _live_dirs(root, before_batch)
    # uncommitted and superseded generations, and batch dirs the
    # current generation already holds, are never live: remove them
    for g in _sink_ids(root, "compacted"):
        if g != cur:
            shutil.rmtree(
                os.path.join(root, f"compacted={g}"), ignore_errors=True
            )
    for i in _sink_ids(root, "batch_id"):
        if i <= cur:
            shutil.rmtree(
                os.path.join(root, f"batch_id={i}"), ignore_errors=True
            )
    if len(paths) == (1 if cur >= 0 else 0):
        return cur  # no committed batch dir above the generation
    new_gen = int(paths[-1].rsplit("=", 1)[1])
    spark.read.parquet(*paths).coalesce(num_files).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, f"compacted={new_gen}"))
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
    return new_gen


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    bound: str = "30 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join — enrichment-at-ingest
    (e.g. clicks joined to the purchases that follow them within
    ``bound``). Both inputs are streams carrying ``ts_micro``
    (read_events_stream output shape); the join keeps (l, r) pairs with
    equal ``key`` and ``l.ts_micro <= r.ts_micro <= l.ts_micro +
    bound``. Columns come back qualified (``l.*`` / ``r.*``).

    State contract (what makes this work on an unbounded 100 TB/day
    stream): BOTH sides carry an event-time watermark and the join
    condition bounds each side's usable time range relative to the
    other, so Spark derives per-side state-eviction thresholds — a
    buffered left row is dropped once the right watermark passes
    ``l.ts_micro + bound``, and vice versa; state is O(rows inside the
    watermark+bound horizon), never the stream prefix. Without the time
    bound the state would be unbounded (Spark would accept the query
    and grow until OOM — the silent failure mode this helper exists to
    prevent). Inner matches emit as soon as both rows have arrived;
    outer-side NULL extensions (how='leftOuter'/'rightOuter') emit only
    once the watermark CLOSES the row's join window, one micro-batch
    late — the same advance-at-batch-boundary rule the sliding-window
    arm pins (see stage_with_late_filler)."""
    l = left.withWatermark("ts_micro", watermark).alias("l")
    r = right.withWatermark("ts_micro", watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts_micro") >= F.col("l.ts_micro"))
        & (
            F.col("r.ts_micro")
            <= F.col("l.ts_micro") + F.expr(f"INTERVAL {bound}")
        )
    )
    return l.join(r, cond, how)


def run_to_completion(
    aggregated: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drain a bounded stream (availableNow) into a memory sink and return
    the final result as a batch DataFrame. Complete mode emits every
    window regardless of watermark — deterministic on bounded input."""
    name = f"stream_result_{uuid.uuid4().hex[:12]}"
    q = (
        aggregated.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = aggregated.sparkSession
    return spark.table(name)
