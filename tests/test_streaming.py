"""Structured Streaming tests: windowed aggregation parity with batch,
sliding windows, watermark+append, streaming dedup, foreachBatch ->
upsert idempotence.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ffi_export_etl_spark.sinks.files import parquet_upsert
from ffi_export_etl_spark.sources.parquet import table_path
from ffi_export_etl_spark.functions.eventtime import (
    event_micros,
    event_timestamp,
)
from ffi_export_etl_spark.streaming.events import (
    read_events_stream,
    run_to_completion,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


def _events_path():
    return table_path(SF, "events")


def test_tumbling_equals_batch(spark):
    stream = read_events_stream(spark, _events_path())
    result = run_to_completion(windowed_counts(stream, "5 minutes"))
    batch = spark.read.parquet(_events_path())
    batch = batch.withColumn("ts_micro", event_timestamp(batch))
    expected = batch.groupBy(
        F.window("ts_micro", "5 minutes"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    got = {
        (r["window"]["start"], r["event_type"]): r["n_events"]
        for r in result.collect()
    }
    want = {
        (r["window"]["start"], r["event_type"]): r["n_events"]
        for r in expected.collect()
    }
    assert got == want


def test_sliding_window_double_counts(spark):
    stream = read_events_stream(spark, _events_path())
    slid = run_to_completion(
        windowed_counts(stream, "10 minutes", slide="5 minutes")
    )
    tumb = run_to_completion(windowed_counts(stream, "5 minutes"))
    # every event lands in exactly 2 sliding windows
    assert (
        sum(r["n_events"] for r in slid.collect())
        == 2 * sum(r["n_events"] for r in tumb.collect())
    )


def test_watermark_append_subset_of_complete(spark):
    stream = read_events_stream(spark, _events_path())
    agg = windowed_counts(stream, "5 minutes", watermark="10 minutes")
    appended = run_to_completion(agg, output_mode="append")
    complete = run_to_completion(
        windowed_counts(stream, "5 minutes"), output_mode="complete"
    )
    a = {
        (r["window"]["start"], r["event_type"], r["n_events"])
        for r in appended.collect()
    }
    c = {
        (r["window"]["start"], r["event_type"], r["n_events"])
        for r in complete.collect()
    }
    # append emits only watermark-closed windows; whatever it emits must
    # agree with the complete-mode truth
    assert a <= c


def test_streaming_dedup(spark):
    stream = read_events_stream(spark, _events_path())
    deduped = stream.dropDuplicates(["user_id", "event_type"])
    result = run_to_completion(
        deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        output_mode="complete",
    )
    batch = spark.read.parquet(_events_path())
    expected = {
        r["event_type"]: r["n"]
        for r in batch.dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r["event_type"]: r["n"] for r in result.collect()}
    assert got == expected


def test_stream_stream_interval_join(spark):
    """Stream-stream inner join with an event-time interval condition
    (purchases x errors within 60s) — watermarks bound both sides' state.
    On bounded availableNow input the result equals the batch tolerance
    join."""
    from ffi_export_etl_spark.operators.rangejoin import tolerance_join

    # stream-stream joins REQUIRE an equality predicate — supplied by the
    # same bucket+refine trick as the batch tolerance join (equi on a
    # 60s bucket, right side exploded to +-1 buckets, exact refine)
    s = read_events_stream(spark, _events_path())
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("ts_micro").alias("p_ts"))
        .withWatermark("p_ts", "2 minutes")
        .withColumn("_b", F.expr("unix_micros(p_ts) div 60000000"))
    )
    errors = (
        read_events_stream(spark, _events_path())
        .filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"),
                F.col("ts_micro").alias("e_ts"))
        .withWatermark("e_ts", "2 minutes")
        .withColumn(
            "_b",
            F.explode(
                F.array(
                    F.expr("unix_micros(e_ts) div 60000000 - 1"),
                    F.expr("unix_micros(e_ts) div 60000000"),
                    F.expr("unix_micros(e_ts) div 60000000 + 1"),
                )
            ),
        )
    )
    joined = purchases.join(
        errors,
        (purchases._b == errors._b)
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 seconds"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 60 seconds")),
    )
    got_rows = run_to_completion(
        joined.select("purchase_id", "error_id"), output_mode="append"
    )
    got = {(r["purchase_id"], r["error_id"]) for r in got_rows.collect()}

    ev = spark.read.parquet(_events_path())
    ev = ev.withColumn("ts_us", event_micros(ev))
    p = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), F.col("ts_us").alias("pt")
    )
    e = ev.filter("event_type = 'error'").select(
        F.col("event_id").alias("error_id"), F.col("ts_us").alias("et")
    )
    want = {
        (r["purchase_id"], r["error_id"])
        for r in tolerance_join(p, e, "pt", "et", 60 * 10**6).collect()
    }
    assert got == want


def test_foreachbatch_upsert_idempotent(spark, tmp_path):
    target = str(tmp_path / "events_warehouse")

    def run_once():
        stream = read_events_stream(spark, _events_path())

        def sink(batch_df, batch_id):
            parquet_upsert(spark, batch_df.drop("ts_micro"), target, ["event_id"])

        q = (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{run_once.n}"))
            .start()
        )
        q.awaitTermination()
        run_once.n += 1

    run_once.n = 0
    run_once()
    first = spark.read.parquet(target).count()
    run_once()  # fresh checkpoint -> reprocesses the same file
    second = spark.read.parquet(target).count()
    assert first == second  # MERGE semantics: replay adds nothing
    assert first == spark.read.parquet(_events_path()).count()


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Real multi-batch watermark semantics: the watermark advanced by
    batch 0 takes effect one batch later (Spark's documented lag), so a
    row arriving in batch 2 with event time far behind the watermark is
    DROPPED from the aggregation, and append mode emits only
    watermark-closed windows. The availableNow single-batch runs
    elsewhere never exercise cross-batch watermark advancement."""
    import os
    import time as _t

    from pyspark.sql.types import LongType, StructField, StructType

    src = tmp_path / "src"
    src.mkdir()
    schema = StructType(
        [StructField("ts", LongType()), StructField("k", LongType())]
    )
    base = 1_700_000_000_000_000  # epoch micros

    def write_one(name, rows, age_s):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        out = tmp_path / name
        df.write.mode("overwrite").parquet(str(out))
        part = next(p for p in os.listdir(out) if p.endswith(".parquet"))
        dst = src / f"{name}.parquet"
        os.rename(out / part, dst)
        os.utime(dst, (_t.time() - age_s,) * 2)  # file order = batch order
        return dst

    # batch 0: t=0min and t=60min -> watermark becomes 60min - 10min
    write_one("a_early", [(base, 1), (base + 3600 * 10**6, 1)], 3600)
    # batch 1: filler (58min) — lets batch 0's watermark take effect
    write_one("b_mid", [(base + 3480 * 10**6, 1)], 1800)
    # batch 2: t=5min (far behind watermark 50min -> DROPPED) + t=55min
    write_one("c_late", [(base + 300 * 10**6, 1),
                         (base + 3300 * 10**6, 1)], 0)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src))
        .withColumn("ts_micro", F.timestamp_micros(F.col("ts")))
    )
    agg = (
        stream.withWatermark("ts_micro", "10 minutes")
        .groupBy(F.window("ts_micro", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    result = run_to_completion(agg, output_mode="append")
    offsets = sorted(
        int(r["window"][0].timestamp() * 1e6) - base for r in result.collect()
    )
    # only the closed early window appears (base is not 5-min aligned, so
    # its window starts 200s before); the late 5-min row was dropped, and
    # the 55/58/60-min windows are still open at end of input
    assert offsets == [-200 * 10**6]


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Restarting with the SAME checkpoint must resume, not reprocess:
    the second run sees only files added after the first run — the
    exactly-once contract a 100 TB ingest relies on (checkpoint tracks
    the file-source offset log; the idempotent sink covers replays)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "wh")

    def write_file(name, start, n):
        pq.write_table(
            pa.table({
                "event_id": pa.array(range(start, start + n), pa.int64()),
                "v": pa.array([1.0] * n, pa.float64()),
            }),
            str(src / name),
        )

    processed = []  # (run, batch_id, rows) — driver-side, local mode

    def run_once(run):
        from pyspark.sql.types import (
            DoubleType, LongType, StructField, StructType,
        )

        schema = StructType([
            StructField("event_id", LongType()),
            StructField("v", DoubleType()),
        ])
        stream = spark.readStream.schema(schema).parquet(str(src))

        def sink(batch_df, batch_id):
            processed.append((run, batch_id, batch_df.count()))
            parquet_upsert(spark, batch_df, target, ["event_id"])

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_file("a.parquet", 0, 100)
    run_once(1)
    assert sum(n for r, _, n in processed if r == 1) == 100

    write_file("b.parquet", 100, 40)
    run_once(2)
    # resume: ONLY the new file's rows flow through the second run
    assert sum(n for r, _, n in processed if r == 2) == 40
    assert spark.read.parquet(target).count() == 140


def _ssj_write_one(spark, tmp_path, src, name, rows, age_s):
    """Stage one (ts micros, k) parquet file with a pinned mtime so the
    file source's batch order is deterministic (shared by the
    stream-stream join tests)."""
    import os
    import time as _t

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("ts", LongType()), StructField("k", LongType())]
    )
    df = spark.createDataFrame(rows, schema).coalesce(1)
    out = tmp_path / f"_stage_{src.name}_{name}"
    df.write.mode("overwrite").parquet(str(out))
    part = next(p for p in os.listdir(out) if p.endswith(".parquet"))
    dst = src / f"{name}.parquet"
    os.rename(out / part, dst)
    os.utime(dst, (_t.time() - age_s,) * 2)
    return dst


def _ssj_stream(spark, src):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("ts", LongType()), StructField("k", LongType())]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src))
        .withColumn("ts_micro", F.timestamp_micros(F.col("ts")))
    )


@pytest.mark.slow_tail  # r12 suite split
def test_interval_join_streams_state_eviction_across_batches(
    spark, tmp_path
):
    """The 100 TB contract of the watermarked stream-stream join: state
    is bounded by the watermark+bound horizon, so a right row arriving
    AFTER the watermark passed its partner's join window finds nothing
    (the partner's state was evicted and the row itself is late) — while
    a pair inside the horizon still matches across batches."""
    from ffi_export_etl_spark.streaming.events import interval_join_streams

    left_src = tmp_path / "ssj_left"
    right_src = tmp_path / "ssj_right"
    left_src.mkdir()
    right_src.mkdir()
    base = 1_700_000_000_000_000  # epoch micros
    m = 60 * 10**6  # one minute of micros

    # batch 0 — left: click k=1 at t=0, control click k=2 at t=55min,
    # clock k=98 at t=60min; right: clock k=99 at t=60min. The clocks
    # advance BOTH sides' watermarks (global watermark = min of sides)
    # to 60min - 10min = 50min without ever joining anything.
    _ssj_write_one(
        spark, tmp_path, left_src, "a",
        [(base, 1), (base + 55 * m, 2), (base + 60 * m, 98)], 3600,
    )
    _ssj_write_one(spark, tmp_path, right_src, "a", [(base + 60 * m, 99)], 3600)
    # batch 1 — fillers (59min): the batch-0 watermark takes effect one
    # batch later (Spark's documented lag)
    _ssj_write_one(spark, tmp_path, left_src, "b", [(base + 59 * m, 98)], 1800)
    _ssj_write_one(spark, tmp_path, right_src, "b", [(base + 59 * m, 99)], 1800)
    # batch 2 — right: purchase k=1 at t=1min (behind the 50min
    # watermark: its partner's window closed at 5min, state evicted ->
    # NO match) + control purchase k=2 at t=57min (inside the horizon:
    # the 55min click is evictable only once the watermark passes
    # 55+5=60min, still buffered -> match emits)
    _ssj_write_one(
        spark, tmp_path, right_src, "c",
        [(base + 1 * m, 1), (base + 57 * m, 2)], 0,
    )

    joined = interval_join_streams(
        _ssj_stream(spark, left_src),
        _ssj_stream(spark, right_src),
        key="k",
        bound="5 minutes",
        watermark="10 minutes",
    ).select(
        F.col("l.k").alias("k"),
        F.col("l.ts").alias("l_ts"),
        F.col("r.ts").alias("r_ts"),
    )
    from ffi_export_etl_spark.streaming.events import run_to_completion

    got = {
        (r["k"], (r["l_ts"] - base) // m, (r["r_ts"] - base) // m)
        for r in run_to_completion(joined, output_mode="append").collect()
    }
    assert got == {(2, 55, 57)}, got


@pytest.mark.slow_tail  # r12 suite split
def test_interval_join_checkpoint_resume_exactly_once(spark, tmp_path):
    """Exactly-once both directions for the stream-stream join: a resume
    from the SAME checkpoint processes only new files, restores the join
    STATE (a new purchase matches a click ingested in the previous run),
    and never re-emits an already-emitted pair."""
    import os

    from ffi_export_etl_spark.streaming.events import interval_join_streams

    left_src = tmp_path / "cr_left"
    right_src = tmp_path / "cr_right"
    left_src.mkdir()
    right_src.mkdir()
    base = 1_700_000_000_000_000
    m = 60 * 10**6
    ckpt = str(tmp_path / "cr_ckpt")
    sink_dir = str(tmp_path / "cr_sink")

    def run_once():
        joined = interval_join_streams(
            _ssj_stream(spark, left_src),
            _ssj_stream(spark, right_src),
            key="k",
            bound="5 minutes",
            watermark="30 minutes",
        ).select(
            F.col("l.k").alias("k"),
            F.col("l.ts").alias("l_ts"),
            F.col("r.ts").alias("r_ts"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _ssj_write_one(
        spark, tmp_path, left_src, "a",
        [(base + 10 * m, 1), (base + 20 * m, 2)], 3600,
    )
    _ssj_write_one(
        spark, tmp_path, right_src, "a", [(base + 12 * m, 1)], 3600
    )
    run_once()
    first = {
        (r["k"], (r["l_ts"] - base) // m, (r["r_ts"] - base) // m)
        for r in spark.read.parquet(sink_dir).collect()
    }
    assert first == {(1, 10, 12)}, first

    # second wave: k=2's purchase matches a click STORED BY RUN 1 (state
    # restored from the checkpoint); k=3 is entirely new
    _ssj_write_one(
        spark, tmp_path, left_src, "b", [(base + 30 * m, 3)], 0
    )
    _ssj_write_one(
        spark, tmp_path, right_src, "b",
        [(base + 23 * m, 2), (base + 33 * m, 3)], 0,
    )
    run_once()
    rows = spark.read.parquet(sink_dir).collect()
    got = sorted(
        (r["k"], (r["l_ts"] - base) // m, (r["r_ts"] - base) // m)
        for r in rows
    )
    # each pair exactly once: run 2 added the two new matches and did
    # NOT re-emit run 1's pair
    assert got == [(1, 10, 12), (2, 20, 23), (3, 30, 33)], got
    assert len(rows) == len(set(got))


@pytest.mark.slow_tail  # r12 suite split
def test_interval_join_left_outer_null_extension(spark, tmp_path):
    """leftOuter stream-stream join: an unmatched left row emits its
    NULL extension only once the watermark CLOSES its join window (one
    micro-batch late, the advance-at-batch-boundary rule); matched rows
    emit normally and never also emit a NULL row."""
    from ffi_export_etl_spark.streaming.events import (
        interval_join_streams,
        run_to_completion,
    )

    left_src = tmp_path / "lo_left"
    right_src = tmp_path / "lo_right"
    left_src.mkdir()
    right_src.mkdir()
    base = 1_700_000_000_000_000
    m = 60 * 10**6

    # batch 0 — left: matched click k=1 at t=0, unmatched click k=2 at
    # t=2min, open click k=3 at t=55min (window not closed by the final
    # watermark -> must NOT null-emit); clock k=98 at 60min.
    # right: match for k=1 at t=3min, clock k=99 at 60min.
    _ssj_write_one(
        spark, tmp_path, left_src, "a",
        [(base, 1), (base + 2 * m, 2), (base + 55 * m, 3),
         (base + 60 * m, 98)], 3600,
    )
    _ssj_write_one(
        spark, tmp_path, right_src, "a",
        [(base + 3 * m, 1), (base + 60 * m, 99)], 3600,
    )
    # batch 1 — fillers so the batch-0 watermark (60 - 10 = 50min)
    # takes effect and closes k=1/k=2's windows (0..5min, 2..7min)
    _ssj_write_one(spark, tmp_path, left_src, "b", [(base + 59 * m, 98)], 1800)
    _ssj_write_one(spark, tmp_path, right_src, "b", [(base + 59 * m, 99)], 1800)

    joined = interval_join_streams(
        _ssj_stream(spark, left_src),
        _ssj_stream(spark, right_src),
        key="k",
        bound="5 minutes",
        watermark="10 minutes",
        how="leftOuter",
    ).select(
        F.col("l.k").alias("k"),
        F.col("l.ts").alias("l_ts"),
        F.col("r.ts").alias("r_ts"),
    )
    rows = run_to_completion(joined, output_mode="append").collect()
    got = {
        (
            r["k"],
            (r["l_ts"] - base) // m,
            None if r["r_ts"] is None else (r["r_ts"] - base) // m,
        )
        for r in rows
        if r["k"] not in (98, 99)  # clocks null-emit once closed
    }
    # k=1 matched (no extra NULL row); k=2's closed window null-emits;
    # k=3's window is still open at end of input -> withheld
    assert got == {(1, 0, 3), (2, 2, None)}, got
    assert len([r for r in rows if r["k"] == 1]) == 1


@pytest.mark.slow_tail  # r12 suite split
def test_interval_join_span_watermark_is_layout_independent(
    spark, tmp_path
):
    """ADVICE r8: the gate arm's oracle is the unrestricted batch
    interval join, so stream_joined_counts derives a watermark covering
    the dataset's full event-time span instead of the 30-minute
    production default. Pin the rationale here: under one-file-per-
    micro-batch pacing with MORE cross-file event-time disorder than
    the watermark, the narrow watermark silently DROPS a real pair
    (the result depends on the source's physical file layout), while a
    span-covering watermark reproduces the batch interval join exactly
    on the same disordered layout."""
    from ffi_export_etl_spark.streaming.events import (
        interval_join_streams,
        run_to_completion,
    )

    base = 1_700_000_000_000_000
    m = 60 * 10**6

    def build(tag):
        left_src = tmp_path / f"sw_left_{tag}"
        right_src = tmp_path / f"sw_right_{tag}"
        left_src.mkdir()
        right_src.mkdir()
        # batch 0 — the click at t=0 lands in the same file as a clock
        # at t=200min: the watermark advances to 200min - delay with the
        # click buffered in join state
        _ssj_write_one(
            spark, tmp_path, left_src, "a",
            [(base, 1), (base + 200 * m, 98)], 3600,
        )
        _ssj_write_one(
            spark, tmp_path, right_src, "a", [(base + 200 * m, 99)], 3600
        )
        # batch 1 — fillers: the batch-0 watermark takes effect one
        # micro-batch later (Spark's documented lag)
        _ssj_write_one(
            spark, tmp_path, left_src, "b", [(base + 199 * m, 98)], 1800
        )
        _ssj_write_one(
            spark, tmp_path, right_src, "b", [(base + 199 * m, 99)], 1800
        )
        # batch 2 — the purchase arrives in a LATER FILE, 199 minutes
        # event-time disordered. Under a 30-minute watermark the click's
        # state was evicted (0 + 2h bound < 170min watermark) -> the
        # pair is silently lost; under a span-covering watermark the
        # click is still buffered -> the pair matches the batch join.
        _ssj_write_one(
            spark, tmp_path, right_src, "c", [(base + 1 * m, 1)], 0
        )
        return left_src, right_src

    def drain(left_src, right_src, watermark):
        joined = interval_join_streams(
            _ssj_stream(spark, left_src),
            _ssj_stream(spark, right_src),
            key="k",
            bound="2 hours",
            watermark=watermark,
        ).select(
            F.col("l.k").alias("k"),
            F.col("l.ts").alias("l_ts"),
            F.col("r.ts").alias("r_ts"),
        )
        return {
            (r["k"], (r["l_ts"] - base) // m, (r["r_ts"] - base) // m)
            for r in run_to_completion(joined, output_mode="append").collect()
        }

    # the hazard: the production watermark loses the disordered pair
    l1, r1 = build("narrow")
    assert drain(l1, r1, "30 minutes") == set()
    # the gate fix: a span-covering watermark equals the batch join
    l2, r2 = build("span")
    assert drain(l2, r2, "260 minutes") == {(1, 0, 1)}
