"""streaming/dedup.compact_signature_store: the generation-aware
bucketed fold of the streaming signature stores, and its transparent
read-back by the curate daemon (_read_store) across sessions.

The contract under test is the window-sink discipline transplanted onto
catalog tables: newest COMMITTED generation + batch dirs above its id,
commit marker = the sidecar write's _SUCCESS, crash windows covered by
the reader rule instead of a transaction log.
"""

from __future__ import annotations

import os
import shutil

import pytest

from ffi_export_etl_spark.streaming.curate import streaming_curate
from ffi_export_etl_spark.streaming.dedup import (
    _folded_meta,
    _read_store,
    compact_signature_store,
)

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

WAVES = [
    [(1, BASE, "web"), (2, OTHER, "web")],
    [
        (3, BASE.replace("kappa", "KAPPA"), "web"),
        (4, OTHER, "web"),
        (5, THIRD, "web"),
    ],
]
EXPECT_KEPT = {1, 2, 5}


def _session1(spark, tmp_path, tag):
    """Drain two waves, return the sink roots."""
    src = str(tmp_path / f"src_{tag}")
    os.makedirs(src, exist_ok=True)
    for i, wave in enumerate(WAVES):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"wave{i}"))
    roots = {
        "src": src,
        "kept": str(tmp_path / f"kept_{tag}"),
        "exact": str(tmp_path / f"exact_{tag}"),
        "mh": str(tmp_path / f"mh_{tag}"),
    }
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "wave*"),
        kept_path=roots["kept"],
        exact_store_path=roots["exact"],
        minhash_store_path=roots["mh"],
        checkpoint=str(tmp_path / f"ckpt_{tag}"),
        min_words=5,
        jaccard_threshold_pct=50,
    )
    return roots


def test_fold_preserves_store_content_and_continues(spark, tmp_path):
    """Fold both stores after session 1; the reader view is unchanged,
    and a continue-mode session 2 (lost checkpoint) dedups against the
    folded corpus exactly as it did against the plain dirs."""
    roots = _session1(spark, tmp_path, "f1")
    before_exact = sorted(
        tuple(r)
        for r in spark.read.parquet(roots["exact"]).drop("batch_id").collect()
    )
    fold = compact_signature_store(
        spark, roots["exact"], "tsf_exact", num_buckets=4
    )
    fold_mh = compact_signature_store(
        spark, roots["mh"], "tsf_mh", num_buckets=4
    )
    # replay headroom: of dirs {0, 1} only batch 0 folds — the newest
    # committed batch may still be unrecorded in the stream's
    # checkpoint, and folding it would wedge a checkpoint-reuse restart
    # on the fail-fast guard forever (review r8s2)
    assert fold["generation"] == 0 and fold["folded_dirs"] == 1
    assert fold_mh["table"] == "tsf_mh_g0"
    # consumed dirs are gone; the held-back newest dir remains
    assert [
        n for n in sorted(os.listdir(roots["exact"]))
        if n.startswith("batch_id=")
    ] == ["batch_id=1"]
    assert _folded_meta(spark, roots["exact"])["max_batch_id"] == 0
    # the reader view equals the pre-fold store content
    like = spark.table("tsf_exact_g0")
    after = sorted(
        tuple(r) for r in _read_store(spark, roots["exact"], like).collect()
    )
    assert after == before_exact
    # the folded table is bucketed on the family's join key — the
    # co-location the daily-increment join rides at scale (the exact
    # store's key is the content digest; minhash's is (band, bucket))
    assert "tsf_exact_g0" in [t.name for t in spark.catalog.listTables()]
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql("DESCRIBE EXTENDED tsf_exact_g0").collect()
    }
    assert desc.get("Num Buckets") == "4"
    assert desc.get("Bucket Columns") == "[`key`]"
    desc_mh = {
        r["col_name"]: r["data_type"]
        for r in spark.sql("DESCRIBE EXTENDED tsf_mh_g0").collect()
    }
    assert desc_mh.get("Bucket Columns") == "[`band`, `bucket`]"

    # the folded-aware logical count sees table + tail (a plain root
    # count would report only the held-back dir)
    from ffi_export_etl_spark.streaming.dedup import store_row_count

    assert store_row_count(spark, roots["exact"]) == len(before_exact)
    assert store_row_count(
        spark, str(tmp_path / "absent_store")
    ) == 0

    # session 2, checkpoint lost: near-dup of stored doc 5 drops, fresh
    # doc 10 survives — identical to the unfolded continue-mode test
    spark.createDataFrame(
        [
            (9, THIRD.replace("gold", "GOLD"), "web"),
            (10, "ten brand new words never seen in any prior wave ok",
             "web"),
        ],
        "doc_id: long, text: string, source: string",
    ).coalesce(1).write.parquet(os.path.join(roots["src"], "wave9"))
    streaming_curate(
        spark,
        source_dir=os.path.join(roots["src"], "wave*"),
        kept_path=roots["kept"],
        exact_store_path=roots["exact"],
        minhash_store_path=roots["mh"],
        checkpoint=str(tmp_path / "ckpt_f1_s2"),
        on_existing_store="continue",
        min_words=5,
        jaccard_threshold_pct=50,
    )
    rows = spark.read.parquet(roots["kept"]).collect()
    assert {r["id"] for r in rows} == EXPECT_KEPT | {10}
    # session 2's store deltas landed ABOVE the folded generation, and
    # the session base skipped past both the sidecar max and the
    # held-back dir: the lost checkpoint re-delivers all three source
    # files (slots 2-4; re-arrivals dedup away), wave9 among them
    tail_ids = {
        int(n.split("=")[1])
        for n in os.listdir(roots["exact"])
        if n.startswith("batch_id=")
    }
    assert tail_ids == {1, 2, 3, 4}

    # a second fold picks up the tail minus the new headroom dir and
    # advances the generation; the superseded table is dropped
    fold2 = compact_signature_store(
        spark, roots["exact"], "tsf_exact", num_buckets=4
    )
    assert fold2["generation"] == 3 and fold2["folded_dirs"] == 3
    assert "tsf_exact_g0" not in [t.name for t in spark.catalog.listTables()]
    assert "tsf_exact_g3" in [t.name for t in spark.catalog.listTables()]


def test_fold_noop_and_crash_windows(spark, tmp_path):
    """Idempotence + both crash windows: a re-fold with no new dirs is a
    no-op; a resurrected consumed dir (commit-then-clean crash) is
    excluded by the reader rule and removed by the next fold; an orphan
    generation table (crash before the sidecar commit) is GC'd."""
    roots = _session1(spark, tmp_path, "f2")
    # stash a copy of batch 0's dir to simulate the crash window later
    stash = str(tmp_path / "stash_b0")
    shutil.copytree(os.path.join(roots["exact"], "batch_id=0"), stash)
    fold = compact_signature_store(
        spark, roots["exact"], "tsf2_exact", num_buckets=4
    )
    view_cols = spark.table(fold["table"])
    folded_rows = sorted(
        tuple(r)
        for r in _read_store(spark, roots["exact"], view_cols).collect()
    )
    # no-op re-fold: same generation, nothing folded
    again = compact_signature_store(
        spark, roots["exact"], "tsf2_exact", num_buckets=4
    )
    assert again == {
        "generation": fold["generation"],
        "table": fold["table"],
        "folded_dirs": 0,
    }
    # commit-then-clean crash: the consumed dir reappears; the reader
    # must not double-count it
    shutil.copytree(stash, os.path.join(roots["exact"], "batch_id=0"))
    resurrected = sorted(
        tuple(r)
        for r in _read_store(spark, roots["exact"], view_cols).collect()
    )
    assert resurrected == folded_rows
    # ... and the next fold just removes it (still a no-op fold)
    third = compact_signature_store(
        spark, roots["exact"], "tsf2_exact", num_buckets=4
    )
    assert third["folded_dirs"] == 0
    assert not os.path.isdir(os.path.join(roots["exact"], "batch_id=0"))
    # orphan table (fold crashed before its sidecar write): GC'd on the
    # next maintenance run
    spark.createDataFrame([(0, "x")], "id: long, key: string").write.mode(
        "overwrite"
    ).saveAsTable("tsf2_exact_g99")
    compact_signature_store(spark, roots["exact"], "tsf2_exact",
                            num_buckets=4)
    assert "tsf2_exact_g99" not in [
        t.name for t in spark.catalog.listTables()
    ]
    assert fold["table"] in [t.name for t in spark.catalog.listTables()]


def test_replay_below_fold_fails_fast(spark, tmp_path):
    """A fresh-checkpoint re-delivery (replay mode) against a folded
    store needs per-batch slots the fold consumed — it must raise, not
    silently treat the whole prior corpus as already-stored."""
    roots = _session1(spark, tmp_path, "f3")
    compact_signature_store(spark, roots["exact"], "tsf3_exact",
                            num_buckets=4)
    with pytest.raises(Exception, match="folded through batch"):
        streaming_curate(
            spark,
            source_dir=os.path.join(roots["src"], "wave*"),
            kept_path=roots["kept"],
            exact_store_path=roots["exact"],
            minhash_store_path=roots["mh"],
            checkpoint=str(tmp_path / "ckpt_f3_replay"),  # fresh
            min_words=5,
            jaccard_threshold_pct=50,
        )


def test_session_base_covers_sidecar_and_tail(spark, tmp_path):
    """A continue-mode base after a fold must clear BOTH the sidecar max
    and the held-back tail dir; and if the tail dirs are somehow gone
    (dir-scan-blind roots), the sidecar max alone keeps the base
    monotone (a plain dir scan would restart at 0 and new batches would
    land below the generation, invisible forever)."""
    from ffi_export_etl_spark.streaming.dedup import _session_base

    roots = _session1(spark, tmp_path, "f4")
    fold = compact_signature_store(spark, roots["exact"], "tsf4_exact",
                                   num_buckets=4)
    assert fold["generation"] == 0           # headroom held back dir 1
    base = _session_base(
        spark, str(tmp_path / "ckpt_f4_probe"), "exact", roots["exact"]
    )
    assert base == 2                         # max(sidecar 0, dir 1) + 1
    # sidecar-only path: with the tail dirs absent the base still
    # clears the folded generation
    shutil.rmtree(os.path.join(roots["exact"], "batch_id=1"))
    base2 = _session_base(
        spark, str(tmp_path / "ckpt_f4_probe2"), "exact", roots["exact"]
    )
    assert base2 == fold["generation"] + 1
