"""streaming/dedup.compact_signature_store: the generation fold of the
streaming signature stores, and its transparent read-back by the curate
daemon (_read_store) across sessions.

The contract under test is the generation layout
(streaming/events.py): newest COMMITTED ``compacted=<id>`` generation +
batch dirs above its id, commit marker = the generation write's
_SUCCESS. Its crash windows are in the fault matrix
(test_fold_faults.py).
"""

from __future__ import annotations

import os
import re
import shutil

import pytest

from ffi_export_etl_spark.streaming.curate import streaming_curate
from ffi_export_etl_spark.streaming.dedup import (
    _read_store,
    compact_signature_store,
    store_row_count,
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


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _warehouse_files(spark):
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return {
        os.path.join(d, f) for d, _, files in os.walk(wh) for f in files
    }


def test_fold_preserves_store_content_and_continues(spark, tmp_path):
    """Fold the stores after session 1; the reader view is unchanged,
    nothing touches the catalog or the session warehouse, and a
    continue-mode session 2 (lost checkpoint) dedups against the folded
    corpus exactly as it did against the plain dirs."""
    roots = _session1(spark, tmp_path, "f1")
    stores = [roots["exact"], roots["mh"]]
    before = {
        root: _rows(spark.read.parquet(root).drop("batch_id"))
        for root in stores
    }
    tables = spark.catalog.listTables()
    warehouse = _warehouse_files(spark)
    for root in stores:
        # replay headroom: of dirs {0, 1} only batch 0 folds — the newest
        # committed batch may still be unrecorded in the stream's
        # checkpoint, and folding it would wedge a checkpoint-reuse
        # restart on the fail-fast guard forever
        assert compact_signature_store(spark, root, 1) == 0
        # consumed dirs are gone; the held-back newest dir remains
        assert sorted(os.listdir(root)) == ["batch_id=1", "compacted=0"]
        # the reader view equals the pre-fold store content
        like = spark.read.parquet(os.path.join(root, "compacted=0"))
        assert _rows(_read_store(spark, root, like)) == before[root]
        # the folded-aware logical count sees generation + tail (a plain
        # root count would report only the held-back dir)
        assert store_row_count(spark, root) == len(before[root])
    assert spark.catalog.listTables() == tables
    assert _warehouse_files(spark) == warehouse
    assert store_row_count(spark, str(tmp_path / "absent_store")) == 0

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
    # the session base skipped past both the generation and the
    # held-back dir: the lost checkpoint re-delivers all three source
    # files (slots 2-4; re-arrivals dedup away), wave9 among them
    tail_ids = {
        int(n.split("=")[1])
        for n in os.listdir(roots["exact"])
        if n.startswith("batch_id=")
    }
    assert tail_ids == {1, 2, 3, 4}

    # a second fold picks up the tail minus the new headroom dir and
    # replaces the generation
    assert compact_signature_store(spark, roots["exact"], 1) == 3
    assert sorted(os.listdir(roots["exact"])) == [
        "batch_id=4", "compacted=3"
    ]


def test_retired_fold_layout_raises(spark, tmp_path):
    """A store still carrying the bucketed-table layout (``_folded/``)
    must fail loudly, never read as if its folded rows did not exist."""
    root = str(tmp_path / "old_store")
    store = spark.createDataFrame([(1, "k1")], "id: long, key: string")
    store.write.parquet(os.path.join(root, "batch_id=5"))
    os.makedirs(os.path.join(root, "_folded", "gen=4"))
    legacy = os.path.join(root, "_folded")
    for probe in (
        lambda: _read_store(spark, root, store),
        lambda: store_row_count(spark, root),
        lambda: compact_signature_store(spark, root, 1),
    ):
        with pytest.raises(ValueError, match=re.escape(legacy)):
            probe()


def test_replay_below_fold_fails_fast(spark, tmp_path):
    """A fresh-checkpoint re-delivery (replay mode) against a folded
    store needs per-batch slots the fold consumed — it must raise, not
    silently treat the whole prior corpus as already-stored."""
    roots = _session1(spark, tmp_path, "f3")
    compact_signature_store(spark, roots["exact"], 1)
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
    """A continue-mode base after a fold must clear BOTH the generation
    id and the held-back tail dir; and if the tail dirs are somehow
    gone, the generation id alone keeps the base monotone (a plain dir
    scan would restart at 0 and new batches would land below the
    generation, invisible forever)."""
    from ffi_export_etl_spark.streaming.dedup import _session_base

    roots = _session1(spark, tmp_path, "f4")
    gen = compact_signature_store(spark, roots["exact"], 1)
    assert gen == 0                          # headroom held back dir 1
    base = _session_base(
        spark, str(tmp_path / "ckpt_f4_probe"), "exact", roots["exact"]
    )
    assert base == 2                         # max(generation 0, dir 1) + 1
    # generation-only path: with the tail dirs absent the base still
    # clears the folded generation
    shutil.rmtree(os.path.join(roots["exact"], "batch_id=1"))
    base2 = _session_base(
        spark, str(tmp_path / "ckpt_f4_probe2"), "exact", roots["exact"]
    )
    assert base2 == gen + 1
