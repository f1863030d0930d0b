"""The operational lifecycle, end-to-end: three 'days' of a curate
daemon — drains with checkpoint reuse, nightly maintenance (kept-corpus
compaction + signature-store folds), a quality-gate quarantine with a
later rule-fix replay, funnel/profile monitoring, and finally training
shards with an integrity report.

Every piece is pinned on its own elsewhere; this test pins the
COMPOSITION a real deployment runs week over week — in particular that
drains keep deduping correctly against stores that have been folded to
compacted generations mid-lifecycle under the SAME checkpoint (the
non-continue path the replay-headroom rule exists for).
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from ffi_export_etl_spark.operators.validate import CheckSuite
from ffi_export_etl_spark.streaming.curate import (
    funnel_drop_rates,
    replay_quarantine,
    streaming_curate,
)
from ffi_export_etl_spark.streaming.events import (
    compact_generations,
    read_generations,
)
from ffi_export_etl_spark.streaming.dedup import compact_signature_store

# r12 suite split: end-to-end/property sweep module — runs with SPARK_GRAFT_SLOW_TESTS=1
pytestmark = pytest.mark.slow_tail

TEXT_A = " ".join(f"a{i}" for i in range(30))
TEXT_B = " ".join(f"b{i}" for i in range(30))
TEXT_C = " ".join(f"c{i}" for i in range(30))
TEXT_D = " ".join(f"d{i}" for i in range(30))
TEXT_E = " ".join(f"e{i}" for i in range(30))
TEXT_F = " ".join(f"f{i}" for i in range(30))


def _ids(df):
    return {r["id"] for r in df.collect()}


def test_daily_ops_lifecycle(spark, tmp_path):
    # built inside the test: in_range constructs Columns, which needs
    # the active SparkContext the session fixture provides
    broken_suite = (
        CheckSuite().not_null("doc_id").in_range("doc_id", 0, 100)
    )
    fixed_suite = (
        CheckSuite().not_null("doc_id").in_range("doc_id", 0, 10_000)
    )
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    roots = dict(
        kept=str(tmp_path / "kept"),
        exact=str(tmp_path / "exact"),
        mh=str(tmp_path / "mh"),
        ckpt=str(tmp_path / "ckpt"),
        dlq=str(tmp_path / "dlq"),
        funnel=str(tmp_path / "funnel"),
        profile=str(tmp_path / "profile"),
    )

    def _drop(name, rows):
        spark.createDataFrame(
            rows, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, name))

    def _drain(suite):
        streaming_curate(
            spark,
            source_dir=os.path.join(src, "w*"),
            kept_path=roots["kept"],
            exact_store_path=roots["exact"],
            minhash_store_path=roots["mh"],
            checkpoint=roots["ckpt"],     # SAME checkpoint all week
            min_words=5,
            jaccard_threshold_pct=50,
            input_suite=suite,
            quarantine_path=roots["dlq"],
            funnel_store_path=roots["funnel"],
            profile_store_path=roots["profile"],
        )

    def _maintain():
        compact_generations(spark, roots["kept"], num_files=1)
        compact_signature_store(spark, roots["exact"], 1)
        compact_signature_store(spark, roots["mh"], 1)

    # ---- day 1: two waves; cross-wave exact dup dedups ----
    _drop("w0", [(1, TEXT_A, "web"), (2, TEXT_B, "web")])
    _drop("w1", [(3, TEXT_A, "web"), (4, TEXT_C, "web")])
    _drain(broken_suite)
    assert _ids(read_generations(spark, roots["kept"])) \
        == {1, 2, 4}
    _maintain()  # night 1: kept generation + store folds (headroom)

    # ---- day 2: a rule-breaking wave quarantines whole; a near-dup of
    # a PRE-FOLD doc still dedups against the folded store ----
    _drop("w2", [(999, TEXT_D, "web")])            # violates id<=100
    _drop("w3", [(5, TEXT_C.replace("c7", "C7"), "web"),
                 (6, TEXT_E, "web")])
    _drain(broken_suite)
    kept_ids = _ids(read_generations(spark, roots["kept"]))
    assert kept_ids == {1, 2, 4, 6}                # 5 near-dup dropped
    assert os.path.isdir(os.path.join(roots["dlq"], "batch_id=2"))
    _maintain()  # night 2: folds day-2 deltas too

    # ---- day 3: exact dup vs a doc stored AFTER the first fold, a
    # quality failure, and a fresh doc ----
    _drop("w4", [(7, TEXT_E, "web"), (8, "tiny", "web"),
                 (9, TEXT_F, "web")])
    _drain(broken_suite)
    kept_ids = _ids(read_generations(spark, roots["kept"]))
    assert kept_ids == {1, 2, 4, 6, 9}

    # ---- the rule was wrong: fix it and replay the DLQ ----
    out = replay_quarantine(
        spark,
        quarantine_path=roots["dlq"],
        input_suite=fixed_suite,
        kept_path=roots["kept"],
        exact_store_path=roots["exact"],
        minhash_store_path=roots["mh"],
        min_words=5,
        jaccard_threshold_pct=50,
        funnel_store_path=roots["funnel"],
        profile_store_path=roots["profile"],
    )
    assert out["units_passed"] == 1 and out["units_failed"] == 0
    kept_ids = _ids(read_generations(spark, roots["kept"]))
    assert kept_ids == {1, 2, 4, 6, 9, 999}
    assert not any(
        n.startswith(("batch_id=", "compacted="))
        for n in os.listdir(roots["dlq"])
    )
    # a second replay of the now-empty DLQ is a no-op
    again = replay_quarantine(
        spark,
        quarantine_path=roots["dlq"],
        input_suite=fixed_suite,
        kept_path=roots["kept"],
        exact_store_path=roots["exact"],
        minhash_store_path=roots["mh"],
        min_words=5,
        jaccard_threshold_pct=50,
    )
    assert again["units_passed"] == 0 and again["units_failed"] == 0
    assert _ids(read_generations(spark, roots["kept"])) \
        == {1, 2, 4, 6, 9, 999}

    # ---- monitoring stores: one funnel row-set per curated batch
    # (incl. the replayed one), survival locates each drop at its
    # stage; profile store folds without a corpus rescan ----
    rates = funnel_drop_rates(spark, roots["funnel"])
    per_batch = {
        r["batch_id"]: r["survival"]
        for r in rates.filter(F.col("stage") == "min_words").collect()
    }
    assert len(per_batch) == 5                     # 0,1,3,4 + replay
    assert 2 not in per_batch                      # quarantined: no funnel
    exact_rates = {
        r["batch_id"]: r["survival"]
        for r in rates.filter(F.col("stage") == "exact_filter").collect()
    }
    assert exact_rates[1] == 0.5                   # doc 3 dropped
    assert exact_rates[4] == 2 / 3                 # doc 7 dropped
    from ffi_export_etl_spark.operators.profile import profile_from_batches

    prof = (
        profile_from_batches(spark.read.parquet(roots["profile"]))
        .filter(F.col("column") == "id")
        .first()
    )
    assert prof["n_rows"] == 6

    # ---- final maintenance is idempotent, then the corpus ships as
    # verified training shards ----
    _maintain()
    assert _ids(read_generations(spark, roots["kept"])) \
        == {1, 2, 4, 6, 9, 999}
    from ffi_export_etl_spark.sinks.shards import (
        verify_training_shards,
        write_training_shards,
    )

    shards = str(tmp_path / "shards")
    write_training_shards(
        read_generations(spark, roots["kept"]).select(
            "id", "source", "text", "n_words"
        ),
        shards, "id", rows_per_shard=3, checksums=True,
    )
    report = verify_training_shards(spark, shards).collect()
    assert report and all(r["ok"] for r in report)
    manifest = spark.read.parquet(os.path.join(shards, "_manifest"))
    assert manifest.agg(F.sum("n_rows")).first()[0] == 6
