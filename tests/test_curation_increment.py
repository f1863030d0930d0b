"""Incremental curation (plans/curation_increment.py): curate only the
newly-arrived docs against the persisted stores — exact filter, stored
near-dup loss, in-batch keeper, quality rule, and the store-append loop
across two days."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ffi_export_etl_spark.operators.exactdedup import exact_signature_store
from ffi_export_etl_spark.operators.minhash import (
    incremental_verified_pairs,
    minhash_signature_store_with_sigs,
)
from ffi_export_etl_spark.operators.textproc import (
    normalize_whitespace,
    scrub_text,
)
from ffi_export_etl_spark.plans.curation_increment import curate_increment

# r12 suite split: end-to-end/property sweep module — runs with SPARK_GRAFT_SLOW_TESTS=1
pytestmark = pytest.mark.slow_tail


def _doc(i: int, tail: str = "") -> str:
    base = " ".join(f"d{i}_{j}" for j in range(12))
    return base + (" " + tail if tail else "")


def _scrubbed(docs):
    return docs.select(
        F.col("doc_id").alias("id"),
        normalize_whitespace(scrub_text("text")).alias("text"),
    )


def test_curate_increment_two_days(spark):
    day0 = spark.createDataFrame(
        [(i, "s0", _doc(i)) for i in range(1, 7)],
        "doc_id: long, source: string, text: string",
    )
    s0 = _scrubbed(day0)
    exact_store = exact_signature_store(s0, "id", "text")
    minhash_store = minhash_signature_store_with_sigs(s0, "id", "text")

    base2 = _doc(2).rsplit(" ", 1)[0] + " changed"  # near-dup of doc 2
    day1 = spark.createDataFrame(
        [
            (10, "s0", _doc(1)),            # exact copy of stored 1 -> exact drop
            (11, "s0", base2),              # near-dup of stored 2 -> sketch drop
            (12, "s0", _doc(40)),           # new pair, min id -> keeper
            (13, "s0", _doc(40).rsplit(" ", 1)[0] + " tail"),  # loses to 12
            (14, "s0", _doc(50)),           # unique -> kept
            (15, "s0", "too short"),        # quality drop
            (16, "s0", _doc(50)),           # in-batch exact copy of 14 -> drop
        ],
        "doc_id: long, source: string, text: string",
    )
    out = curate_increment(day1, exact_store, minhash_store, min_words=5)
    kept_ids = sorted(r["id"] for r in out["kept"].collect())
    assert kept_ids == [12, 14]
    assert sorted(
        r["id"] for r in out["exact_delta"].select("id").distinct().collect()
    ) == [12, 14]
    assert sorted(
        r["id"] for r in out["minhash_delta"].select("id").distinct().collect()
    ) == [12, 14]

    # day 2: append the deltas; yesterday's keeper now blocks its copies
    exact2 = exact_store.unionByName(out["exact_delta"])
    minhash2 = minhash_store.unionByName(out["minhash_delta"])
    day2 = spark.createDataFrame(
        [
            (20, "s0", _doc(40)),   # exact copy of yesterday's keeper 12
            (21, "s0", _doc(40).rsplit(" ", 1)[0] + " again"),  # near-dup of 12
            (22, "s0", _doc(60)),   # genuinely new
        ],
        "doc_id: long, source: string, text: string",
    )
    out2 = curate_increment(
        day2, exact2, minhash2, min_words=5
    )
    assert sorted(r["id"] for r in out2["kept"].collect()) == [22]

    # a REJECTED doc (13) never became canonical: its content arriving
    # again still loses to nothing stored -> it is kept now (13's text
    # was never added to the stores)
    day2b = spark.createDataFrame(
        [(30, "s0", _doc(40).rsplit(" ", 1)[0] + " tail")],
        "doc_id: long, source: string, text: string",
    )
    out3 = curate_increment(
        day2b, exact2, minhash2, min_words=5
    )
    # near-dup of stored keeper 12 via the shared 11-token prefix -> drop
    assert [r["id"] for r in out3["kept"].collect()] == []


def test_verified_pairs_kill_bucket_false_positives(spark):
    """A bucket collision between docs whose signatures disagree (the
    routine LSH false positive) must NOT survive verification — the bug
    class that made candidate-only consumption drop real docs."""
    new = spark.createDataFrame(
        [(1, 0, 42, list(range(32)))],
        "id: long, band: int, bucket: long, sig: array<long>",
    )
    stored_fp = spark.createDataFrame(
        [(2, 0, 42, list(range(100, 132)))],  # same bucket, alien sig
        "id: long, band: int, bucket: long, sig: array<long>",
    )
    assert incremental_verified_pairs(new, stored_fp).count() == 0
    stored_dup = spark.createDataFrame(
        [(2, 0, 42, list(range(32)))],  # identical signature
        "id: long, band: int, bucket: long, sig: array<long>",
    )
    rows = incremental_verified_pairs(new, stored_dup).collect()
    assert len(rows) == 1 and rows[0]["est_jaccard_pct"] == 100.0


def test_curate_increment_span_stage(spark):
    """Span stage in the composed increment: a day-2 arrival whose text
    embeds an already-stored boilerplate run is CUT (not dropped), the
    cut text flows through the exact/near-dup/quality stages, and the
    span delta carries only the SURVIVORS' cleaned-text digests."""
    from ffi_export_etl_spark.operators.exactdedup import (
        exact_signature_store,
    )
    from ffi_export_etl_spark.operators.minhash import (
        minhash_signature_store_with_sigs,
    )
    from ffi_export_etl_spark.operators.spandedup import span_digest_store
    from ffi_export_etl_spark.operators.textproc import (
        normalize_whitespace,
        scrub_text,
    )
    from ffi_export_etl_spark.plans.curation_increment import (
        curate_increment,
    )
    from pyspark.sql import functions as F

    L = 5
    boiler = " ".join(f"b{i}" for i in range(L))
    day1 = spark.createDataFrame(
        [(1, f"{' '.join(f'd{i}' for i in range(30))} {boiler}", "web")],
        "doc_id long, text string, source string",
    )
    cleaned1 = day1.select(
        F.col("doc_id").alias("id"), "source",
        normalize_whitespace(scrub_text("text")).alias("text"),
    )
    exact_store = exact_signature_store(cleaned1, "id", "text")
    mh_store = minhash_signature_store_with_sigs(cleaned1, "id", "text")
    # span store holds RAW-axis windows of the day-1 corpus
    span_store = span_digest_store(day1, span_tokens=L).persist()

    fresh = " ".join(f"n{i}" for i in range(30))
    day2 = spark.createDataFrame(
        [
            (10, f"{fresh} {boiler}", "web"),  # boiler run must be cut
            (11, " ".join(f"q{i}" for i in range(3)), "web"),  # too short
        ],
        "doc_id long, text string, source string",
    )
    out = curate_increment(
        day2, exact_store, mh_store,
        min_words=10, span_store=span_store, span_dedup_tokens=L,
    )
    kept = {r["id"]: r["text"] for r in out["kept"].collect()}
    assert set(kept) == {10}
    assert "b0" not in kept[10] and kept[10].startswith("n0 ")

    # delta digests = windows of doc 10's CLEANED text only (doc 11 was
    # rejected by quality): none already stored, none from raw text
    delta_keys = {r["key"] for r in out["span_delta"].collect()}
    expect = {
        r["key"]
        for r in span_digest_store(
            spark.createDataFrame([(10, fresh)], "doc_id long, text string"),
            span_tokens=L,
        ).collect()
    }
    assert delta_keys == expect
    assert out["span_delta"].join(span_store, "key", "left_semi").count() == 0
    for cached in out["kept"]._curation_persisted:
        cached.unpersist()
    span_store.unpersist()
