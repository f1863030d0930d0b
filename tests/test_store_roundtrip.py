"""Signature-store disk round trips: each family's store written as
plain parquet, read back, and joined incrementally against the ON-DISK
store — identical pairs to the in-memory path."""

from __future__ import annotations

from pyspark.sql import functions as F


def _on_disk(spark, df, tmp_path, name):
    path = str(tmp_path / name)
    df.write.parquet(path)
    return spark.read.parquet(path)


def test_signature_store_disk_roundtrip_incremental(spark, sf_small, tmp_path):
    """The 'persistable LSH index' claim made concrete: write the
    minhash signature store as parquet, read it back, and run the
    incremental candidate join against the ON-DISK store."""
    from ffi_export_etl_spark.operators.minhash import (
        incremental_candidate_pairs,
        minhash_signature_store,
    )

    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    stored_docs = d.filter(F.col("doc_id") % 5 != 0)
    new_docs = d.filter(F.col("doc_id") % 5 == 0)
    stored = minhash_signature_store(stored_docs, "doc_id", "text")
    newb = minhash_signature_store(new_docs, "doc_id", "text")
    in_memory = {
        (r["id_a"], r["id_b"])
        for r in incremental_candidate_pairs(newb, stored).collect()
    }
    from_disk = {
        (r["id_a"], r["id_b"])
        for r in incremental_candidate_pairs(
            newb, _on_disk(spark, stored, tmp_path, "sig_store")
        ).collect()
    }
    assert from_disk == in_memory
    assert from_disk  # the split corpus actually produces candidates


def test_signlsh_store_disk_roundtrip_incremental(spark, sf_small, tmp_path):
    """sign-LSH signature store written as parquet, read back,
    incremental candidates against the ON-DISK store == in-memory
    (minhash.incremental_candidate_pairs is the shared join)."""
    from ffi_export_etl_spark.operators.minhash import (
        incremental_candidate_pairs,
    )
    from ffi_export_etl_spark.operators.similarity import (
        signlsh_signature_store,
    )

    e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    stored_vecs = e.filter(F.col("vec_id") % 5 != 0)
    new_vecs = e.filter(F.col("vec_id") % 5 == 0)
    stored = signlsh_signature_store(stored_vecs, 64)
    newb = signlsh_signature_store(new_vecs, 64)
    in_memory = {
        (r["id_a"], r["id_b"])
        for r in incremental_candidate_pairs(newb, stored).collect()
    }
    from_disk = {
        (r["id_a"], r["id_b"])
        for r in incremental_candidate_pairs(
            newb, _on_disk(spark, stored, tmp_path, "signlsh_store")
        ).collect()
    }
    assert from_disk == in_memory
