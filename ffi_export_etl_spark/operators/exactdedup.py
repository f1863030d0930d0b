"""Incremental EXACT dedup — the content-hash counterpart of the MinHash
signature store (operators/minhash.py).

The store is (id, key) with key = md5 of the UTF-8 text — the same
digest the registered exact path (queries/dedup_q.dedup_exact_pack)
groups by. A new batch joins the store on the digest: one shuffle on a
16-byte key, never re-reading or re-hashing stored documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_signature_store(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, key) — the persistable content-hash index of a corpus."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("key"),
    )


def drop_known_duplicates(
    new_docs: DataFrame,
    stored: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ingest-time use: keep only new docs whose content was never
    seen — not in the store, and the min-id representative of any digest
    repeated within the batch itself. One digest shuffle + one anti-join;
    schema-preserving."""
    key = F.md5(F.encode(F.col(text_col), "UTF-8"))
    keyed = new_docs.withColumn("_key", key)
    # min-id representative via min_by, not a per-digest row_number
    # window: the window shuffles EVERY copy of a duplicated digest and
    # sorts it; min_by map-side combines — on duplicate-heavy ingest
    # (this operator's whole purpose) the copies collapse before the
    # exchange. Same id-tie behavior as the old orderBy(id) window
    # (arbitrary among rows sharing BOTH digest and id — pathological
    # input either way).
    cols = new_docs.columns
    # the min_by ordering wraps the id in a non-null struct: min_by
    # IGNORES rows whose ordering value is NULL, so a digest whose
    # every copy has a NULL id would otherwise collapse to a fabricated
    # all-NULL row. isNotNull() as the leading field keeps NULL ids
    # ordered FIRST (false < true — the old window's ascending NULLS
    # FIRST) while the ordering value itself is never NULL.
    batch_first = (
        keyed.groupBy("_key")
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in cols]),
                F.struct(
                    F.col(id_col).isNotNull().alias("_n"),
                    F.col(id_col).alias("_o"),
                ),
            ).alias("_row")
        )
        .select("_key", "_row.*")
    )
    return (
        batch_first.join(
            stored.select(F.col("key").alias("_key")).distinct(),
            "_key",
            "left_anti",
        )
        .drop("_key")
    )
