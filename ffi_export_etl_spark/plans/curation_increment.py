"""Incremental curation — the daily-increment shape of the composed
pipeline (plans/curation.py) for a corpus that GROWS: curate only the
newly-arrived documents against the persisted signature stores, never
re-reading or re-curating the accumulated corpus.

    new batch
      -> scrub + normalize          (same chain as the batch pipeline —
                                     ALL dedup judged on scrubbed text,
                                     so PII differences cannot defeat
                                     either the digest or the sketch)
      -> exact ingest filter        (drop content ever seen: one digest
                                     join vs the exact store)
      -> incremental near-dup       (new sketches vs the SIG-CARRYING
                                     minhash store; candidates VERIFIED
                                     by estimated Jaccard — agreeing
                                     signature fraction — so an LSH
                                     bucket collision alone can never
                                     drop a doc. new x stored -> drop
                                     the new doc, new x new -> min-id
                                     keeper via CC)
      -> quality filter             (same rule as the batch pipeline)
      -> store deltas               (exact + minhash rows for the
                                     SURVIVORS, appended by the caller)

Cost is proportional to the ARRIVAL, not the corpus: the stored side
contributes one bucket/digest join per family (the stores are plain
parquet, folded into generations by
streaming/dedup.compact_signature_store) and is never re-sketched. The keeper policy matches the batch pipeline: a new doc
near-dup to ANY stored doc loses (the stored copy is the canonical one);
within the new batch, min id wins. Store deltas carry only surviving
docs, so a rejected near-dup can never become a future canonical copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.components import dedup_clusters
from ..operators.exactdedup import drop_known_duplicates, exact_signature_store
from ..operators.minhash import (
    DEFAULT_MAX_BUCKET,
    incremental_verified_pairs,
    minhash_signature_store_with_sigs,
)
from ..operators.textproc import normalize_whitespace, scrub_text


def curate_increment(
    new_docs: DataFrame,
    exact_store: DataFrame,
    minhash_store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_words: int = 20,
    jaccard_threshold_pct: int = 20,
    n: int | None = None,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    shingle_mode: str = "word",
    span_store: DataFrame | None = None,
    span_dedup_tokens: int | None = None,
    input_html: bool = False,
    c4_line_clean: bool = False,
    gopher_rules: bool = False,
    funnel: list | None = None,
) -> dict[str, DataFrame]:
    """Returns ``{"kept", "exact_delta", "minhash_delta"}`` (plus
    ``"span_delta"`` when the span stage is on).

    ``span_dedup_tokens`` (with ``span_store``, the accumulated window
    digest index) runs incremental duplicate-SPAN removal FIRST, on the
    RAW arrivals — the batch pipeline's stage order: token coordinates
    must pre-date the scrub's whitespace normalization, and a span cut
    against stored history must happen before digests/sketches are
    taken, or a doc differing from a stored one only by an
    already-seen boilerplate run would evade the exact filter.
    ``span_delta`` carries digests of the SURVIVORS' span-cleaned RAW
    text only (the store's comparison axis), anti-joined against the
    store — same survivors-only contract as the other deltas.

    ``kept``: (id, source, text, n_words) — the new docs that survive
    exact dedup vs the store, VERIFIED near-dup dedup vs the store and
    within the batch (candidates must also reach ``jaccard_threshold_pct``
    estimated Jaccard — agreeing-signature fraction — so a routine LSH
    false positive cannot silently discard a doc), and the quality rule,
    with scrubbed text. ``minhash_store`` must be the sig-carrying store
    (minhash_signature_store_with_sigs).
    ``exact_delta`` / ``minhash_delta``: the store rows for the
    survivors; append them (folded nightly by streaming/dedup.
    compact_signature_store) so tomorrow's increment sees today's
    corpus.

    ``input_html`` / ``c4_line_clean`` / ``gopher_rules`` mirror the
    batch pipeline's per-document stages (all state-free, so increments
    need no extra store): HTML extraction first, the C4 line rule last
    among line stages, Gopher applied to the survivors post-dedup.
    Digests/sketches are taken over the post-stage text — run every
    session of one store family with the same flag set.
    """
    # ``funnel``: optional audit collector, same contract as
    # curate_documents — (stage, frame, text_col) appended at each
    # enabled boundary, no actions, None = inert production default
    _mark = (
        (lambda name, df, tcol: funnel.append((name, df, tcol)))
        if funnel is not None
        else (lambda name, df, tcol: None)
    )
    _mark("input", new_docs, text_col)
    if input_html:
        # HTML arrivals extract to prose FIRST, like the batch pipeline
        # (every later judge — span coordinates, digests, quality —
        # sees text, not markup). Store-consistency caveat: digests are
        # taken over the post-extraction axis, so run every session of
        # one store family with the same flag set.
        from ..operators.htmlx import html_to_text

        new_docs = new_docs.withColumn(text_col, html_to_text(text_col))
        _mark("html_extract", new_docs, text_col)
    gq_keep = None
    if gopher_rules:
        # decided on the raw post-HTML text (scrub placeholders must
        # not perturb the statistics), APPLIED after dedup like the
        # batch pipeline — the keeper choice must not depend on quality
        from ..operators.qualityrules import gopher_quality

        gq_keep = (
            gopher_quality(new_docs, id_col, text_col)
            .filter("gopher_keep")
            .select("id")
        )
    span_cleaned = None
    if span_dedup_tokens is not None:
        if span_store is None:
            raise ValueError("span_dedup_tokens requires span_store")
        from ..operators.spandedup import incremental_remove_duplicate_spans

        sp = incremental_remove_duplicate_spans(
            new_docs, span_store, id_col, text_col,
            span_tokens=span_dedup_tokens,
        )
        # (id, text) with duplicate runs cut — the RAW-axis text both
        # the downstream stages and the span store delta consume.
        # Materialized: left live, the corpus-sized span-store semi-join
        # and the within-batch keeper aggregation would re-run when the
        # span_delta sink executes (the recorded live-plan-as-store
        # gotcha); the cleaned batch is arrival-sized.
        span_cleaned = (
            sp["cleaned"].select("id", "text").localCheckpoint()
        )
        new_docs = span_cleaned.join(
            new_docs.select(
                F.col(id_col).alias("id"), F.col(source_col)
            ),
            "id",
        ).select(
            F.col("id").alias(id_col),
            F.col("text").alias(text_col),
            F.col(source_col),
        )
        _mark("span_dedup", new_docs, text_col)
    if c4_line_clean:
        # C4 line rule + page-drop markers, last line-structure stage
        # before the scrub collapses newlines (batch-pipeline order)
        from ..operators.qualityrules import c4_clean_lines

        c4f = c4_clean_lines(
            new_docs, id_col=id_col, text_col=text_col,
            extra_cols=(source_col,),
        )
        new_docs = c4f.filter(~F.col("c4_page_drop")).select(
            F.col("id").alias(id_col),
            F.col("c4_text").alias(text_col),
            source_col,
        )
        _mark("c4_line_clean", new_docs, text_col)
    cleaned = new_docs.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        normalize_whitespace(scrub_text(text_col)).alias("text"),
    )
    # both stores hold digests/sketches of SCRUBBED text, so the filter
    # and tomorrow's filter compare like with like
    scrubbed = drop_known_duplicates(
        cleaned, exact_store, "id", "text"
    ).persist()  # feeds sketching, the drop joins, and the output
    _mark("scrub", cleaned, "text")
    _mark("exact_filter", scrubbed, "text")

    # shingle_mode AND width must match what the STORE was built with —
    # signatures are only comparable within one shingle definition.
    # n=None resolves per mode (shingles.default_shingle_n), the same
    # resolution curate_documents applies when it builds the store.
    new_banded = minhash_signature_store_with_sigs(
        scrubbed, "id", "text", n=n, num_perm=num_perm, bands=bands,
        shingle_mode=shingle_mode,
    ).localCheckpoint()
    # pairs feed THREE consumers (both vs-stored semi-join arms and the
    # new-x-new clustering input); a live plan would re-run the
    # candidate+verify join per consumer. Near-dup pairs are
    # output-sized (bounded by duplicate density), so materializing is
    # cheap relative to recomputing.
    pairs = incremental_verified_pairs(
        new_banded, minhash_store,
        threshold_pct=jaccard_threshold_pct,
        max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b").localCheckpoint()

    # any new doc paired with a STORED doc loses to the stored canonical
    stored_ids = minhash_store.select("id").distinct()
    new_ids = scrubbed.select("id")
    vs_stored = (
        pairs.join(stored_ids.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .select(F.col("id_b").alias("id"))
        .unionByName(
            pairs.join(
                stored_ids.withColumnRenamed("id", "id_b"), "id_b", "left_semi"
            ).select(F.col("id_a").alias("id"))
        )
        .join(new_ids, "id", "left_semi")
        .distinct()
    )
    # new x new pairs cluster; min id per component is the batch keeper
    nn_pairs = (
        pairs.join(new_ids.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(new_ids.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
    )
    clusters = dedup_clusters(scrubbed, nn_pairs, id_col="id")
    survivors = (
        clusters.filter("is_keeper")
        .select("id")
        .join(vs_stored, "id", "left_anti")
    )

    # script-aware length rule, mirroring curate_documents: whitespace
    # word counts always fail for boundary-less scripts, so char-route
    # docs use ceil(chars / 2) as the effective count
    if shingle_mode == "char":
        charish_col = F.lit(True)
    elif shingle_mode == "auto":
        from ..operators.scripts import needs_char_shingles

        charish_col = needs_char_shingles("text")
    else:
        charish_col = F.lit(False)
    n_words = F.when(
        charish_col, F.ceil(F.length("text") / F.lit(2)).cast("int")
    ).otherwise(F.size(F.split(F.col("text"), r"\s+")))
    # kept feeds all THREE outputs (itself + both store deltas) — each
    # consumed by its own write action, so without a persist the pair
    # join, the CC clustering, and the survivor joins would re-execute
    # once per sink. Persisted here; the caller releases via the
    # _curation_persisted handles (same contract as
    # curation.release_curation_caches).
    survived = scrubbed.join(survivors, "id", "left_semi")
    _mark("neardup_survivors", survived, "text")
    kept = survived.withColumn("n_words", n_words).filter(
        F.col("n_words") >= min_words
    )
    _mark("min_words", kept, "text")
    if gq_keep is not None:
        kept = kept.join(gq_keep, "id", "left_semi")
        _mark("gopher_rules", kept, "text")
    kept = kept.persist()
    kept_ids = kept.select("id")
    kept._curation_persisted = [scrubbed, kept]
    out = {
        "kept": kept,
        "exact_delta": exact_signature_store(kept, "id", "text"),
        "minhash_delta": new_banded.join(kept_ids, "id", "left_semi"),
    }
    if span_cleaned is not None:
        from ..operators.spandedup import span_digest_store

        out["span_delta"] = span_digest_store(
            span_cleaned.join(kept_ids, "id", "left_semi"),
            "id", "text", span_dedup_tokens,
        ).join(span_store, "key", "left_anti")
    return out
