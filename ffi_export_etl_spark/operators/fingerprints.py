"""Winnowing document fingerprints — the rolling-hash fingerprinting
scheme of Schleimer, Wilkerson & Aiken 2003 ("Winnowing: Local
Algorithms for Document Fingerprinting", the MOSS algorithm): hash
every token k-gram, slide a window of w consecutive k-gram hashes, and
select each window's MINIMUM hash. The selected set is the document's
fingerprint, with the guarantee the scheme exists for: any shared run
of at least w + k - 1 tokens between two documents contributes at
least one IDENTICAL selected fingerprint to both — so fingerprint
overlap detects local copying with a density of only ~2/(w+1) of the
k-grams, where the exact span table (operators/spandedup.py) must
carry every window.

This is the sparse complement of the span family: spandedup locates
and CUTS every duplicated occurrence (token-exact coordinates, full
window table); winnowing REPORTS likely local-copy pairs at a fraction
of the index size — the screening pass a plagiarism/copy scan runs at
corpus scale before exact verification.

Scale shape: fingerprint selection is entirely per-document (one
narrow projection over the scan — JVM array ops, no shuffle); the
overlap report is one explode of the selected fingerprints (sparse by
construction) + one hash-partitioned aggregation with the same
bucket-cap discipline as the LSH candidate paths. Hashes come from the
engine's portable md5 family, so the DuckDB oracle replays selection
bit-identically (pinned by test).

Ties inside a window select the RIGHTMOST minimal hash (robust
winnowing's tie rule); since the output is the per-document DISTINCT
hash set, the rule only matters for density, never correctness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.porthash import md5_long
from .xplode import explode_nonempty

__all__ = ["winnow_fingerprints", "winnow_overlap_pairs"]

DEFAULT_K = 5  # k-gram width (tokens)
DEFAULT_W = 4  # winnowing window (k-gram hashes)
DEFAULT_MAX_BUCKET = 200  # overlap-report bucket cap (LSH discipline)


def _gram_hashes(toks: Column, k: int) -> Column:
    """k-gram md5 sequence (positional, NOT distinct) from a token
    array ATTRIBUTE; empty when fewer than k tokens. The caller must
    pass a bound column, not an inline split() — see winnow_fingerprints
    for why."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda s: md5_long(F.array_join(F.slice(toks, s, k), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _selected_col(grams: Column, w: int) -> Column:
    """Selected (distinct, sorted) winnowing minima over a gram-hash
    ATTRIBUTE; windows shorter than w (doc with < w k-grams) winnow as
    one window."""
    m = F.size(grams)
    return F.when(
        m > 0,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(m - w + 1, F.lit(1))),
                    lambda s: F.array_min(F.slice(grams, s, w)),
                )
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, fingerprints array<bigint>, n_fingerprints) per document —
    the winnowed signature set over ``DEFAULT_K``-token grams and
    ``DEFAULT_W``-hash windows, sorted distinct so it is a stable
    engine-portable value. Documents shorter than k tokens get an
    empty set.

    Built in STAGED projections (token array -> gram hashes ->
    selection) so each intermediate is a bound, multi-referenced
    attribute. The original single-expression form inlined the token
    split and the whole gram-hash array into every per-element lambda
    reference (the shingle-inlining pitfall), re-hashing all grams once
    per window position — O(n_grams * n_grams * k) md5 work per doc,
    measured 188s to materialize sf0.1 where this form takes ~2s.
    (bench/sweep count() runs never caught it: the fingerprint column
    prunes away under count, so the gate's sf0.01 value compare was
    the only true materialization.)"""
    toks_df = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), r"\s+").alias("_toks"),
    )
    grams_df = toks_df.select(
        "id", _gram_hashes(F.col("_toks"), DEFAULT_K).alias("_grams")
    )
    return grams_df.select(
        "id", _selected_col(F.col("_grams"), DEFAULT_W).alias("fingerprints")
    ).withColumn("n_fingerprints", F.size("fingerprints"))


def winnow_overlap_pairs(
    fingerprints: DataFrame,
    min_shared: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(id_a, id_b, n_shared) with id_a < id_b — document pairs sharing
    at least ``min_shared`` selected fingerprints of a
    :func:`winnow_fingerprints` frame: the local-copy screening report
    (text_langfp_pack reports the sets AND the overlap, so the per-doc
    md5 selection pass runs once, not once per consumer). By the winnowing guarantee, every pair sharing a
    verbatim run of >= w + k - 1 tokens appears (with min_shared=1);
    raise ``min_shared`` to trade recall on short overlaps for a
    quieter report. ``max_bucket_size`` drops degenerate fingerprints
    shared by more documents than that (boilerplate hubs) before the
    quadratic pair expansion — the LSH bucket-cap discipline.

    Plan shape: ONE shuffle on ``h`` (groupBy + sorted collect — the
    bucket size check and the pair expansion both happen inside the
    grouped row, JVM array ops), then the pair-count aggregation. The
    exploded self-join alternative shuffles the fingerprint table
    twice on the same key; collecting the bucket halves that, and the
    collected list is bounded by ``max_bucket_size``."""
    # explode_nonempty, NOT plain explode: the optimizer would infer
    # `size(fingerprints) > 0` and push it below the staged projections
    # with the ENTIRE selection expression inlined — re-evaluated per
    # row on top of the real computation (measured 195s vs 3s at
    # sf0.1; operators/xplode.py module docstring).
    fp = explode_nonempty(fingerprints, ["id"], "fingerprints", "h")
    # per-doc fingerprints are distinct, so a bucket never repeats an
    # id: the shared sorted in-bucket (i, j>i) expansion gives
    # id_a < id_b strict (operators/bucketpairs.py — sorting happens IN
    # the aggregation, the shingle-inlining pitfall)
    from .bucketpairs import bucket_pairs

    return (
        bucket_pairs(
            fp,
            ["h"],
            F.col("id"),
            lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
            max_bucket_size,
        )
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
