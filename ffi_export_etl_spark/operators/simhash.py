"""SimHash near-duplicate detection over 60-bit token-hash fingerprints.

simhash(doc) = for each of 60 bit positions, sign of the sum over tokens of
(+1 if md5-hash(token) has the bit set else -1). Near-duplicates = pairs
with small Hamming distance, found without an all-pairs scan by the
Manku/Jain/Das Sarma (WWW 2007) table construction: split the 60 bits into
6 blocks of 10 and probe every C(6,3)=20 combination of 3 blocks as a
30-bit band key. Hamming <= 3 flips bits in at most 3 blocks, so at least
3 blocks stay clean and one band is built from exactly clean blocks —
recall is guaranteed by pigeonhole, like the old 4x15-bit chunk banding,
BUT the band-key domain is 2^30 instead of 2^15. That is the difference
between surviving a billion documents and not: with 15-bit bands a 10^9
corpus averages ~30k docs per bucket (~10^13 candidate pairs before any
verify); with 30-bit bands the average bucket holds ~1. The residual
quadratic surface — identical-fingerprint hubs, which collide on EVERY
band — is cut by the same bucket cap minhash uses (documented recall
trade; an exact-dedup pass upstream removes those hubs anyway).

Token hashing is the portable md5 family (functions/porthash.py): 60 bits
= 15 hex chars, non-negative in a signed 64-bit in Spark, DuckDB, and
Python alike, so the DuckDB oracle replays the fingerprints exactly and
the driver gets a full value-hash check.

All native Column exprs (bit ops, one groupBy shuffle) — deterministic, no
UDFs. Candidate pairs are emitted from per-bucket sorted arrays (bounded
by the cap), the same one-shuffle shape as minhash.lsh_candidate_pairs.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.porthash import md5_long
from .bucketpairs import bucket_pairs
from .minhash import DEFAULT_MAX_BUCKET
from .spread import spread_per_doc

BITS = 60  # 15 hex chars of md5 -> non-negative BIGINT in every engine
BLOCKS = 6  # 10-bit blocks feeding the band combinations
BLOCK_BITS = BITS // BLOCKS
BLOCK_MASK = (1 << BLOCK_BITS) - 1
PREFIX_BLOCKS = 3  # blocks per band -> 30-bit band keys
# every 3-subset of the 6 blocks, in deterministic lexicographic order;
# band index = position in this tuple (both engines enumerate it the
# same way, so the store's band column is portable)
BAND_BLOCKS: tuple[tuple[int, ...], ...] = tuple(
    itertools.combinations(range(BLOCKS), PREFIX_BLOCKS)
)
# pigeonhole guarantee: recall is exact for hamming <= BLOCKS - PREFIX_BLOCKS
GUARANTEED_HAMMING = BLOCKS - PREFIX_BLOCKS


# 20-bit counter lanes, 3 packed per 64-bit sum (top lane shifted by 40).
# Each token contributes at most 2^40 + 2^20 + 1 < 2^41 to a sum, so under
# ANSI mode (Spark 4 default, which throws on 64-bit overflow instead of
# wrapping) the running sum stays below 2^63 for any document up to 2^22
# tokens, and a lane counter cannot carry into its neighbour until it
# reaches 2^20. The binding bound is therefore the lane width:
# MAX_TOKENS_PER_DOC = 2^20 - 1, ENFORCED by slicing the token array
# before explode (deterministic first-N truncation; replayed nowhere in
# the oracle because no real document approaches a million tokens).
LANES_PER_SUM = 3
LANE_BITS = 20
LANE_MASK = (1 << LANE_BITS) - 1
MAX_TOKENS_PER_DOC = LANE_MASK


def simhash_fingerprints(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, simhash: bigint) — 60-bit fingerprint per document.

    Per-bit set-counts are aggregated PACKED: each 64-bit sum carries 3
    independent 20-bit counter lanes ((h>>b)&1 shifted into its lane), so
    the group-by runs 20 sum-aggregates + a token count instead of 60 —
    one pass, map-side combined, ~3x less aggregation state, and every
    intermediate stays under 2^63 (ANSI-overflow-safe, see lane constants
    above). Bit b of the fingerprint is set iff 2*count_b >= n_tokens
    (identically the sign of the +1/-1 sum the oracle computes)."""
    toks = spread_per_doc(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.slice(
                F.split(F.col(text_col), r"\s+"), 1, MAX_TOKENS_PER_DOC
            )
        ).alias("tok"),
    ).withColumn("h", md5_long(F.col("tok"), 15))
    n_sums = BITS // LANES_PER_SUM
    packed_aggs = []
    for s in range(n_sums):
        lanes = None
        for k in range(LANES_PER_SUM):
            b = s * LANES_PER_SUM + k
            lane = F.shiftleft(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)).cast("bigint"),
                k * LANE_BITS,
            )
            lanes = lane if lanes is None else lanes + lane
        packed_aggs.append(F.sum(lanes).alias(f"s{s}"))
    sums = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("_n"), *packed_aggs
    )
    fingerprint = None
    for b in range(BITS):
        s, k = divmod(b, LANES_PER_SUM)
        count_b = F.shiftright(F.col(f"s{s}"), k * LANE_BITS).bitwiseAND(
            F.lit(LANE_MASK)
        )
        # branchless bit term (r12): shiftleft(cast(bool as long), b)
        # instead of CASE WHEN — the 60-term chain generated 60 branches
        # whose bytecode dominated this row's per-session JIT ramp (the
        # 2.8-5.2s warm band was progressive C2 compilation: fresh-
        # session probe walls 3.8 -> 3.7 -> 2.7 -> 2.7 on identical
        # plans/partitioning). Value-identical: the comparison is never
        # NULL (counts of non-null tokens), true -> 1L << b, false -> 0.
        term = F.shiftleft(
            (count_b * 2 >= F.col("_n")).cast("long"), b
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("id", fingerprint.alias("simhash"))


def _band_val(blocks: tuple[int, ...]):
    """30-bit band key Column: the 10-bit block values of ``blocks``
    concatenated low-to-high. Pure bit arithmetic on the bigint
    fingerprint — replayed verbatim by the SQL twin."""
    val = None
    for pos, blk in enumerate(blocks):
        piece = F.shiftleft(
            F.shiftright(F.col("simhash"), blk * BLOCK_BITS).bitwiseAND(
                F.lit(BLOCK_MASK)
            ),
            pos * BLOCK_BITS,
        )
        val = piece if val is None else val + piece
    return val


def _banded(fp: DataFrame) -> DataFrame:
    """(id, simhash, band, val) — the fingerprint table exploded into its
    20 Manku-table probes (band index + 30-bit band key)."""
    return fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        _band_val(blocks).alias("val"),
                    )
                    for t, blocks in enumerate(BAND_BLOCKS)
                ]
            )
        ).alias("bv"),
    ).select("id", "simhash", "bv.band", "bv.val")


def _pairs_from_buckets(
    banded: DataFrame, max_hamming: int, max_bucket_size: int | None
) -> DataFrame:
    """(id_a, id_b, hamming) from a (band, val, id, simhash) table: ONE
    shuffle — the shared capped bucket-pair expansion
    (operators/bucketpairs.py). Hamming verification runs INSIDE the
    explode projection (map-side, before the distinct), so shuffle
    volume after the groupBy tracks true near-dups, not collisions."""

    def pair(x, y):
        return F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias(
                "hamming"
            ),
        )

    return (
        bucket_pairs(
            banded, ["band", "val"], F.struct("id", "simhash"), pair,
            max_bucket_size,
        )
        .filter(
            (F.col("p.hamming") <= max_hamming)
            & (F.col("p.id_a") != F.col("p.id_b"))
        )
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
    )


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(simhash) <= max_hamming.

    The 20-table Manku banding guarantees recall for max_hamming <=
    GUARANTEED_HAMMING (= 3); larger thresholds keep the probes but the
    guarantee lapses (a pair flipping bits in 4+ blocks can be missed).
    ``max_bucket_size`` (default DEFAULT_MAX_BUCKET, None disables)
    drops degenerate buckets — at 30 bits per band key those are
    identical-fingerprint hubs, i.e. exact-duplicate clusters that
    collide on every band and would contribute B^2/2 pairs each; members
    of a dropped bucket can still meet through another band only if they
    differ somewhere, so the cap trades hub recall for a hard bound on
    candidate volume, exactly like minhash's documented cap.

    (r7: the old ``cache_fingerprints`` flag is gone — pair generation
    reads the fingerprint pipeline ONCE now (groupBy + in-array
    expansion; the old banded self-join read it twice), so the persist
    bought nothing and stranded a cached plan per call.)"""
    fp = simhash_fingerprints(docs, id_col, text_col)
    return _pairs_from_buckets(_banded(fp), max_hamming, max_bucket_size)
