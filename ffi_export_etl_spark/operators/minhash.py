"""MinHash + LSH banding near-duplicate detection — the 100 TB dedup path.

shingle -> 32-bit portable hash -> per-permutation min of (a_i*x+b_i) % P
-> band the signature -> group by (band, bucket) -> candidate pairs only
within buckets -> verify with exact Jaccard. Cost is linear in corpus size
plus the (small, capped) bucket-pair blowup, instead of the quadratic
shingle self-join.

Hashing is the engine-portable md5 family (functions/porthash.py): ONE md5
per shingle feeds all permutations through cheap modular arithmetic —
faster than hashing per permutation, and the DuckDB oracle can replay the
sketch exactly, so the driver gets a full value-hash check instead of a
rows-only one. All steps are native Column exprs — no Python UDFs.

Reference parity: the reference engine has no near-dup operator; this is
extension surface (SURVEY.md section 2.8) modeled on the standard MMDS
banding construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.porthash import (
    MERSENNE31,
    md5_long,
    perm_coefficients,
    spark_perm,
)
from .bucketpairs import bucket_pairs
from .shingles import build_shingles

# A bucket of B members contributes B^2/2 candidate pairs; a degenerate
# bucket (boilerplate shared by millions of docs) is the one quadratic
# risk in the plan, so capping is ON by default. Members of a dropped
# bucket still meet through their other bands unless they collide there
# too — the standard recall/cost trade.
DEFAULT_MAX_BUCKET = 100


def signatures_from_shingles(sh: DataFrame, num_perm: int = 32) -> DataFrame:
    """MinHash signatures (id, h0..h{num_perm-1}) from an (id, shingle)
    table. One md5 per shingle; permutations are modular arithmetic."""
    x = (md5_long(F.col("shingle"), 8) % MERSENNE31).alias("x")
    hashed = sh.select("id", x)
    return hashed.groupBy("id").agg(
        *[
            F.min(spark_perm(F.col("x"), a, b)).alias(f"h{i}")
            for i, (a, b) in enumerate(perm_coefficients(num_perm))
        ]
    )


def _banded(
    wide_sigs: DataFrame,
    bands: int,
    rows_per_band: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bucket[, *carry]) — bucket key is the joined band
    slice (string equality join key; portable across engines, no
    second-level hashing). ``carry`` columns ride through the explode
    so callers never need to join band rows back to their source."""
    return wide_sigs.select(
        "id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"h{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket", *carry)


def lsh_candidate_pairs(
    wide_sigs: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Distinct candidate (id_a, id_b) pairs sharing >= 1 LSH band bucket.

    Pair generation is ONE shuffle: group each (band, bucket) to a sorted
    id array, drop buckets above ``max_bucket_size`` (see
    DEFAULT_MAX_BUCKET; pass None to disable — then a degenerate bucket
    can blow up, which is why the cap defaults ON), and emit intra-array
    pairs with array expressions (id_a < id_b by the sort). The
    equivalent banded self-join costs three shuffles of the banded table;
    arrays here are bounded by the cap, so per-row memory is bounded too.
    """
    banded = _banded(wide_sigs, bands, rows_per_band)
    return (
        bucket_pairs(
            banded,
            ["band", "bucket"],
            F.col("id"),
            lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
            max_bucket_size,
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_signature_store(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int | None = None,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, band, bucket) — the persistable LSH index of a corpus.

    Persisted as plain parquet, it lets incremental batches join against
    it on (band, bucket) WITHOUT re-sketching the corpus: the
    daily-increment shape for a 100 TB collection."""
    sigs = signatures_from_shingles(
        build_shingles(docs, id_col, text_col, n), num_perm
    )
    return _banded(sigs, bands, num_perm // bands)


def incremental_candidate_pairs(
    new_banded: DataFrame,
    stored_banded: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs INVOLVING a new batch: new x stored pairs
    via a bucket equi-join against the persisted index, plus new x new
    pairs — never touching stored x stored (already deduped). Returns
    (id_a, id_b) with id_a < id_b, distinct.

    Equals the full-recompute candidate set restricted to pairs with at
    least one new id (pinned by test). The bucket cap applies to the
    COMBINED bucket population, like the one-shot path.

    ONE shuffle of the rows that can matter, like lsh_candidate_pairs:
    the stored side is first semi-joined (broadcast — the new batch's
    distinct bucket set is batch-sized by the daily-increment contract)
    to the buckets the new batch actually touches, so a mature store
    ships only touched buckets into the shuffle instead of its whole
    index; then tag rows new/stored, group each (band, bucket) to a
    sorted struct array, drop over-cap buckets, and emit intra-array
    pairs keeping those touching a new row. Every stored row of a
    touched bucket survives the semi-join, so the cap still sees the
    full combined population. The previous join formulation (cap census
    + two keep joins + newxstored join + newxnew self-join) shuffled the
    entire store ~5 times and re-executed LIVE store plans once per
    reference."""
    # distinct the bucket list BEFORE the broadcast: the hash build
    # would dedup keys anyway, but the broadcast exchange itself ships
    # the un-deduped projection — a large daily batch (rows x bands)
    # could blow the driver/broadcast limit while its DISTINCT bucket
    # set stays bounded by the band-bucket domain. The partial-agg
    # before the distinct's exchange dedups map-side, so the added
    # shuffle moves only the already-unique (band, bucket) pairs; the
    # broadcast branch still executes the new batch's sketch once.
    new_buckets = new_banded.select("band", "bucket").distinct()
    stored_touched = stored_banded.join(
        F.broadcast(new_buckets), ["band", "bucket"], "left_semi"
    )
    tagged = stored_touched.select(
        "id", "band", "bucket", F.lit(False).alias("is_new")
    ).unionByName(
        new_banded.select("id", "band", "bucket", F.lit(True).alias("is_new"))
    )
    # every bucket contains >= 1 new row by the semi-join above; the
    # shared expansion drops the singleton buckets (a new row with no
    # co-bucketed partner) before expanding
    return (
        bucket_pairs(
            tagged,
            ["band", "bucket"],
            F.struct("id", "is_new"),
            lambda x, y: F.struct(
                x["id"].alias("id_a"),
                y["id"].alias("id_b"),
                (x["is_new"] | y["is_new"]).alias("any_new"),
            ),
            max_bucket_size,
        )
        .filter(F.col("p.any_new") & (F.col("p.id_a") != F.col("p.id_b")))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int | None = None,
    num_perm: int = 32,
    bands: int = 8,
    threshold_pct: int = 20,
    shingle_mode: str = "word",
) -> DataFrame:
    """LSH candidates verified by exact Jaccard >= threshold_pct/100.

    Verification computes Jaccard ONLY for candidate pairs (shingle joins
    pinned to the candidate list), never all-pairs — that is the whole
    point at scale. Output has no LSH false positives; false negatives
    remain possible (the recall/cost tradeoff; tests measure recall vs the
    brute-force jaccard_pairs). Buckets above ``DEFAULT_MAX_BUCKET``
    are dropped from candidate generation.

    The shingle pass feeds four downstream subplans (signatures, sizes,
    both verification sides) and is recomputed, not persisted: at bench
    scale a clean fresh-JVM A/B measured the two within noise of each
    other (cached plans pin their partitioning away from AQE but skip
    recompute; recompute is cheap here), and an unreleased persist would
    pin the corpus's largest intermediate for the session lifetime.
    """
    rows_per_band = num_perm // bands
    sh = build_shingles(docs, id_col, text_col, n, shingle_mode)
    sigs = signatures_from_shingles(sh, num_perm)
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band, DEFAULT_MAX_BUCKET)
    # Verification joins each CANDIDATE doc's distinct-shingle SET (one
    # array row per doc) and intersects map-side — the r6 jaccard
    # lesson (operators/shingles.py): the former form joined the
    # candidate list against the full EXPLODED shingle table twice and
    # re-counted the intersection through a shuffle.
    arrs = sh.groupBy("id").agg(F.collect_set("shingle").alias("_shs"))
    return _verify_jaccard_pairs(cands, arrs, arrs, threshold_pct)


def _verify_jaccard_pairs(
    cands: DataFrame,
    arrs_a: DataFrame,
    arrs_b: DataFrame,
    threshold_pct: int,
) -> DataFrame:
    """(id_a, id_b, n_inter, n_union, jaccard >= pct/100) from candidate
    pairs + per-doc distinct-shingle arrays for each side (the same
    frame twice for a self-dedup). Candidate-bounded: two id joins ship
    one array row per candidate endpoint, the intersection is map-side
    array arithmetic, the threshold integer arithmetic."""
    va = arrs_a.select(F.col("id").alias("id_a"), F.col("_shs").alias("_sa"))
    vb = arrs_b.select(F.col("id").alias("id_b"), F.col("_shs").alias("_sb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("_sa", "_sb")).cast("long")
        )
        .withColumn(
            "n_union",
            (F.size("_sa") + F.size("_sb")).cast("long") - F.col("n_inter"),
        )
        .filter(F.col("n_inter") * 100 >= threshold_pct * F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_union",
            (F.col("n_inter") / F.col("n_union")).alias("jaccard"),
        )
    )


def minhash_signature_store_with_sigs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_mode: str = "word",
) -> DataFrame:
    """(id, band, bucket, sig: array<long>) — the LSH index WITH the
    full minhash signature on every row, so increments can VERIFY
    candidates store-locally (the simhash store's pattern): estimated
    Jaccard = fraction of agreeing signature positions, no stored
    document ever re-read or re-shingled. Costs num_perm longs per row
    over the plain (id, band, bucket) store.

    The sig array rides THROUGH the band explode (one narrow projection
    after the signature aggregation) rather than joining the banded
    table back to the signatures on id: the join form costs two extra
    id-hash shuffles of the sig-carrying table AND re-executes the
    shingle aggregation on both join branches (measured 3.9s -> 0.6s on
    a 1250-doc sf0.1 slice, identical rows)."""
    sigs = signatures_from_shingles(
        build_shingles(docs, id_col, text_col, None, shingle_mode), num_perm
    )
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(num_perm)])
    return _banded(
        sigs.withColumn("sig", sig_arr),
        bands,
        num_perm // bands,
        carry=("sig",),
    )


def incremental_verified_pairs(
    new_store: DataFrame,
    stored_store: DataFrame,
    threshold_pct: int = 20,
) -> DataFrame:
    """(id_a, id_b, est_jaccard_pct) near-dup pairs involving a new
    batch, VERIFIED against the signatures both sig-carrying stores
    already hold: candidates from the bucket join
    (incremental_candidate_pairs), then estimated Jaccard — the fraction
    of agreeing minhash positions, the store-local stand-in for the
    batch path's exact-Jaccard verification — must reach
    ``threshold_pct``. Kills the LSH false positives that candidate-only
    consumption would silently treat as duplicates. The estimate
    concentrates at the true Jaccard (stderr ~ 1/sqrt(num_perm)); use
    the exact path when re-reading documents is acceptable."""
    cands = incremental_candidate_pairs(
        new_store.select("id", "band", "bucket"),
        stored_store.select("id", "band", "bucket"),
    )
    sigs = (
        new_store.select("id", "sig")
        .unionByName(stored_store.select("id", "sig"))
        .dropDuplicates(["id"])
    )
    matches = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda a, x: a + x,
    )
    return (
        cands.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sa")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sb")), "id_b")
        .withColumn("est_jaccard_pct", matches * 100 / F.size("sa"))
        .filter(F.col("est_jaccard_pct") >= threshold_pct)
        .select("id_a", "id_b", "est_jaccard_pct")
    )


def cross_corpus_near_duplicates(
    docs_a: DataFrame,
    docs_b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int | None = None,
    num_perm: int = 32,
    bands: int = 8,
    threshold_pct: int = 20,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    shingle_mode: str = "word",
) -> DataFrame:
    """(id_a, id_b, n_inter, n_union, jaccard) near-dup pairs BETWEEN
    two corpora only — id_a always from A, id_b always from B, never a
    within-side pair. The cross-corpus audit shape: fuzzy
    decontamination of a training corpus against another corpus,
    recrawl-vs-archive diffing, vendor-dataset overlap checks. The two
    id spaces are independent (sides are tagged; the same id may occur
    in both and pair with itself).

    Shape: each side shingles + sketches once; banded rows union with a
    side tag into the shared capped bucket expansion
    (operators/bucketpairs.py), keeping only cross-side pairs; exact
    Jaccard verification joins candidates to both sides' shingle tables
    (candidate-pinned, never all-pairs). Differs from
    incremental_candidate_pairs in exactly one clause: within-NEW pairs
    are excluded too, because here BOTH corpora are 'stored' — there is
    no ingest side to self-dedup."""
    rows_per_band = num_perm // bands
    sh_a = build_shingles(docs_a, id_col, text_col, n, shingle_mode)
    sh_b = build_shingles(docs_b, id_col, text_col, n, shingle_mode)
    banded = _banded(
        signatures_from_shingles(sh_a, num_perm), bands, rows_per_band
    ).withColumn("is_a", F.lit(True)).unionByName(
        _banded(
            signatures_from_shingles(sh_b, num_perm), bands, rows_per_band
        ).withColumn("is_a", F.lit(False))
    )
    cands = (
        bucket_pairs(
            banded,
            ["band", "bucket"],
            F.struct("id", "is_a"),
            lambda x, y: F.struct(
                F.when(x["is_a"], x["id"]).otherwise(y["id"]).alias("id_a"),
                F.when(x["is_a"], y["id"]).otherwise(x["id"]).alias("id_b"),
                (x["is_a"] != y["is_a"]).alias("_cross"),
            ),
            max_bucket_size,
        )
        .filter(F.col("p._cross"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return _verify_jaccard_pairs(
        cands,
        sh_a.groupBy("id").agg(F.collect_set("shingle").alias("_shs")),
        sh_b.groupBy("id").agg(F.collect_set("shingle").alias("_shs")),
        threshold_pct,
    )
