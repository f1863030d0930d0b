"""Vector similarity: exact cosine + LSH/IVF approximate search.

Embeddings are ``array<float>`` columns. All math happens JVM-side through
higher-order functions (zip_with / aggregate) in DOUBLE precision with
sequential accumulation — deterministic and engine-portable (matches the
DuckDB list_dot_product convention used by every cosine oracle here).

Scale design:
- brute-force top-k broadcasts the (tiny) query vector set against the
  corpus: one scan, no shuffle for k-per-query via window over query id.
- random-hyperplane LSH buckets vectors by sign pattern; querying probes
  only matching buckets. Hyperplane coefficients are md5-derived Python
  constants (functions/porthash.py) embedded as literals — identical in
  the Spark plan, the DuckDB oracle, and across executors, with zero
  per-row hashing cost.
- all-pairs cosine (dedup use) is quadratic — the registered dedup path
  goes through banded sign-LSH buckets (lsh_banded_pairs), the direct
  all-pairs form exists for small corpora and recall tests.
- IVF partitions the corpus into cells (a label column or k-means cells)
  and probes only the nprobe nearest cells per query.

Determinism conventions (shared with the oracles): every score that feeds
a ranking or a sign test is rounded to 6 digits first; centroid components
are rounded to 6 digits; all rankings tiebreak on an id column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.porthash import hyperplane_coefficients, md5_long
from .minhash import DEFAULT_MAX_BUCKET


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential (left-to-right) double dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def plane_lit(coefs: list[float]) -> Column:
    """A hyperplane as a literal array<double> (constant-folded, no per-row
    hashing)."""
    return F.array(*[F.lit(c) for c in coefs])


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    round_digits: int = 6,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``: (query_id, embedding). The query side is broadcast — the
    corpus is scanned once with no shuffle until the final per-query top-k
    window (partitioned by query_id, deterministic tiebreak on id).
    Cosine is rounded before ranking so rank order is engine-portable.
    ``include_self=False`` (default) keeps the family's near-dup
    convention — a corpus-id query never retrieves its own row; pass
    True for retrieval semantics.
    """
    v = vectors.select(
        F.col(id_col).alias("nbr_id"), as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    on = (
        F.lit(True) if include_self
        else F.col("nbr_id") != F.col("query_id")
    )
    scored = (
        v.join(F.broadcast(q), on)
        .withColumn("cos", F.round(cosine(F.col("v"), F.col("qv")), round_digits))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "nbr_id", "cos", "rnk")
    )


def lsh_bucket(
    vec: Column, dim: int, planes: int = 8, round_digits: int = 6
) -> Column:
    """Sign-pattern bucket id (0..2^planes-1) of a vector.

    The sign test uses the ROUNDED dot product so bucket assignment is
    engine-portable even when the last accumulated bit differs."""
    coefs = hyperplane_coefficients(dim, planes)
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        d = F.round(dot(vec, plane_lit(coefs[p])), round_digits)
        bit = F.when(d >= 0, 1).otherwise(0)
        bucket = bucket + F.shiftleft(bit.cast("long"), p)
    return bucket


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    planes: int = 8,
    probe_hamming: int = 1,
    round_digits: int = 6,
    include_self: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share (or nearly share) the query's
    LSH bucket.

    With ``planes`` sign bits the corpus splits into 2^planes buckets.
    Multi-probe: the (tiny, broadcast) QUERY side is exploded to every
    bucket within ``probe_hamming`` bit flips — recall rises steeply for
    zero extra cost on the corpus side, which is the side that matters at
    scale. probe_hamming=1 probes planes+1 of 2^planes buckets.
    """
    v = vectors.select(
        F.col(id_col).alias("nbr_id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("bucket", lsh_bucket(F.col("v"), dim, planes, round_digits))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("bucket", lsh_bucket(F.col("qv"), dim, planes, round_digits))
    if probe_hamming >= 1:
        flips = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(planes)
        ]
        if probe_hamming >= 2:
            flips += [
                F.col("bucket")
                .bitwiseXOR(F.lit(1 << p))
                .bitwiseXOR(F.lit(1 << r))
                for p in range(planes)
                for r in range(p + 1, planes)
            ]
        q = q.withColumn("bucket", F.explode(F.array(*flips)))
    scored = v.join(F.broadcast(q), ["bucket"])
    if not include_self:
        scored = scored.filter(F.col("nbr_id") != F.col("query_id"))
    scored = (
        scored
        .drop("bucket")
        .dropDuplicates(["query_id", "nbr_id"])
        .withColumn("cos", F.round(cosine(F.col("v"), F.col("qv")), round_digits))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "nbr_id", "cos", "rnk")
    )


def signlsh_signature_store(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 4,
    planes_per_table: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """(id, band, bucket) — the persistable sign-LSH index of an
    embedding corpus, one row per (vector, hash table). Column names
    deliberately match minhash_signature_store, so
    minhash.incremental_candidate_pairs IS the incremental join for this
    store too (new x stored + new x new, combined-population bucket cap,
    never stored x stored): persist it and daily embedding batches
    join against it without re-hashing the corpus.
    The hyperplanes are deterministic (md5-seeded), so signatures
    computed today and next month agree bit-for-bit."""
    coefs = hyperplane_coefficients(dim, tables * planes_per_table)
    v = vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    )
    arms = []
    for t in range(tables):
        bucket = F.lit(0).cast("long")
        for p in range(planes_per_table):
            d = F.round(
                dot(F.col("v"), plane_lit(coefs[t * planes_per_table + p])),
                round_digits,
            )
            bit = F.when(d >= 0, 1).otherwise(0)
            bucket = bucket + F.shiftleft(bit.cast("long"), p)
        arms.append(F.struct(F.lit(t).alias("band"), bucket.alias("bucket")))
    return v.select(
        "id", F.explode(F.array(*arms)).alias("tb")
    ).select("id", "tb.band", "tb.bucket")


def lsh_banded_pairs(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 4,
    planes_per_table: int = 8,
    round_digits: int = 6,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Distinct candidate (id_a, id_b) pairs sharing a sign-LSH bucket in
    at least one of ``tables`` independent hash tables — the cosine analog
    of MinHash banding, and the scale-safe candidate generator for
    embedding dedup (linear scan + per-bucket joins, never all-pairs).

    Pair generation mirrors minhash.lsh_candidate_pairs: ONE shuffle
    groups each (table, bucket) to a sorted id array, buckets above
    ``max_bucket_size`` are dropped (cap ON by default — a degenerate
    sign pattern, e.g. a pile of near-zero or boilerplate-identical
    vectors, is the one quadratic risk; members of a dropped bucket can
    still meet through their other tables), and intra-array pairs are
    emitted with array expressions.

    Recall for a pair with angular similarity s is 1-(1-s^p)^L: more
    tables buy recall, more planes-per-table buy precision (smaller
    buckets)."""
    banded = signlsh_signature_store(
        vectors, dim, id_col, vec_col, tables, planes_per_table, round_digits
    ).withColumnRenamed("band", "tbl")
    from .bucketpairs import bucket_pairs

    return (
        bucket_pairs(
            banded,
            ["tbl", "bucket"],
            F.col("id"),
            lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
            max_bucket_size,
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def cosine_pairs_bucketed(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    tables: int = 4,
    planes_per_table: int = 8,
    round_digits: int = 6,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Embedding near-dup pairs: banded sign-LSH candidates verified by
    exact cosine >= threshold. The registered scale path — candidate count
    is bucket-bounded (capped at max_bucket_size per bucket), and
    verification touches candidates only."""
    cands = lsh_banded_pairs(
        vectors, dim, id_col, vec_col, tables, planes_per_table,
        round_digits, max_bucket_size,
    )
    v = vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    )
    va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), round_digits))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def dimension_centroids(
    vectors: DataFrame,
    dim: int,
    cell_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(cell, centroid: array<double>) — dimension-wise mean per cell,
    each component rounded so downstream rankings are engine-portable.

    ``dim`` avg-aggregates in one pass (map-side combined). With no
    natural cell column, seed cells via lsh_bucket and iterate Lloyd's
    algorithm — the aggregation shape is identical."""
    v = vectors.select(
        F.col(cell_col).alias("cell"), as_double(F.col(vec_col)).alias("v")
    )
    aggs = [
        F.round(F.avg(F.element_at("v", i + 1)), round_digits).alias(f"c{i}")
        for i in range(dim)
    ]
    return (
        v.groupBy("cell")
        .agg(*aggs)
        .select(
            "cell", F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("centroid")
        )
    )


def probe_cells(
    q: DataFrame,
    cents: DataFrame,
    nprobe: int,
    round_digits: int = 6,
) -> DataFrame:
    """(query_id, qv, cell): each query's ``nprobe`` nearest coarse
    cells by ROUNDED centroid cosine with a cell tiebreak — the shared
    probe-selection discipline of :func:`ivf_topk` and
    operators/pq.ivfpq_topk (ONE copy so the rounding/tiebreak contract
    cannot drift between the two). ``q`` is (query_id, qv double-array);
    the centroid table broadcasts."""
    qc = q.join(F.broadcast(cents)).withColumn(
        "ccos",
        F.round(cosine(F.col("qv"), F.col("centroid")), round_digits),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cell")
    )
    return (
        qc.withColumn("crnk", F.row_number().over(wq))
        .filter(F.col("crnk") <= nprobe)
        .select("query_id", "qv", "cell")
    )


def lloyd_cells(
    vectors: DataFrame,
    dim: int,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic, engine-portable k-means cell assignment: (id, cell).

    Init: the k vectors with smallest (md5-hash(id), id) become centroids
    cell 0..k-1 (portable pseudo-random seeding — the DuckDB oracle picks
    the identical seeds). Each Lloyd iteration = one broadcast-join
    assignment pass (argmax ROUNDED cosine over k centroids, tiebreak on
    cell) + one dimension-wise ROUNDED mean aggregation. Per iteration the
    corpus is scanned once; centroids stay model-sized and broadcast."""
    v = vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    )
    v.persist()
    # seed selection via global TakeOrdered (no single-partition window);
    # k centroid vectors are model-sized -> collected and re-broadcast
    seed_rows = (
        v.orderBy(md5_long(F.col("id").cast("string"), 15), F.col("id"))
        .limit(k)
        .collect()
    )
    cents = vectors.sparkSession.createDataFrame(
        [(i, list(r["v"])) for i, r in enumerate(seed_rows)],
        "cell int, centroid array<double>",
    )
    assign = None
    for _ in range(max(iters, 1)):
        scored = v.join(F.broadcast(cents)).withColumn(
            "ccos", F.round(cosine(F.col("v"), F.col("centroid")), round_digits)
        )
        # argmax(rounded ccos, tiebreak cell ASC) as max(struct(ccos,
        # -cell)) + first(v): a partial-aggregable groupBy instead of a
        # per-id row_number window — the window shuffles AND sorts the
        # full id x k scored table, the agg map-side combines to ONE row
        # per id before the exchange (k-fold shuffle-volume cut at
        # corpus scale; identical assignment — struct ordering is
        # lexicographic, so max(ccos, -cell) == orderBy(ccos DESC, cell)
        # row 1). v is constant within an id's group, so first(v) is
        # deterministic in value.
        assign = (
            scored.groupBy("id")
            .agg(
                F.max(F.struct(F.col("ccos"), (-F.col("cell")).alias("_nc")))
                .alias("_best"),
                F.first("v").alias("v"),
            )
            .select(
                "id", (-F.col("_best._nc")).cast("int").alias("cell"), "v"
            )
        )
        cents = dimension_centroids(assign, dim, "cell", "v", round_digits)
    v.unpersist()
    return assign.select("id", "cell")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    cell_col: str = "label",
    k: int = 10,
    nprobe: int = 3,
    round_digits: int = 6,
    include_self: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    cells around centroids, probe only the ``nprobe`` cells nearest each
    query.

    Cells here come from ``cell_col`` (lloyd_cells output is a drop-in).
    Corpus-side cost at scale: ONE scan to assign cells (vs tiny broadcast
    centroids) + a narrow cell-equi-join per query batch — same profile as
    sign-LSH but with data-adaptive cells, which is why IVF recalls better
    on clustered embeddings.
    """
    cents = dimension_centroids(vectors, dim, cell_col, vec_col, round_digits)
    v = vectors.select(
        F.col(id_col).alias("nbr_id"),
        F.col(cell_col).alias("cell"),
        as_double(F.col(vec_col)).alias("v"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    # rank cells per query by ROUNDED centroid cosine; keep nprobe nearest
    probes = probe_cells(q, cents, nprobe, round_digits)
    scored = v.join(F.broadcast(probes), ["cell"])
    if not include_self:
        scored = scored.filter(F.col("nbr_id") != F.col("query_id"))
    scored = scored.withColumn(
        "cos", F.round(cosine(F.col("v"), F.col("qv")), round_digits)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "nbr_id", "cos", "rnk")
    )


def cosine_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_digits: int = 6,
) -> DataFrame:
    """All-pairs cosine >= threshold (exact; quadratic — small corpora and
    recall tests only; the registered dedup path is
    cosine_pairs_bucketed)."""
    v = vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    )
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), round_digits))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
