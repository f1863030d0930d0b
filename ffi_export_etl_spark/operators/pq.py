"""Product quantization (PQ) — compressed embeddings + ADC search.

The missing tier between the int8 scalar quantizer (operators/quantize.py,
4x compression) and full vectors: PQ splits each
D-dim vector into M subvectors, k-means-quantizes each subspace to K
centroids, and stores only the M one-byte-ish codes — D*8 bytes ->
M bytes (e.g. 32-dim float64 = 256 B -> 4 B at M=4), the compression
that makes billion-vector ANN fit in memory (Jegou et al. 2011,
"Product Quantization for Nearest Neighbor Search").

Search is ADC (asymmetric distance computation): the query stays exact;
per (query, subspace, centroid) a lookup table of squared L2 distances
is built (Q x M x K rows — model-sized, broadcast), and a candidate's
distance is the SUM of its codes' table entries — no vector arithmetic
per candidate, just M lookups.

Spark shapes, sized for 100 TB:
- training: ONE Lloyd loop over an (id, sub, subvec) frame — all M
  subspaces train concurrently in the same shuffle (groupBy (sub,
  cell)), not M sequential jobs; centroids are model-sized and
  broadcast. Deterministic md5 seeding + ROUNDED means/distances, the
  lloyd_cells discipline, so runs are reproducible cross-engine.
- encoding: one corpus scan, broadcast codebooks, argmin per (id, sub)
  with a deterministic tiebreak; codes collect back to one array row
  per id (shuffle on id, M rows each).
- search: codes explode narrowly (M per id, co-partitioned), broadcast
  LUT join, and the per-(query, id) distance sum map-side combines —
  the shuffle carries ~|corpus| x |queries| partial sums, so compose
  with an IVF cell filter (ivf_topk's probe set) to cut the corpus
  side before ADC when the query batch is large.

Distances are squared L2 (the PQ-native metric; cosine needs
pre-normalized vectors, which makes L2 rank-equivalent to cosine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.porthash import ROUND_DIGITS, md5_long
from .similarity import as_double

def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )


def _subvectors(df, dim: int, m: int, id_col: str, vec_col: str):
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(as_double(F.col(vec_col)), s * d_sub + 1, d_sub)
                .alias("sv"),
            )
            for s in range(m)
        ]
    )  # constant-length fan: constant-folds, no InferFilters hazard
    return df.select(
        F.col(id_col).alias("id"), F.explode(subs).alias("_e")
    ).select("id", F.col("_e.sub").alias("sub"), F.col("_e.sv").alias("sv"))


def pq_train(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Codebooks: (sub, cell, centroid array<double>) — per-subspace
    k-means, all subspaces in one grouped Lloyd loop. Seeds: the k
    vectors with smallest (md5(id), id) provide every subspace's
    initial centroids (the lloyd_cells portable seeding)."""
    sv = _subvectors(vectors, dim, m, id_col, vec_col)
    sv.persist()
    d_sub = dim // m
    seed_rows = (
        sv.select("id")
        .distinct()
        .orderBy(md5_long(F.col("id").cast("string"), 15), F.col("id"))
        .limit(k)
        .collect()  # k ids — model-sized driver list
    )
    spark = vectors.sparkSession
    from pyspark.sql.types import IntegerType, StructField, StructType

    seed_df = spark.createDataFrame(
        [(r["id"], c) for c, r in enumerate(seed_rows)],
        StructType(
            [
                StructField("id", sv.schema["id"].dataType),
                StructField("cell", IntegerType()),
            ]
        ),
    )
    cents = (
        sv.join(F.broadcast(seed_df), "id")
        .select("sub", "cell", F.col("sv").alias("centroid"))
    )
    for _ in range(max(iters, 1)):
        scored = sv.join(F.broadcast(cents), "sub").withColumn(
            "d", F.round(_sq_l2(F.col("sv"), F.col("centroid")), ROUND_DIGITS)
        )
        # argmin(d, cell) as min(struct(d, cell)): partial-aggregable —
        # the old per-(id, sub) row_number window shuffled AND sorted
        # the full (id, sub) x k scored table; the agg map-side combines
        # to one row per group (identical assignment — struct ordering
        # is lexicographic). sv is constant within a group.
        assign = (
            scored.groupBy("id", "sub")
            .agg(
                F.min(F.struct("d", "cell")).alias("_best"),
                F.first("sv").alias("sv"),
            )
            .select("id", "sub", F.col("_best.cell").alias("cell"), "sv")
        )
        aggs = [
            F.round(F.avg(F.element_at("sv", i + 1)), ROUND_DIGITS).alias(
                f"c{i}"
            )
            for i in range(d_sub)
        ]
        cents = (
            assign.groupBy("sub", "cell")
            .agg(*aggs)
            .select(
                "sub",
                "cell",
                F.array(*[F.col(f"c{i}") for i in range(d_sub)]).alias(
                    "centroid"
                ),
            )
        )
    # materialize codebooks (model-sized) so callers reuse a fixed
    # artifact instead of re-running the training plan per consumer
    out = cents.localCheckpoint()
    sv.unpersist()
    return out


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — per-subspace nearest-centroid codes,
    deterministic (rounded distance, cell tiebreak). One corpus scan +
    one id-grain shuffle to collect the M codes into array order."""
    sv = _subvectors(vectors, dim, m, id_col, vec_col)
    scored = sv.join(F.broadcast(codebooks), "sub").withColumn(
        "d", F.round(_sq_l2(F.col("sv"), F.col("centroid")), ROUND_DIGITS)
    )
    # argmin(d, cell) via min(struct(d, cell)) — see pq_train: one
    # map-side-combined row per (id, sub) instead of a sorted window
    # over the full scored table
    best = (
        scored.groupBy("id", "sub")
        .agg(F.min(F.struct("d", "cell")).alias("_best"))
        .select("id", "sub", F.col("_best.cell").alias("cell"))
    )
    return best.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cell"))),
            lambda s: s["cell"],
        ).alias("codes")
    )


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    m: int | None = None,
) -> DataFrame:
    """ADC top-k: (query_id, nbr_id, adc_dist, rnk), ascending squared-L2
    estimate. ``codes`` is pq_encode output; queries stay exact. The LUT
    (query x sub x cell) broadcasts; candidate cost is M lookups summed
    map-side. A corpus-id query never retrieves itself (see
    :func:`_adc_scores`)."""
    scored = _adc_scores(
        codes, codebooks, queries,
        query_id_col=query_id_col, vec_col=vec_col,
        dim=dim, m=m,
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "nbr_id", "adc_dist", "rnk")
    )


def pq_topk_rerank(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    rerank: int = 100,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    m: int | None = None,
) -> DataFrame:
    """ADC shortlist -> EXACT re-rank: (query_id, nbr_id, dist, rnk),
    ascending true squared L2. The recall fix from Jegou et al. 2011
    SVI (IVFADC+R): quantization error caps plain ADC recall hard on
    low-structure embeddings (measured ~18% recall@10 on the sf0.1
    synthetic vectors), but ADC is a cheap FILTER — keep the top
    ``rerank`` candidates per query by ADC, then score just those with
    the exact vectors (measured 61% at rerank=100, 75% at 200 — same
    codes, same in-memory index).

    Scale shape: the PQ codes remain the only corpus-sized in-memory
    structure; the exact pass touches ``rerank`` raw vectors per query,
    sliced from the vector table by a BROADCAST semi-join on the
    shortlist (queries x rerank ids — model-sized), so the raw-vector
    scan is shortlist-bounded and filter-pushed, never a second full
    corpus pass. Final window ranks queries x rerank rows."""
    short = pq_topk(
        codes, codebooks, queries, k=rerank,
        query_id_col=query_id_col, vec_col=vec_col,
        dim=dim, m=m,
    ).select("query_id", "nbr_id")
    return _exact_rerank(
        short, vectors, queries, k,
        query_id_col=query_id_col, id_col=id_col, vec_col=vec_col,
    )


def _exact_rerank(
    short: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 re-scoring of a (query_id, nbr_id) shortlist:
    the shared tail of pq_topk_rerank and ivfpq_topk_rerank. The
    shortlist broadcasts (queries x rerank ids — model-sized) so the
    raw-vector scan is shortlist-bounded and filter-pushed."""
    v = vectors.select(
        F.col(id_col).alias("nbr_id"), as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    pairs = (
        v.join(F.broadcast(short), "nbr_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "nbr_id",
            F.round(_sq_l2(F.col("v"), F.col("qv")), ROUND_DIGITS).alias(
                "dist"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "nbr_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "nbr_id", "dist", "rnk")
    )


def ivfpq_topk_rerank(
    vectors: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    dim: int,
    cells: DataFrame | None = None,
    centroids: DataFrame | None = None,
    nprobe: int = 3,
    k: int = 10,
    rerank: int = 100,
    m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The full billion-vector serving stack (IVFADC+R, Jegou et al.
    2011): coarse cells prune the corpus to nprobe cells per query, ADC
    ranks the pruned codes to a ``rerank``-deep shortlist, and the
    exact vectors re-score ONLY the shortlist — each stage touches a
    strictly smaller slice (cells -> codes-in-probed-cells -> rerank
    raw vectors per query). ``vectors`` here is the raw-vector table
    the re-rank reads (shortlist-bounded, e.g. the on-disk corpus
    behind the in-memory codes); cells/centroids are the stored coarse
    artifacts as in :func:`ivfpq_topk` (fitted from ``vectors`` when
    omitted). Returns (query_id, nbr_id, dist, rnk), ascending true
    squared L2."""
    short = ivfpq_topk(
        vectors if (cells is None or centroids is None) else None,
        codes, codebooks, queries, dim,
        cells=cells, centroids=centroids,
        nprobe=nprobe, k=rerank, m=m,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    ).select("query_id", "nbr_id")
    return _exact_rerank(
        short, vectors, queries, k,
        query_id_col=query_id_col, id_col=id_col, vec_col=vec_col,
    )


def _adc_scores(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    m: int | None = None,
) -> DataFrame:
    """All (query_id, nbr_id, adc_dist) pairs — the unranked ADC core
    shared by exhaustive :func:`pq_topk` and :func:`ivfpq_topk` (which
    must apply its per-query cell cut BEFORE any truncation).

    Candidates whose id EQUALS the query_id are dropped — the near-dup
    convention every dedup caller relies on, and a sharp edge for
    retrieval: a corpus-id query can never retrieve its own row, so a
    retrieval caller gives queries their own id space."""
    # one-row aggregate over the model-sized codebook table -> driver
    # scalar (never data-sized)
    mm = m if m is not None else codebooks.agg(
        F.countDistinct("sub")
    ).collect()[0][0]
    dd = dim
    if dd is None:
        # centroid width x M — one row probe of the model-sized table
        dd = mm * len(codebooks.select("centroid").first()["centroid"])
    qsubs = _subvectors(queries, dd, mm, query_id_col, vec_col).select(
        F.col("id").alias("query_id"), "sub", F.col("sv").alias("qv")
    )
    lut = qsubs.join(F.broadcast(codebooks), "sub").select(
        "query_id",
        "sub",
        "cell",
        F.round(_sq_l2(F.col("qv"), F.col("centroid")), ROUND_DIGITS)
        .alias("d"),
    )
    cand = codes.select(
        F.col("id").alias("nbr_id"),
        F.posexplode("codes").alias("sub", "cell"),
    )
    return (
        cand.join(F.broadcast(lut), ["sub", "cell"])
        .filter(F.col("nbr_id") != F.col("query_id"))
        .groupBy("query_id", "nbr_id")
        # ordered fold, not SUM: float addition is order-sensitive and
        # an engine-replaying oracle must add the M terms in the same
        # sequence (collect_list still map-side combines; M is tiny)
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("sub", "d"))),
                    F.lit(0.0),
                    lambda a, x: a + x["d"],
                ),
                ROUND_DIGITS,
            ).alias("adc_dist")
        )
    )


def ivfpq_topk(
    vectors: DataFrame | None,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    dim: int,
    cells: DataFrame | None = None,
    centroids: DataFrame | None = None,
    nprobe: int = 3,
    k: int = 10,
    m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF+PQ — the billion-vector ANN shape: a coarse quantizer prunes
    the corpus to the ``nprobe`` cells nearest each query, and ADC ranks
    only the codes inside those cells. Corpus-side cost per query batch:
    the cell equi-join's slice (~nprobe/16 of the codes), never
    the whole code table — this is what bounds the ADC shuffle that
    exhaustive :func:`pq_topk` pays.

    Production passes STORED ``cells`` (id, cell) AND ``centroids``
    (cell, centroid) — then ``vectors`` may be None and no raw-vector
    scan happens at all. When either artifact is missing it is fitted /
    derived from ``vectors`` (one corpus scan — the fit path, 16 coarse
    cells).

    The per-query cell cut is applied to the SCORES, before any
    truncation: ranking first and filtering after would let an
    out-of-probe candidate occupy a top-k slot and silently evict the
    query's true k-th in-probe neighbor.
    """
    from .similarity import dimension_centroids, probe_cells

    if cells is None or centroids is None:
        if vectors is None:
            raise ValueError(
                "pass vectors to fit, or stored cells AND centroids"
            )
    if cells is None:
        from .similarity import lloyd_cells

        cells = lloyd_cells(
            vectors, dim, k=16, id_col=id_col, vec_col=vec_col
        )
    if centroids is None:
        centroids = dimension_centroids(
            vectors.join(cells.withColumnRenamed("id", id_col), id_col),
            dim, "cell", vec_col,
        )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    probes = probe_cells(q, centroids, nprobe).select(
        "query_id", "cell"
    )
    # ONE join attaches each code row's cell; the union-of-probed-cells
    # semi-join slices the corpus-side scan, and the same frame yields
    # the per-query allowed pairs (no second corpus-slice join)
    coded_cells = codes.join(
        cells.withColumnRenamed("id", "_cid"),
        codes["id"] == F.col("_cid"),
    ).select("id", "codes", "cell")
    sliced = coded_cells.join(
        F.broadcast(probes.select("cell").distinct()), "cell", "left_semi"
    )
    allowed = (
        sliced.select(F.col("id").alias("nbr_id"), "cell")
        .join(F.broadcast(probes), "cell")
        .select("query_id", "nbr_id")
        .distinct()
    )
    scored = _adc_scores(
        sliced.select("id", "codes"), codebooks, queries,
        query_id_col=query_id_col, vec_col=vec_col, dim=dim, m=m,
    ).join(allowed, ["query_id", "nbr_id"], "left_semi")
    w = Window.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "nbr_id", "adc_dist", "rnk")
    )
