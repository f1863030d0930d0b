"""SemDeDup-style semantic deduplication over an embedding column
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

The scheme: k-means the corpus embeddings, then search for near-dup
pairs ONLY within each cluster — the quadratic cosine comparison runs on
corpus/k-sized cells instead of the whole corpus, which is the entire
trick that makes semantic dedup feasible at web scale.

Built by composing this engine's existing primitives, all JVM-side:
- operators/similarity.lloyd_cells — deterministic, engine-portable
  k-means assignment (broadcast centroids, one corpus scan per round);
- a within-cell self-join + rounded cosine for pair generation (ONE
  shuffle by cell; a configurable cell-size cap skips degenerate cells
  instead of letting one hot cell go quadratic on the whole corpus —
  same discipline as the LSH bucket caps).

Pairs above the threshold feed operators/components.dedup_clusters like
every other pair family, so the keeper policy is the engine's min-id
one. The paper keeps the member LEAST similar to its cluster centroid
instead; that choice changes WHICH duplicate survives, never how many.

Cross-cell misses are inherent to the approximation: a duplicate pair
split by a cluster boundary is not compared. Exactly-identical vectors
can never split (identical cosine to every centroid + deterministic
tiebreak assigns them the same cell — pinned by test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import as_double, cosine, lloyd_cells

DEFAULT_MAX_CELL = 10_000


def semdedup_pairs(
    vectors: DataFrame,
    dim: int,
    k: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    max_cell_size: int | None = DEFAULT_MAX_CELL,
    round_digits: int = 6,
    cells: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, cell, cos) — within-cell pairs with cosine >=
    threshold, id_a < id_b.

    ``max_cell_size`` drops over-full cells from pair generation (a
    degenerate clustering then under-deduplicates instead of going
    quadratic); size k so expected cell size corpus/k stays well under
    it, and raise k as the corpus grows. Pass a precomputed ``cells``
    (id, cell) to reuse a persisted assignment across runs/thresholds
    instead of re-running Lloyd.
    """
    if cells is None:
        cells = lloyd_cells(
            vectors, dim, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits,
        )
    v = vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).join(cells, "id")
    if max_cell_size is not None:
        sizes = v.groupBy("cell").agg(F.count(F.lit(1)).alias("_cn"))
        v = v.join(
            sizes.filter(F.col("_cn") <= max_cell_size).select("cell"), "cell"
        )
    a = v.select(F.col("cell"), F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("cell"), F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", F.round(cosine(F.col("va"), F.col("vb")), round_digits)
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cell", "cos")
    )
