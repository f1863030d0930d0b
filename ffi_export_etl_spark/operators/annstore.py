"""Persisted IVF-PQ ANN index — build once, search many, grow daily.

The dedup families have signature STORES (exact digests, minhash bands,
span digests) so increments never re-derive history; the ANN family had
only per-call composition (operators/pq.ivfpq_topk fits or receives its
artifacts in memory). This module is the missing persisted form — the
index a similarity-serving deployment actually keeps on disk:

    index_dir/
      _meta.json     dim, m, pq_k, coarse_k, round_digits, version
      centroids/     (cell, centroid)          model-sized parquet
      codebooks/     (sub, cell, centroid)     model-sized parquet
      codes/         (id, codes) PARTITIONED BY cell   data-sized

Design for 100 TB:

- ``codes`` is hive-partitioned by coarse cell, so a search reading
  ``nprobe`` of ``coarse_k`` cells is PARTITION-PRUNED at the scan —
  the physical plan touches ~nprobe/coarse_k of the corpus files
  (asserted by test), never a full scan + filter.
- The model artifacts (centroids, codebooks) are tiny and broadcast;
  search cost per query batch is the probed slice's ADC join only.
- ``ann_index_add`` encodes arrivals with the STORED model — no
  retrain, one arrival-sized encode + a partitioned append; the
  incremental cost is proportional to the arrival exactly like the
  signature-store deltas. (Re-training on the grown corpus is a
  rebuild, deliberately explicit, not something an append triggers.)
- All math delegates to the existing operators (lloyd_cells /
  dimension_centroids / pq_train / pq_encode / probe_cells /
  _adc_scores), so the stored form cannot drift from the in-memory
  family — pinned by an equality test against ivfpq_topk.

Same-id appends are the caller's contract (like the signature stores:
dedup upstream); a duplicate id would simply occupy two code rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.porthash import ROUND_DIGITS
from .pq import _adc_scores, _exact_rerank, pq_encode, pq_train
from .similarity import (
    as_double,
    dimension_centroids,
    lloyd_cells,
    probe_cells,
)

_META = "_meta.json"
_VERSION = 1


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, _META)


def _write_model_table(df: DataFrame, out_dir: str) -> None:
    """Driver-side parquet write of a MODEL-SIZED frame (see
    write_ann_index): collect -> Arrow table -> one file. Schema goes
    through the Arrow conversion of the collected rows, so int/array
    column types round-trip the same as a Spark write for the index's
    artifact shapes (pinned by the stored-vs-in-memory equality
    tests)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = df.collect()
    cols = df.columns
    # exact type fidelity with a Spark write (int stays int32, arrays
    # stay list<double>): build the Arrow schema from the Spark schema,
    # never infer from Python values
    schema = to_arrow_schema(df.schema)
    table = pa.table(
        {c: [r[c] for r in rows] for c in cols}, schema=schema
    )
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)  # overwrite semantics, like the old path
    os.makedirs(out_dir)
    pq.write_table(table, os.path.join(out_dir, "part-0.parquet"))


def read_ann_index_meta(index_dir: str) -> dict:
    with open(_meta_path(index_dir)) as f:
        meta = json.load(f)
    if meta.get("version") != _VERSION:
        raise ValueError(
            f"unsupported ann index version {meta.get('version')!r} at "
            f"{index_dir} (expected {_VERSION})"
        )
    if meta.get("round_digits", ROUND_DIGITS) != ROUND_DIGITS:
        # probes and codes are computed at ROUND_DIGITS; an index built
        # at another rounding would be searched and extended off its grid
        raise ValueError(
            f"ann index at {index_dir} was built with round_digits="
            f"{meta['round_digits']!r} (expected {ROUND_DIGITS})"
        )
    return meta


def write_ann_index(
    index_dir: str,
    centroids: DataFrame,
    codebooks: DataFrame,
    coded_cells: DataFrame,
    dim: int,
    coarse_k: int,
    m: int,
    pq_k: int,
) -> dict:
    """Persist PRE-FITTED artifacts as a complete index: ``centroids``
    (cell, centroid), ``codebooks`` (sub, cell, centroid) and
    ``coded_cells`` (id, codes, cell). The production split — models
    are trained once (or are fixed/offline artifacts) and the index
    write is the only data-sized step; :func:`build_ann_index` is the
    fit-then-write convenience over this. Returns the meta dict (also
    written to ``_meta.json``, LAST — its presence marks a complete
    index, so a crashed write is re-runnable and never readable).

    The model artifacts are BROADCAST-SIZED by contract (coarse_k and
    m x pq_k rows), so they are collected and written driver-side via
    Arrow — a distributed write for a 24-row table is pure
    scheduler/committer overhead (~0.5s/table measured), and collect
    is bounded by the same contract that lets every search broadcast
    them. Only ``coded_cells`` — the corpus-sized artifact — takes the
    distributed partitioned-write path."""
    os.makedirs(index_dir, exist_ok=True)
    _write_model_table(
        centroids.select("cell", "centroid"),
        os.path.join(index_dir, "centroids"),
    )
    _write_model_table(
        codebooks.select("sub", "cell", "centroid"),
        os.path.join(index_dir, "codebooks"),
    )
    (
        coded_cells.select("id", "codes", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(index_dir, "codes"))
    )
    meta = {
        "version": _VERSION,
        "dim": dim,
        "coarse_k": coarse_k,
        "m": m,
        "pq_k": pq_k,
        "round_digits": ROUND_DIGITS,
        # The code table's schema rides the meta (r11): an EMPTY corpus
        # writes zero part files under codes/ (partitionBy writes only
        # _SUCCESS), so a schema-inferring read of the index would
        # throw UNABLE_TO_INFER_SCHEMA — and on non-empty indexes the
        # stored schema lets every search skip footer inference.
        "codes_schema": coded_cells.select(
            "id", "codes", "cell"
        ).schema.jsonValue(),
    }
    with open(_meta_path(index_dir), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def build_ann_index(
    vectors: DataFrame,
    index_dir: str,
    dim: int,
    coarse_k: int = 16,
    m: int = 4,
    pq_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fit the coarse quantizer + PQ codebooks on ``vectors``, encode the
    corpus, and persist the index at ``index_dir``. Returns the meta
    dict (also written to ``_meta.json``). One fitting pass per Lloyd
    iteration + one encode pass; the write is the only data-sized
    artifact and lands partitioned by cell."""
    cells = lloyd_cells(
        vectors, dim, k=coarse_k, iters=iters, id_col=id_col,
        vec_col=vec_col,
    )
    centroids = dimension_centroids(
        vectors.join(cells.withColumnRenamed("id", id_col), id_col),
        dim, "cell", vec_col,
    )
    codebooks = pq_train(
        vectors, dim, m=m, k=pq_k, iters=iters, id_col=id_col,
        vec_col=vec_col,
    )
    codes = pq_encode(
        vectors, codebooks, dim, m=m, id_col=id_col, vec_col=vec_col
    )
    return write_ann_index(
        index_dir, centroids, codebooks, codes.join(cells, "id"),
        dim=dim, coarse_k=coarse_k, m=m, pq_k=pq_k,
    )


def _read_codes(spark: SparkSession, index_dir: str, meta: dict):
    """The partitioned code table, read with the schema stored in the
    index meta when present (works for an EMPTY index, whose codes/
    dir has no schema-bearing part file, and skips footer inference
    otherwise). Pre-r11 indexes without the stamp fall back to
    inference, exactly the old behavior."""
    from pyspark.sql.types import StructType

    reader = spark.read
    cs = meta.get("codes_schema")
    if cs is not None:
        reader = reader.schema(StructType.fromJson(cs))
    return reader.parquet(os.path.join(index_dir, "codes"))


def _assign_cells(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, cell): nearest coarse centroid by the probe discipline
    (rounded cosine, cell tiebreak) — nprobe=1 of probe_cells, so
    assignment and search probing can never use different metrics."""
    q = v.select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    return probe_cells(q, centroids, 1).select(
        F.col("query_id").alias("id"), "cell"
    )


def ann_index_add(
    spark: SparkSession,
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Encode ``new_vectors`` with the STORED model and append them to
    the partitioned code table — the daily-increment shape: no retrain,
    cost proportional to the arrival. Returns {"added": n}.

    Crash semantics: the append commits at JOB level (Spark's default
    v1 file committer stages task files under ``_temporary`` until the
    job commits), so a crashed add leaves only uncommitted staging
    droppings — rerun the add. Replaying an ALREADY-committed batch
    duplicates its rows (same contract as the signature-store deltas:
    ledger the arrival batches upstream, e.g. ProcessedLedger)."""
    meta = read_ann_index_meta(index_dir)
    centroids = spark.read.parquet(os.path.join(index_dir, "centroids"))
    codebooks = spark.read.parquet(os.path.join(index_dir, "codebooks"))
    v = new_vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    )
    cells = _assign_cells(v, centroids)
    codes = pq_encode(
        new_vectors, codebooks, meta["dim"], m=meta["m"], id_col=id_col,
        vec_col=vec_col,
    )
    delta = codes.join(cells, "id").persist()
    try:
        n = delta.count()
        if n:
            delta.write.mode("append").partitionBy("cell").parquet(
                os.path.join(index_dir, "codes")
            )
    finally:
        delta.unpersist()
    return {"added": n}


def ann_index_compact(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
) -> dict:
    """Fold the code table's accumulated per-add append files, per cell
    partition (sinks/files.compact_warehouse's partitioned path) — every
    ``ann_index_add`` appends a file set into each touched cell dir, so
    a daily-add deployment needs the same bounded-file-count maintenance
    as the warehouse and the signature stores. The partition layout (and
    its scan pruning) is preserved; the model artifacts never accumulate
    (they are overwritten, not appended). Returns the per-table report
    for "codes"."""
    from ..sinks.files import compact_warehouse

    read_ann_index_meta(index_dir)  # only a complete index is foldable
    return compact_warehouse(
        spark, index_dir, tables=["codes"],
        target_file_bytes=target_file_bytes, min_files=min_files,
    )


def ann_index_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    rerank_vectors: DataFrame | None = None,
    rerank_id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, nbr_id, adc_dist, rnk) — top-``k`` per query over the
    stored index, probing each query's ``nprobe`` nearest cells.

    The probed-cell union across the batch is at most ``coarse_k``
    values (a driver-sized list), so the code scan is filtered with a
    LITERAL cell predicate — Hive partition pruning reads only those
    cell directories. The per-query cut is applied to the scores BEFORE
    ranking (the ivfpq_topk discipline: an out-of-probe candidate must
    not evict a true in-probe neighbor). With ``rerank_vectors`` (the
    raw corpus vectors) the ADC shortlist is re-scored exactly
    (IVFADC+R): per query, ``k`` exact distance evaluations.

    Inherited family semantics: a candidate whose id EQUALS the
    query_id is excluded (_adc_scores' self-pair cut — the near-dup
    convention), so a RETRIEVAL caller probing with corpus ids never
    gets the query's own row back; give queries their own id space."""
    meta = read_ann_index_meta(index_dir)
    centroids = spark.read.parquet(os.path.join(index_dir, "centroids"))
    codebooks = spark.read.parquet(os.path.join(index_dir, "codebooks"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    )
    probes = probe_cells(q, centroids, nprobe).select(
        "query_id", "cell"
    )
    # bounded by coarse_k — a driver-sized literal list, NOT data-sized;
    # isin() on the partition column is what makes the scan prune
    probed = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    sliced = (
        _read_codes(spark, index_dir, meta)
        .filter(F.col("cell").isin(probed))
    )
    allowed = (
        sliced.select(F.col("id").alias("nbr_id"), "cell")
        .join(F.broadcast(probes), "cell")
        .select("query_id", "nbr_id")
        .distinct()
    )
    scored = _adc_scores(
        sliced.select("id", "codes"), codebooks, queries,
        query_id_col=query_id_col, vec_col=vec_col, dim=meta["dim"],
        m=meta["m"],
    ).join(allowed, ["query_id", "nbr_id"], "left_semi")
    w = Window.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    shortlist = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "nbr_id", "adc_dist", "rnk")
    )
    if rerank_vectors is None:
        return shortlist
    return _exact_rerank(
        shortlist.select("query_id", "nbr_id"), rerank_vectors, queries,
        k, query_id_col=query_id_col, id_col=rerank_id_col,
        vec_col=vec_col,
    )
