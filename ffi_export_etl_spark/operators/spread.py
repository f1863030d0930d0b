"""Adaptive pre-spread for per-document CPU-heavy operators.

The sketch operators (shingling, simhash fingerprints) do their heavy
work — tokenize, md5 per token, explode — in the stage that reads the
corpus. Locally the documents table is often ONE parquet file -> one
scan partition -> one core, so historically they force-repartitioned by
doc id first (see 48ac2d1: bench 92s -> 17s). But at 100 TB the scan has
thousands of splits already, and that repartition becomes a full shuffle
of the RAW TEXT that buys nothing: the downstream groupBy(id) only needs
to shuffle the tiny map-side-combined partial aggregates (e.g. 21 packed
longs per doc for simhash), and the candidate joins shuffle by
shingle/bucket, not by id.

``spread_per_doc`` keeps both regimes optimal: it hash-repartitions by
the doc id ONLY when the source scan is under-partitioned (fewer input
files than requested parallelism — file count lower-bounds split count,
since files larger than spark.sql.files.maxPartitionBytes split
further). On a many-file corpus it is the identity and the full-text
shuffle disappears from the plan (pinned by tests/test_scale_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_per_doc(docs: DataFrame, key_col: str) -> DataFrame:
    """Repartition ``docs`` by ``key_col`` iff the backing scan has fewer
    input files than the session's defaultParallelism.

    ``inputFiles()`` is plan metadata (no job); non-file sources report
    an empty list and conservatively get the spread — correct either
    way, the spread is only a performance choice.

    Caveat: the probe sees the LEAF scan, not the current partitioning —
    a derived input whose partitions were collapsed upstream (e.g.
    ``docs.coalesce(1)`` over a many-file corpus) reports many files and
    skips the spread, leaving the CPU-heavy stage narrow. Callers who
    collapse partitions upstream should repartition themselves; the
    common shapes — raw scans, filters, column projections — preserve
    scan partitioning and are sized correctly by the file count.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(docs.inputFiles())
    except Exception:  # non-file-backed plans: spread, the safe default
        n_files = 0
    if n_files >= par:
        return docs
    return docs.repartition(par, F.col(key_col))
