"""Benchmark decontamination — remove eval-set overlap from training data.

The standard contamination rule (GPT-3 appendix / open reproductions):
a training document is contaminated if it shares a word n-gram shingle
(n typically 8-13) with any benchmark document. Benchmarks are SMALL
relative to a 100 TB corpus, so the benchmark shingle set is broadcast
and the corpus side is one linear shingle scan + a broadcast hash join —
no shuffle of corpus data beyond the per-doc overlap count.

Shingling reuses operators/shingles.py (distinct word n-grams, O(len)
per document, native Column exprs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .shingles import shingle_table, word_shingle_arrays
from .xplode import explode_nonempty


def contamination_hits(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """(id, bench_id, n_shared) for every corpus/benchmark document pair
    sharing a distinct n-gram shingle — the audit trail of WHAT matched,
    not just a drop flag."""
    corpus_sh = shingle_table(docs, id_col, text_col, n)
    bench_sh = shingle_table(bench, bench_id_col, bench_text_col, n).select(
        F.col("id").alias("bench_id"), "shingle"
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def contamination_containment(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_containment_pct: int = 70,
) -> DataFrame:
    """(id, bench_id, n_shared, n_bench, containment_pct) for every
    corpus/benchmark pair where at least ``min_containment_pct`` percent
    of the BENCHMARK document's distinct n-grams appear in the training
    document — the normalized contamination rule (PaLM / Llama style:
    an eval item is leaked when ~70% of its 8-grams occur verbatim),
    which an absolute shared-shingle count cannot express because eval
    items vary wildly in length.

    Same scale shape as contamination_hits: benchmark shingles (with
    each item's set size carried THROUGH the explode — no join-back)
    are broadcast; the corpus side is one linear shingle scan + a
    broadcast hash join + one count aggregation. The threshold test is
    integer cross-multiplication (n_shared*100 >= pct*n_bench) — no
    float division in the decision; containment_pct is the floor
    percentage, reported for audit.
    """
    corpus_sh = shingle_table(docs, id_col, text_col, n)
    bench_arr = word_shingle_arrays(bench, bench_id_col, bench_text_col, n)
    bench_sh = explode_nonempty(
        bench_arr.select(
            F.col("id").alias("bench_id"),
            F.size("shs").alias("n_bench"),
            "shs",
        ),
        ["bench_id", "n_bench"], "shs", "shingle",
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id", "bench_id", "n_bench")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.filter(
        F.col("n_shared") * 100
        >= F.lit(min_containment_pct) * F.col("n_bench")
    ).select(
        "id",
        "bench_id",
        "n_shared",
        "n_bench",
        F.floor(F.col("n_shared") * 100 / F.col("n_bench")).alias(
            "containment_pct"
        ),
    )


def decontaminate_by_containment(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_containment_pct: int = 70,
) -> DataFrame:
    """``docs`` minus every document holding >= ``min_containment_pct``
    percent of any benchmark item's n-grams (schema preserved;
    broadcast anti-join against the contaminated-id set)."""
    hits = contamination_containment(
        docs, bench, id_col, text_col, bench_id_col, bench_text_col,
        n, min_containment_pct,
    ).select(F.col("id").alias(id_col)).distinct()
    return docs.join(F.broadcast(hits), id_col, "left_anti")


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """``docs`` minus every document contaminated by ``bench`` (schema
    preserved; broadcast anti-join against the contaminated-id set)."""
    hits = contamination_hits(
        docs, bench, id_col, text_col, bench_id_col, bench_text_col,
        n,
    ).select(F.col("id").alias(id_col)).distinct()
    return docs.join(F.broadcast(hits), id_col, "left_anti")
