"""Model-based document quality signals (the FineWeb-Edu /
DataComp-style classifier input): per-document native-Column features
— length, mean word length, stopword ratio, alphabetic ratio and the
Gopher repetition signals — in one scan with no Python in the row
loop. ``FEATURE_COLS`` names them in a fixed order; the curation gate
(queries/curation_q.py) pins them against its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["quality_features"]

FEATURE_COLS = [
    "f_n_words",
    "f_mean_word_len",
    "f_stop_ratio",
    "f_alpha_ratio",
    "f_top_bigram_frac",
    "f_dup_line_frac",
]

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _toks(text_col: str) -> Column:
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )


def quality_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, f_*) — the classifier's input signals, all native Column
    exprs over per-doc arrays (one scan, no shuffle): length, mean word
    length, stopword ratio, alphabetic-character ratio, and the Gopher
    repetition signals (operators/textproc.repetition_scores)."""
    from .textproc import repetition_scores

    toks = _toks(text_col)
    n_words = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_alpha = F.length(
        F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        n_words.cast("double").alias("f_n_words"),
        F.when(
            n_words > 0,
            (F.length(text_col) - (n_words - 1)) / n_words,
        ).otherwise(0.0).alias("f_mean_word_len"),
        F.when(n_words > 0, n_stop / n_words).otherwise(0.0).alias(
            "f_stop_ratio"
        ),
        F.when(
            F.length(text_col) > 0, n_alpha / F.length(text_col)
        ).otherwise(0.0).alias("f_alpha_ratio"),
    )
    rep = repetition_scores(docs, id_col=id_col, text_col=text_col)
    return base.join(
        rep.select(
            "id",
            F.col("top_bigram_frac").alias("f_top_bigram_frac"),
            F.col("dup_line_frac").alias("f_dup_line_frac"),
        ),
        "id",
    )
