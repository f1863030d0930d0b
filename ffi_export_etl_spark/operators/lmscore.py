"""N-gram language-model scoring for quality filtering (the CCNet
recipe: score documents by how "reference-like" their text is, drop the
worst tail).

A bigram model with add-k smoothing, built and applied entirely with
DataFrame ops — counts are map-side-combined aggregations, scoring is
two broadcast-or-shuffle joins on token keys, and the per-document
average negative log-probability comes from one groupBy. No model file,
no Python in the row loop, and the arithmetic is engine-portable
(exact integer counts; ln + round like operators/bm25.py), so a DuckDB
oracle can replay the whole thing — the driver gate value-hash-checks
it (text_langfp_pack's lm arm).

Scale shape:

- TRAIN: one scan of the reference corpus -> (w1, w2, c12) and
  (w1, c1) count tables, partial-agg'd. The model tables are vocab-
  sized, not corpus-sized.
- SCORE: one scan of the target corpus exploding bigrams, a left join
  per table (broadcast when the model is small, shuffle-hash
  otherwise — Spark/AQE decides from sizes), one groupBy doc.
- A 100 TB corpus scored against a fixed reference model touches the
  reference exactly once, at train time.

The sentinel ``BOS`` token scores the first word of each document, so
one-word documents still get a defined probability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.porthash import ROUND_DIGITS
from .xplode import explode_nonempty

__all__ = ["train_bigram_lm", "score_documents", "BOS"]

BOS = "\x02"  # sentinel: never produced by whitespace tokenization


def _tokens(text_col: str) -> Column:
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )


def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — consecutive token pairs, BOS-prefixed."""
    toks = F.concat(F.array(F.lit(BOS)), _tokens(text_col))
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return explode_nonempty(
        docs, [F.col(id_col).alias("id")], pairs, "p"
    ).select("id", "p.w1", "p.w2")


def train_bigram_lm(
    reference: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """(bigram_counts, unigram_counts, vocab_size) from a reference
    corpus: (w1, w2, c12), (w1, c1) and |V| (distinct w2 values +1 for
    unseen). Counts are exact longs."""
    ref = reference.select(F.monotonically_increasing_id().alias("_id"),
                           F.col(text_col))
    bg = _bigrams(ref, "_id", text_col)
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    unigrams = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = bg.select("w2").distinct().count() + 1
    return bigrams, unigrams, vocab


def score_documents(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, sum_nlp_micro, avg_neg_logprob) per document —
    the perplexity proxy (exp of the avg would be perplexity; the log
    stays monotone and portable). Lower = more reference-like. Add-one
    smoothing: P(w2|w1) = (c12 + 1) / (c1 + |V|); unseen words fall out
    of the left joins as c = 0.

    Portability: each bigram's -ln P is quantized to integer
    MICRO-units (round(x * 1e6) as LONG), so the per-document sum is an
    exact integer — order-independent across partitionings and engines,
    no float value-hash risk at all (stronger than the rounded-double
    convention: a sum of hundreds of rounded doubles could still differ
    in the last ulp). The float average is derived from the exact sum
    by one final division."""
    bg = _bigrams(docs, id_col, text_col)
    nlp = -F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(vocab_size)))
    )
    scored = (
        bg.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .select(
            "id",
            F.round(nlp * F.lit(1000000.0)).cast("long").alias("nlp_micro"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum("nlp_micro").alias("sum_nlp_micro"),
    ).select(
        "id",
        "n_bigrams",
        "sum_nlp_micro",
        F.round(
            F.col("sum_nlp_micro")
            / (F.col("n_bigrams") * F.lit(1000000.0)),
            ROUND_DIGITS,
        ).alias("avg_neg_logprob"),
    )
