"""BM25 ranked retrieval over a document corpus.

The lexical complement to the vector-similarity family
(operators/similarity.py): score a small set of keyword queries against
an arbitrarily large corpus with the Okapi BM25 function and return the
top-k documents per query.

Scale design (the 100 TB shape):

- ONE corpus scan. Tokenization (``split`` on whitespace) and document
  length are computed in the same projection that explodes terms.
- The query-term set is tiny and broadcast, and it filters the exploded
  term stream BEFORE the first shuffle — only postings for query terms
  ever shuffle, so the per-(doc, term) aggregation is proportional to
  matching postings, not corpus size.
- Document frequency is only needed for query terms, so it aggregates
  the already-filtered postings (map-side combined, then broadcast back
  — at most |query vocabulary| rows).
- Corpus-level scalars (N, avgdl) are an exact one-row aggregate,
  collected driver-side (bounded: two numbers), mirroring the k-means
  seed pattern in operators/similarity.py.
- The final per-query top-k is a window over candidate docs only.

Engine portability: every per-term contribution is rounded to
``ROUND_DIGITS`` before the sum and the summed score is rounded again,
and ranking tiebreaks on doc id — so a DuckDB oracle replaying the same
arithmetic (ln, round) ranks identically (precedent:
operators/similarity.py rounded-cosine ranking).

Reference parity note: the reference engine (NMFWRI/FFI-Export-ETL) has
no retrieval surface; this belongs to the LLM-training-data extension
(data selection / benchmark-leak retrieval use BM25 against the corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.porthash import ROUND_DIGITS
from .xplode import explode_nonempty
from pyspark.sql.window import Window

__all__ = ["bm25_topk", "query_terms_df"]


def query_terms_df(
    spark: SparkSession, queries: dict[int, str]
) -> DataFrame:
    """(query_id, term) rows for a {query_id: "free text"} dict.

    Terms are lowercased, whitespace-split, and DEDUPED per query —
    repeated query words score once (the common BM25 simplification;
    documented so the oracle can replay it with DISTINCT).
    """
    rows = sorted(
        {
            (qid, t)
            for qid, text in queries.items()
            for t in text.lower().split()
        }
    )
    return spark.createDataFrame(rows, "query_id int, term string")


def _tokens(text_col: str) -> Column:
    # split() yields '' entries for leading/trailing whitespace — drop
    # them so dl/avgdl count real terms only (Okapi semantics)
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k per query: (query_id, doc_id, score, rnk).

    ``query_terms``: (query_id, term) — small, broadcast twice (once as a
    distinct term filter ahead of the postings shuffle, once to attach
    query ids to scored postings). idf uses the non-negative
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` form (Lucene's), so scores
    are always positive and rank order is stable.
    """
    from .spread import spread_per_doc

    toks = _tokens(text_col)
    # tokenize+explode is per-doc CPU work in the scan stage: spread an
    # under-partitioned (few-file) corpus across cores first; identity
    # on a many-file corpus (no raw-text shuffle at scale)
    base = explode_nonempty(
        spread_per_doc(docs, id_col),
        [F.col(id_col).alias("doc_id"), F.size(toks).alias("dl")],
        toks, "term",
    )
    qvocab = query_terms.select("term").distinct()
    # Broadcast filter BEFORE the (doc, term) shuffle: only postings for
    # query terms leave the scan stage.
    postings = (
        base.join(F.broadcast(qvocab), "term")
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    # Corpus scalars: exact one-row aggregate (driver-side, bounded).
    # avgdl is NULL on an empty corpus (avg over zero rows) — any finite
    # stand-in works because there are no postings to score; 1.0 keeps
    # the plan well-typed so the empty slice of an incremental run
    # returns an empty result instead of raising.
    n_docs, avgdl = docs.select(
        F.count(F.lit(1)), F.avg(F.size(_tokens(text_col)))
    ).first()
    if avgdl is None:
        avgdl = 1.0

    # df per query term as a WINDOW over the already-shuffled postings —
    # a broadcast of a derived aggregate here would recompute the whole
    # postings subtree (and rescan the corpus) for the broadcast side;
    # the window reuses it for one small per-term exchange instead.
    df = F.count(F.lit(1)).over(Window.partitionBy("term"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = F.round(
        idf
        * (F.col("tf") * (k1 + 1))
        / (
            F.col("tf")
            + F.lit(k1)
            * (1 - b + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
        ),
        ROUND_DIGITS,
    )
    scored = (
        postings.withColumn("df", df)
        .join(F.broadcast(query_terms), "term")
        .withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), ROUND_DIGITS).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "score", "rnk")
    )
