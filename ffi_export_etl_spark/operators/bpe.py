"""Byte-pair-encoding tokenizer: distributed training and application.

The missing piece between the BPE-ish regex token COUNTER
(queries/text_q.py) and a real trainable tokenizer: learn a merge table
from the corpus, then tokenize documents with it.

Scale design (the 100 TB shape):

- Training never iterates over the corpus. ONE corpus scan builds the
  (word, n) WORD-COUNT table (a groupBy with map-side combine); every
  merge iteration then runs against that table, which is smaller than
  the corpus by the word-frequency distribution (billions of tokens ->
  millions of distinct words).
- Each iteration is: adjacent-pair counts (posexplode + count-weighted
  sum, partial agg), a 1-row argmax collected driver-side (bounded:
  one pair), and a merge rewrite of the symbol arrays — a pure
  ``F.aggregate`` higher-order function, JVM-side, no shuffle. Only the
  pair-count aggregation shuffles, and it shuffles the word table, not
  the corpus.
- The plan would deepen by one aggregate per merge, so each iteration
  ``localCheckpoint``s the rewritten table and releases the previous
  round's blocks eagerly (the operators/components.py pattern).
- APPLYING the tokenizer is one corpus scan through an Arrow-batched
  ``mapInPandas`` with the merge-rank dict in the closure (a few MB for
  a 50k vocabulary — executor-local, no join). A per-merge Column
  expression chain would nest thousands deep; the rank-greedy loop is
  the classic implementation and is O(word_len) amortized per word with
  the cache.

Determinism: ties in pair frequency break lexicographically, so the
learned merge table is independent of partitioning and engine.

Reference parity note: the reference engine (NMFWRI/FFI-Export-ETL) has
no tokenizer surface; this extends the LLM-training-data family
(vocab_frequencies in operators/textproc.py is the 1-gram special
case).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .xplode import explode_nonempty
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "word_count_table",
    "train_bpe_full",
    "apply_bpe",
    "bpe_encode_word",
]

# the SAME word-splitting semantics as the training side's
# F.split(col, r"\s+"): Java \s is ASCII-only by default, so the Python
# twin must be ASCII too (re.ASCII) — otherwise a corpus word containing
# U+00A0 would be one token at train time and two at apply time
_WS_RE = re.compile(r"\s+", re.ASCII)


def word_count_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, n) over whitespace-lowercased tokens — the one corpus scan
    training runs on. Map-side combined groupBy; empty tokens dropped."""
    return (
        explode_nonempty(
            docs, [], F.split(F.lower(F.col(text_col)), r"\s+"), "word"
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _merge_expr(symbols: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping replacement of the adjacent pair
    (a, b) with their concatenation, as a single JVM-side aggregate:
    fold each symbol into an accumulator array, merging when the
    accumulator's last element is ``a`` and the incoming one is ``b``.
    Greedy-left semantics match the classic implementation because a
    merged symbol is the CONCATENATED string, which can never equal
    ``a`` again (``b`` is non-empty)."""
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _select_batch(
    cands: list,
    floor: int,
    budget: int,
    min_pair_count: int,
    vocab: frozenset | set | None = None,
) -> list[tuple[str, str, int]]:
    """Maximal EXACTLY-sequential-equivalent merge batch from one
    count-ordered candidate list (cnt desc, then lexicographic — the
    sequential trainer's exact ordering). The invariant that makes the
    batch provably equal to ``len(batch)`` sequential argmax rounds:

    - symbol-DISJOINT pairs don't change each other's counts (merging
      (a,b) only touches pairs containing a or b), so the walk stops at
      the first candidate sharing a symbol with anything selected.
      "Sharing a symbol" includes ALIASING (ADVICE r8): string
      disjointness of {a, b} is not count-independence — the selected
      merge CREATES the token a+b, so ``used`` also carries every
      selected concatenation, and a candidate's own concatenation is
      checked too (two selections producing the same token string would
      double-create one pair), which is also what keeps every selected
      pair's recorded count exact;
    - a selected pair whose concatenation already EXISTS in the corpus
      vocabulary (``vocab``) terminates the batch after itself:
      its created pairs ADD to live candidates' stale counts (e.g.
      merging ('ab','c') when an earlier round built 'abc' via
      ('a','bc') grows every ('z','abc') candidate), so the floor bound
      no longer caps what the applied prefix can promote. Selecting it
      LAST is still exact — its own count is invariant under the
      disjoint prefix, and the inflation only affects rounds after the
      batch, which re-count fresh;
    - every changed-or-created pair is bounded by ``floor`` — the count
      of the first conflict or of the first UNSEEN candidate, whichever
      is larger: a decreased pair only falls, and a pair created by
      merging (a,b) (e.g. (x, ab)) has count <= the old count of an
      overlapping pair ((x, a)), every one of which ranks at or below
      the stop point. So selected pairs with cnt STRICTLY above
      ``floor`` out-count anything the applied prefix can create, and
      equal-count disjoint survivors fall in the same lexicographic
      order sequential would pick them in.
    - the head candidate is the literal argmax and always correct, tie
      or not."""
    selected: list[tuple[str, str, int]] = []
    used: set[str] = set()
    vocab = vocab or frozenset()
    for r in cands:
        if len(selected) >= budget:
            # the budget-cut candidate is as unseen as the (N+1)th: a
            # created pair could tie it, so it must raise the floor too
            # (review r7 — without this, the LAST training round of a
            # tie-heavy corpus could keep a tied pair sequential would
            # have replaced with a just-created one)
            floor = max(floor, int(r["cnt"]))
            break
        if r["cnt"] < min_pair_count:
            # safe without a floor bump: every pair a kept merge can
            # create is bounded by an overlapping candidate, which
            # either triggered the conflict stop above this line or
            # ranks below this sub-threshold candidate
            break
        cat = r["a"] + r["b"]
        if {r["a"], r["b"], cat} & used:
            floor = max(floor, int(r["cnt"]))
            break
        selected.append((r["a"], r["b"], int(r["cnt"])))
        used.update((r["a"], r["b"], cat))
        if cat in vocab:
            # vocab aliasing (ADVICE r8): this merge's created pairs
            # stack on top of existing candidates containing `cat`, so
            # the floor can't bound later selections — close the batch
            # with this pair as its final member (see docstring)
            break
    keep = selected[:1]
    for a, b, cnt in selected[1:]:
        if cnt <= floor:
            break
        keep.append((a, b, cnt))
    return keep


def train_bpe_full(
    word_counts: DataFrame,
    num_merges: int,
    min_pair_count: int = 2,
    batch_candidates: int = 64,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges from a (word, n) table: the
    ordered merge list with the winning pair count kept per merge,
    [(a, b, cnt), ...] — the full merge-table row the driver gate pins
    (queries/curation_q.py 'bpe_merge' arm); ``apply_bpe`` takes its
    (a, b) pairs. Stops early when no adjacent pair reaches
    ``min_pair_count``. Driver memory holds only the merge list and one
    bounded candidate batch per round.

    Merge selection is BATCHED (r7): one merge per Spark round meant a
    real 50k-merge vocabulary = 50k sequential jobs. Each round now
    collects the top ``batch_candidates``(+1) pair counts (bounded,
    driver-side) and applies the maximal provably-sequential-equivalent
    prefix in ONE rewrite pass (see :func:`_select_batch` — the merge
    list is IDENTICAL to the one-per-round trainer, not approximately
    so; pinned by test). Chained disjoint merges rewrite in a single
    projection, so per-round work stays O(batch x len) while the round
    count drops by the average batch size (A/B in PERFORMANCE.md).
    ``batch_candidates=1`` recovers the sequential trainer exactly.
    The recorded cnt per merge equals its sequential-round count
    (disjointness keeps it unchanged by earlier batch members)."""
    syms = word_counts.select(
        F.split(F.col("word"), "").alias("symbols"), F.col("n")
    ).localCheckpoint(eager=True)
    # the EXACT token vocabulary is known driver-side: initial distinct
    # characters (one tiny distinct-aggregate, same size class as the
    # merge list) plus the concatenation of every applied merge. Needed
    # for the aliasing stop in _select_batch (ADVICE r8) —
    # a superset is safe (it only closes batches earlier).
    vocab: set[str] = {
        r["s"]
        for r in syms.select(
            F.explode("symbols").alias("s")
        ).distinct().collect()
    }
    merges: list[tuple[str, str, int]] = []
    try:
        while len(merges) < num_merges:
            pairs = (
                syms.filter(F.size("symbols") >= 2)
                .select(
                    F.posexplode(
                        F.slice("symbols", 1, F.size("symbols") - 1)
                    ).alias("pos", "a"),
                    F.col("symbols"),
                    F.col("n"),
                )
                .select(
                    F.col("a"),
                    F.element_at(
                        F.col("symbols"), F.col("pos") + 2
                    ).alias("b"),
                    F.col("n"),
                )
                .groupBy("a", "b")
                .agg(F.sum("n").alias("cnt"))
            )
            n_cand = max(batch_candidates, 1)
            cands = pairs.orderBy(
                F.col("cnt").desc(), F.col("a"), F.col("b")
            ).limit(n_cand + 1).collect()
            if not cands or cands[0]["cnt"] < min_pair_count:
                break
            # candidates beyond the collected window are unseen: their
            # counts are bounded by the (N+1)th — that bound feeds the
            # strict-exactness floor
            floor = int(cands[n_cand]["cnt"]) if len(cands) > n_cand else 0
            batch = _select_batch(
                cands[:n_cand], floor,
                num_merges - len(merges), min_pair_count, vocab=vocab,
            )
            merges.extend(batch)
            vocab.update(a + b for a, b, _cnt in batch)
            # disjoint merges commute; chaining them in one projection
            # applies the whole batch in a single rewrite pass
            expr = F.col("symbols")
            for a, b, _cnt in batch:
                expr = _merge_expr(expr, a, b)
            nxt = syms.select(
                expr.alias("symbols"), F.col("n")
            ).localCheckpoint(eager=True)
            _release(syms)
            syms = nxt
    finally:
        _release(syms)
    return merges


def _release(df: DataFrame) -> None:
    """Free a localCheckpoint's backing RDD eagerly (don't wait for the
    ContextCleaner)."""
    try:
        df.rdd.unpersist()
    except Exception:
        pass


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Tokenize one word with a trained merge-rank table: repeatedly
    merge the lowest-rank adjacent pair (identical to applying the
    merges in training order). Pure Python — called from the Arrow
    batch kernel and directly unit-testable."""
    syms = list(word)
    while len(syms) >= 2:
        best = None
        best_rank = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        a, b = syms[best], syms[best + 1]
        out = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe) per document: whitespace
    words, each BPE-encoded with the trained merges. Arrow-batched
    mapInPandas; the rank dict lives in the task closure (broadcast by
    the task serializer — megabytes for real vocabularies, never a
    join), with a per-batch word cache so repeated words (the whole
    point of BPE) encode once."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    id_field = docs.schema[id_col].dataType
    schema = StructType(
        [
            StructField("doc_id", id_field, True),
            StructField("bpe_tokens", ArrayType(StringType()), True),
            StructField("n_bpe", IntegerType(), True),
        ]
    )
    narrowed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lower(F.col(text_col)).alias("text"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                got = cache[word] = bpe_encode_word(word, ranks)
            return got

        for pdf in batches:
            toks = [
                [
                    t
                    for w in _WS_RE.split(text or "")
                    if w
                    for t in enc(w)
                ]
                for text in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bpe_tokens": toks,
                    "n_bpe": [len(t) for t in toks],
                }
            )

    return narrowed.mapInPandas(run, schema)
