"""Cross-document duplicate-SPAN removal — the ExactSubstr shape of
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better"): a verbatim run of >= ``span_tokens`` tokens that occurs more
than once in the corpus survives only at its first occurrence; every
other occurrence is cut out of its document, keeping the surrounding
text.

This completes the dedup family ladder: whole-document exact
(operators/exactdedup.py), whole-document near-dup sketches
(minhash/simhash/sign-LSH), paragraph-grain exact
(textproc.dedup_paragraphs, blank-line blocks), and now sub-paragraph
token-window grain — the one that catches templated boilerplate, quoted
chains, and licence text embedded mid-document where no structural
delimiter exists.

The reference engine has no text surface (extension family; see
SURVEY.md north star). Scale shape — the suffix-array construction of
the paper is replaced by the standard distributed approximation over
fixed-width token windows:

- The corpus scan tokenizes and fans out overlapping ``span_tokens``
  windows per document (posexplode over a sequence — narrow,
  executor-side, no shuffle). The window table feeds two subplans
  (digest aggregation + join-back) whose exchange children differ
  (partial-agg vs raw), so ReuseExchange cannot deduplicate them and the
  fan-out runs twice per action — the price of holding no cached plan.
- Window digests aggregate once (map-side combined groupBy on the
  16-byte md5) to find digests with more than one occurrence; the
  keeper occurrence per digest is the (min doc id, min pos) — computed
  in the same aggregation, no window function.
- Non-keeper occurrences join back (one shuffle on the digest) and
  collapse per document into MERGED covered-token intervals; the
  cleaned text is rebuilt by slicing the gaps between intervals — all
  JVM higher-order array functions, no Python in the row path, and
  linear in tokens + disjoint cut regions per document (a per-position
  membership probe would be O(|cut| x |tokens|) on dup-dense docs).

Cost: two shuffles (digest agg + digest join) both keyed on digests,
linear in corpus token count; the quadratic regime exists only when the
corpus is mostly one repeated string, where the output (rows to remove)
is itself quadratic. A window whose text occurs k times contributes
k - 1 removals — bounded by input size.

Determinism: the keeper is the lexicographically smallest (doc id,
position) occurrence, so results are independent of partitioning and
engine; the DuckDB oracle replays the exact md5-string digests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .xplode import posexplode_nonempty

__all__ = [
    "duplicate_spans",
    "remove_duplicate_spans",
    "span_digest_store",
    "incremental_remove_duplicate_spans",
    "remove_contaminated_spans",
]

DEFAULT_SPAN_TOKENS = 20


def _windows(
    docs: DataFrame, id_col: str, text_col: str, span_tokens: int
) -> DataFrame:
    """(id, pos, whash) — every overlapping span_tokens-token window.
    pos is 1-based (matches the SQL oracle's array indexing)."""
    toks = F.split(F.col(text_col), r"\s+")
    # NB: F.sequence(1, 0) DESCENDS ([1, 0]) — docs shorter than the
    # span width must produce an explicitly empty window list
    hashes = F.when(
        F.size("_toks") >= span_tokens,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - span_tokens + 1),
            lambda s: F.md5(
                F.encode(
                    F.array_join(F.slice("_toks", s, span_tokens), " "),
                    "UTF-8",
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # posexplode_nonempty: plain posexplode makes the optimizer infer
    # size(hashes) > 0 and push it below the projection with the whole
    # md5-window expression inlined — computed twice per doc
    # (operators/xplode.py)
    return posexplode_nonempty(
        docs.select(F.col(id_col).alias("id"), toks.alias("_toks")),
        ["id"], hashes, "pos0", "whash",
    ).select("id", (F.col("pos0") + 1).alias("pos"), "whash")


def _non_keeper(w: DataFrame) -> DataFrame:
    """(id, pos, whash) non-keeper occurrences of duplicated windows
    within a window table. One aggregation carries the count AND the
    keeper coordinates: min(struct(id, pos)) orders lexicographically,
    exactly the "first occurrence survives" rule."""
    dup = (
        w.groupBy("whash")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("id", "pos")).alias("_keep"),
        )
        .filter(F.col("_n") > 1)
        .select("whash", "_keep")
    )
    return (
        w.join(dup, "whash")
        .filter(
            (F.col("id") != F.col("_keep.id"))
            | (F.col("pos") != F.col("_keep.pos"))
        )
        .select("id", "pos", "whash")
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = DEFAULT_SPAN_TOKENS,
) -> DataFrame:
    """(id, pos, whash) — every NON-KEEPER occurrence of a duplicated
    window: its digest occurs more than once corpus-wide and this
    occurrence is not the (min id, min pos) canonical one. The raw
    material for removal, also useful as a contamination/copying report
    on its own."""
    return _non_keeper(_windows(docs, id_col, text_col, span_tokens))


def _merged_cut_intervals(starts: Column, span_tokens: int) -> Column:
    """array<struct<lo:int,hi:int>> — the token ranges covered by spans
    starting at ``starts``, sorted and merged (overlapping/adjacent
    ranges fuse; the union of covered indices is unchanged). Size is
    the number of DISJOINT cut regions — for the pathological
    single-doc case (hundreds of repeats of one window) the contiguous
    covers fuse into ONE interval, where a per-position set would hold
    every covered index."""
    empty = F.array().cast("array<struct<lo:int,hi:int>>")

    def step(acc: Column, p: Column) -> Column:
        last = F.element_at(acc, -1)
        return F.when(
            (F.size(acc) > 0) & (p <= last["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last["lo"].alias("lo"),
                        F.greatest(
                            last["hi"], p + span_tokens - 1
                        ).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        p.alias("lo"), (p + span_tokens - 1).alias("hi")
                    )
                ),
            )
        )

    return F.aggregate(F.array_sort(starts), empty, step)


def _kept_tokens(toks: Column, ivs: Column) -> Column:
    """Tokens outside the merged cut intervals, rebuilt by slicing the
    GAPS between intervals — linear in tokens + intervals. (The naive
    per-token ``array_contains(cut, i)`` probe is O(|cut| x |tokens|)
    per document: one doc of 500 repeats of one window would pay
    ~10^7 comparisons where this pays one slice.)"""
    k = F.size(ivs)
    n = F.size(toks)

    def gap(i: Column) -> Column:
        lo = F.when(i == 1, F.lit(1)).otherwise(
            F.element_at(ivs, i - 1)["hi"] + 1
        )
        hi = F.when(i <= k, F.element_at(ivs, i)["lo"] - 1).otherwise(n)
        return F.slice(toks, lo, F.greatest(hi - lo + 1, F.lit(0)))

    return F.flatten(F.transform(F.sequence(F.lit(1), k + 1), gap))


def _n_covered(ivs: Column) -> Column:
    """Total covered token count across disjoint merged intervals."""
    return F.aggregate(
        ivs, F.lit(0), lambda acc, iv: acc + iv["hi"] - iv["lo"] + 1
    )


def _rebuild_cleaned(
    docs: DataFrame,
    starts: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, text, n_removed_tokens, n_dup_windows[, *extra_cols]) from a
    table of non-keeper span starts (id, pos) — the shared rebuild of
    the one-shot and incremental paths. ``extra_cols`` names input
    columns carried through unchanged — the zero-cost alternative to a
    caller joining the result back onto its source (which would
    re-execute the source's whole upstream lineage on the second join
    branch; the documented join-back anti-pattern)."""
    cut_tbl = (
        starts.groupBy("id")
        .agg(F.collect_list("pos").alias("_starts"))
        .select(
            "id",
            _merged_cut_intervals(F.col("_starts"), span_tokens).alias(
                "_ivs"
            ),
            F.size("_starts").alias("n_dup_windows"),
        )
    )
    toks = F.split(F.col(text_col), r"\s+")
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        toks.alias("_toks"),
        *extra_cols,
    ).join(cut_tbl, "id", "left")
    return base.select(
        "id",
        # no cuts -> the ORIGINAL text, whitespace untouched; only
        # documents that actually lose a span are rejoined with single
        # spaces (standalone callers keep their newlines)
        F.when(F.col("_ivs").isNull(), F.col("_text"))
        .otherwise(
            F.array_join(_kept_tokens(F.col("_toks"), F.col("_ivs")), " ")
        )
        .alias("text"),
        F.coalesce(_n_covered(F.col("_ivs")), F.lit(0)).alias(
            "n_removed_tokens"
        ),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        *extra_cols,
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = DEFAULT_SPAN_TOKENS,
) -> DataFrame:
    """Schema: (id, text, n_removed_tokens, n_dup_windows). ``text`` has
    every duplicated-window occurrence (except the corpus-wide first)
    cut out at token grain; documents that lose a span rejoin their
    remaining tokens with single spaces (the engine's scrub normalizes
    whitespace the same way, so the output composes with the curation
    chain), while documents with NO duplicated spans pass through with
    their original text byte-for-byte (n_removed_tokens = 0)."""
    dups = duplicate_spans(docs, id_col, text_col, span_tokens)
    return _rebuild_cleaned(docs, dups, id_col, text_col, span_tokens)


def span_digest_store(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = DEFAULT_SPAN_TOKENS,
) -> DataFrame:
    """(key) — the persistable DISTINCT window-digest index of a corpus,
    the span-grain member of the engine's signature-store family
    (exact / minhash / simhash / sign-LSH stores). Append it per batch
    and fold it with streaming/dedup.compact_signature_store; the daily
    increment joins against it on ``key`` and the stored corpus is
    never re-windowed."""
    return (
        _windows(docs, id_col, text_col, span_tokens)
        .select(F.col("whash").alias("key"))
        .distinct()
    )


def incremental_remove_duplicate_spans(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = DEFAULT_SPAN_TOKENS,
) -> dict[str, DataFrame]:
    """The daily-increment shape: span-dedup ONLY the arrivals against
    the accumulated corpus's digest store. Any new window whose digest
    is already stored is cut (the stored copy is canonical — same
    vs-stored rule as curate_increment's near-dup drop); within the
    batch the (min id, min pos) keeper rule applies as in the one-shot
    path. Returns ``{"cleaned", "store_delta"}``:

    - ``cleaned``: (id, text, n_removed_tokens, n_dup_windows) for the
      new docs;
    - ``store_delta``: the digests of the windows that SURVIVED in the
      cleaned text, NOT of the raw arrivals — appending removed spans
      would poison tomorrow's increment into cutting text the corpus no
      longer contains (re-windowed from the cleaned output in one
      narrow pass; the arrival batch is days smaller than the corpus,
      so re-windowing it is the cheap side).

    Cost per day: one window fan-out over the ARRIVALS plus one digest
    join against the store — never re-reading or re-windowing the
    stored corpus. Equivalent to the one-shot pass over
    (corpus + arrivals) restricted to the arrivals whenever arrival
    windows don't collide with each other AND the store (pinned by
    test); the deliberate divergence: a store hit cuts the new copy
    even though the one-shot run would have kept whichever occurrence
    sorted first — the stored corpus is immutable history.
    """
    # window the ARRIVALS exactly once: the table feeds the store
    # semi-join AND both sides of the within-batch keeper pass, and a
    # live plan would re-tokenize the batch per consumer. Arrival-sized
    # (days smaller than the corpus), so materializing is cheap.
    w = _windows(new_docs, id_col, text_col, span_tokens).localCheckpoint()
    vs_stored = w.join(
        store.select(F.col("key").alias("whash")), "whash", "left_semi"
    ).select("id", "pos")
    # within-batch duplicates follow the one-shot keeper rule
    within = _non_keeper(w).select("id", "pos")
    starts = vs_stored.unionByName(within).distinct()
    cleaned = _rebuild_cleaned(
        new_docs, starts, id_col, text_col, span_tokens
    )
    return {
        "cleaned": cleaned,
        "store_delta": span_digest_store(
            cleaned, "id", "text", span_tokens
        ).join(store, "key", "left_anti"),
    }


def remove_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    span_tokens: int = DEFAULT_SPAN_TOKENS,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Span-grain eval DECONTAMINATION: cut every ``span_tokens``-token
    window of a training document that appears verbatim in the
    benchmark, instead of dropping the whole document (the doc-level
    rules in operators/decontaminate.py). The standard middle ground
    for long documents quoting one eval item: the quoted span leaves
    the training stream, the rest of the document survives (the
    "canaries/exact-substring" decontamination shape, same token-window
    machinery as ExactSubstr dedup).

    Schema: (id, text, n_removed_tokens, n_dup_windows) — documents
    with no benchmark overlap pass through byte-for-byte. Cost: one
    window fan-out over the TRAINING side + a digest semi-join against
    the benchmark's (tiny, broadcastable) span store; the benchmark is
    windowed once. There is no keeper rule here — EVERY matching
    occurrence is cut, the benchmark itself is the canonical copy."""
    store = span_digest_store(
        benchmark, bench_id_col, bench_text_col, span_tokens
    )
    w = _windows(docs, id_col, text_col, span_tokens)
    starts = w.join(
        F.broadcast(store.select(F.col("key").alias("whash"))),
        "whash",
        "left_semi",
    ).select("id", "pos")
    return _rebuild_cleaned(
        docs, starts, id_col, text_col, span_tokens, extra_cols
    )
