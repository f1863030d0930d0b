"""Text scrubbing / normalization for training-data pipelines.

Pretraining corpora scrub personally-identifying strings and normalize
whitespace before dedup/tokenization. Everything here is chained native
``regexp_replace`` Column expressions — JVM-side, whole-stage codegen,
zero Python per row — so a 100 TB scrub is exactly one scan of the text
column. Patterns are deliberately conservative (high precision): the goal
is redaction of obvious machine-recognizable identifiers, not NER.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .xplode import explode_nonempty, posexplode_nonempty

# (pattern, replacement) applied in order; order matters (emails before
# bare domains would, e.g., double-redact).
SCRUB_RULES: tuple[tuple[str, str], ...] = (
    # email addresses
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # URLs (http/https/www)
    (r"(https?://|www\.)[^\s]+", "<URL>"),
    # IPv4 addresses
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # phone-like, high precision: a bare space-separated digit run (year
    # lists, tabular numbers) must NOT match. A match needs one of the
    # phone-specific shapes: a parenthesized area code, a +country
    # prefix, dash/dot-grouped digits starting with a 3-digit group
    # (dates' (4,2,2)/(2,2,4) groupings stay untouched), or a single
    # uninterrupted 9-15 digit run.
    (
        r"(?:\+\d{1,3}[ .-]?)?\(\d{1,4}\)[ .-]?\d{2,4}(?:[ .-]\d{2,4}){1,3}"
        r"|\+\d{1,3}(?:[ .-]?\d{2,4}){2,4}"
        r"|\b\d{3}[.-]\d{3,4}(?:[.-]\d{2,4})?\b"
        r"|\b\d{9,15}\b",
        "<PHONE>",
    ),
)


def scrub_text(col: Column | str) -> Column:
    """Redact emails, URLs, IPs, and phone-like digit runs with typed
    placeholder tokens."""
    out = F.col(col) if isinstance(col, str) else col
    for pattern, repl in SCRUB_RULES:
        out = F.regexp_replace(out, pattern, repl)
    return out


def normalize_whitespace(col: Column | str) -> Column:
    """Collapse whitespace runs to single spaces and trim — the canonical
    pre-shingling normalization (stabilizes every dedup fingerprint)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# The captured host must contain at least one dot (two or more labels):
# free text like 'not a url' must NOT yield a pseudo-domain ('not') that
# then flows into blocklist comparisons. Dotless hosts (localhost, bare
# machine names) therefore also yield '' — acceptable for a WEB-corpus
# filter, where every real target is a registrable dotted domain.
_DOMAIN_RE = (
    r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@\s]+@)?"
    r"([^/:?#\s.]+(?:\.[^/:?#\s.]+)+)"
)


def extract_domain(col: Column | str) -> Column:
    """Registrable host of a URL-ish string, lowercased: scheme, userinfo,
    port, path, query stripped with one regexp — no UDF, no URL parser in
    the row loop. Returns '' when no dotted host is present (non-URL
    free text, dotless hosts like ``localhost``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, _DOMAIN_RE, 1))


def filter_blocked_domains(docs, blocklist, url_col: str = "url"):
    """Drop documents whose URL's domain, or a parent domain of it, is
    in ``blocklist`` (list[str], embedded as literals) — the standard
    source-level web filter."""
    dom = extract_domain(url_col)
    cond = F.lit(False)
    for d in blocklist:
        d = d.lower()
        cond = cond | ((dom == d) | dom.endswith("." + d))
    return docs.filter(~cond)


def dup_line_frac_of(lines: Column) -> Column:
    """Fraction of non-blank (trimmed) lines in the array that repeat an
    earlier identical line — 0.0 when there are no non-blank lines. Pure
    array-local Column expression (no explode, no shuffle); shared by
    :func:`repetition_scores` and the registered text_stats_pack so the
    signal has exactly one definition."""
    nb = F.filter(
        F.transform(lines, lambda ln: F.trim(ln)), lambda ln: ln != ""
    )
    n = F.size(nb)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(nb))) / n
    ).otherwise(F.lit(0.0))


def repetition_scores(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Within-document repetition metrics (the Gopher-rules quality
    signals that length/stopword stats miss):

    - ``dup_line_frac``  — fraction of non-blank lines that are repeats
      of an earlier identical line (0.0 for all-distinct docs);
    - ``top_bigram_frac`` — fraction of word tokens covered by the most
      frequent word bigram (counted with multiplicity, 2 tokens per
      occurrence; 0.0 for docs under 2 tokens).

    Both are pure Column expressions over per-doc arrays — aggregate /
    transform / filter, no explode, no shuffle: a repetition scan of
    100 TB is one pass. High values flag machine-generated or
    boilerplate-heavy text for the quality filter.

    The bigram scan sorts the per-doc bigram array and takes the longest
    equal run via one aggregate pass — O(n log n) per document,
    array-local (the naive count-per-distinct-bigram formulation is
    O(d*n) and was replaced after review). Tokens stay capped at
    10,000 (deterministic first-N truncation, same policy as the
    simhash fingerprint cap) to bound memory on pathological documents.
    """
    raw_lines = F.split(F.col(text_col), r"\n")
    n_lines = F.size(
        F.filter(
            F.transform(raw_lines, lambda ln: F.trim(ln)),
            lambda ln: ln != "",
        )
    )
    dup_line_frac = dup_line_frac_of(raw_lines)

    toks = F.slice(F.split(F.col(text_col), r"\s+"), 1, 10_000)
    n_toks = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n_toks - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n_toks - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # occurrences of the most frequent bigram = longest equal run in the
    # SORTED bigram array: one aggregate pass carrying (prev, run, best)
    sorted_b = F.array_sort(bigrams)
    top_count = F.aggregate(
        sorted_b,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    top_bigram_frac = F.when(
        n_toks >= 2, top_count * 2 / n_toks
    ).otherwise(F.lit(0.0))

    return docs.select(
        F.col(id_col).alias("id"),
        n_lines.alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
    )


def strip_boilerplate_lines(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 5,
):
    """Remove lines that repeat across >= ``min_docs`` DISTINCT documents
    (site headers, navigation, legal footers) — the C4/RefinedWeb-style
    line-level dedup that document-level near-dup cannot catch.

    Two passes over the exploded lines: (1) count distinct docs per
    normalized line (one shuffle, map-side combined), keep lines at or
    above the threshold; (2) anti-join the boilerplate set back to the
    lines, which are then reassembled in original order with a
    collect_list + array_sort (one shuffle on the doc id). Returns
    (id, text) with boilerplate lines dropped; line order preserved;
    whitespace-only lines never count as boilerplate (they are kept,
    normalization is a separate op).

    The boilerplate set is NOT assumed small: at 100 TB of web text with
    ``min_docs=5`` the lines repeated across documents (shared footers /
    nav / disclaimers) number in the tens of millions, which would kill a
    forced driver broadcast. The join is therefore a plain anti-join on
    the normalized line — a shuffle hash/sort-merge join that AQE still
    converts to broadcast AT RUNTIME when the set measures small.
    """
    lines = posexplode_nonempty(
        docs, [F.col(id_col).alias("id")],
        F.split(F.col(text_col), r"\n"), "pos", "line",
    )
    norm = F.trim(F.col("line"))
    boiler = (
        lines.filter(norm != "")
        .groupBy(norm.alias("bline"))
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("bline")
    )
    kept = lines.join(
        boiler, F.trim(F.col("line")) == F.col("bline"), "left_anti"
    )
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "line"))
            ).alias("_pl")
        )
        .select(
            "id",
            F.array_join(
                F.transform("_pl", lambda s: s.getField("line")), "\n"
            ).alias("text"),
        )
    )
    # a doc whose every line was boilerplate survives with empty text
    # (downstream quality filters decide its fate, not this op)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select("id", F.coalesce("text", F.lit("")).alias("text"))
    )


def vocab_top_tokens(
    docs,
    text_col: str = "text",
    n: int = 1000,
):
    """Top-``n`` tokens by corpus frequency — the tokenizer-training
    preamble (seed vocabulary / merges candidates).

    One explode + one map-side-combined count per token + a global top-N,
    which Spark executes as per-partition top-N merged on the driver
    (TakeOrderedAndProject), never a full sort. Deterministic tiebreak:
    count desc, then token asc. Returns (rank, token, n_occurrences).
    """
    from pyspark.sql import Window

    counts = (
        explode_nonempty(docs, [], F.split(F.col(text_col), r"\s+"), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(n)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    return counts.select(
        F.row_number().over(w).alias("rank"), "token", "n_occurrences"
    )


def chunk_documents(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
):
    """Split documents into overlapping token-window chunks — the
    long-document -> training-sample fan-out.

    One row per chunk: (id, chunk_index 0.., chunk_n_tokens, chunk_text).
    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the final chunk may be short; empty
    docs produce one empty chunk. Pure Column expressions (split /
    sequence / slice / posexplode) — the fan-out happens executor-side
    with no Python and no shuffle (narrow explode).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    # 1-based slice starts: 1, 1+stride, ... while start <= n - overlap
    # (so no chunk is a pure suffix of the previous one)
    last_start = F.greatest(n - F.lit(overlap), F.lit(1))
    starts = F.sequence(F.lit(1), last_start, F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s, chunk_tokens)
    )
    return posexplode_nonempty(
        docs, [F.col(id_col).alias("id")], chunks, "chunk_index", "_chunk"
    ).select(
        "id",
        "chunk_index",
        F.size("_chunk").alias("chunk_n_tokens"),
        F.array_join("_chunk", " ").alias("chunk_text"),
    )


def dedup_paragraphs(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_repeat: int = 2,
):
    """Paragraph-level exact dedup (the paragraph variant of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    a paragraph (blank-line-delimited block) appearing in >= ``min_repeat``
    DISTINCT documents survives only in its min-id document; every other
    occurrence is stripped. Catches chunk-level copying that document-
    level near-dup cannot (quotes, syndicated fragments, licence blocks)
    while — unlike line-level boilerplate strip — keeping one canonical
    copy in the corpus.

    Shape at scale: one posexplode, one digest-keyed aggregation (min id
    + distinct-doc count per normalized paragraph, map-side combined),
    one equi-join of the paragraphs against that digest table, and one
    reassembly shuffle by doc id. No broadcast assumptions; the digest
    table is corpus-sized in the worst case and joins shuffled.

    Returns (id, text) with stripped paragraphs removed and paragraph
    order preserved; documents whose every paragraph was stripped come
    back with empty text (drop downstream via a quality filter).
    """
    paras = posexplode_nonempty(
        docs, [F.col(id_col).alias("id")],
        F.split(F.col(text_col), r"\n{2,}"), "pos", "para",
    )
    key = F.md5(F.encode(F.trim(F.col("para")), "UTF-8"))
    keyed = paras.withColumn("_key", key)
    owners = (
        keyed.filter(F.trim(F.col("para")) != "")
        .groupBy("_key")
        .agg(
            F.min("id").alias("_keeper"),
            F.count_distinct("id").alias("_n_docs"),
        )
    )
    kept = keyed.join(owners, "_key", "left").filter(
        F.col("_n_docs").isNull()          # whitespace-only block: keep
        | (F.col("_n_docs") < min_repeat)  # not repeated enough
        | (F.col("id") == F.col("_keeper"))  # canonical copy
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias("text")
    )
    # a doc whose every paragraph was stripped has no rows left — join
    # back onto the id list so it returns with empty text instead of
    # silently disappearing
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )


def compression_ratio(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """(id, n_raw_bytes, n_compressed_bytes, compression_ratio) — the
    zlib-compressibility quality signal the large-corpus curation
    literature uses as a cheap structure detector: highly repetitive or
    templated text compresses far below natural prose, while
    random/encoded gibberish barely compresses at all, so BOTH tails of
    the ratio distribution mark junk.

    Byte-level compression is inherently per-item Python (no Column
    expression computes DEFLATE), so this runs as an Arrow-batched
    ``mapInPandas`` kernel with stdlib zlib — the multimodal/BPE tier,
    one corpus scan, never row-at-a-time. Ratio for empty text is
    defined as 0.0 (nothing to judge; pair with the min-words quality
    floor). Deterministic: zlib level 6, UTF-8 bytes.
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_field = docs.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id", id_field, True),
            StructField("n_raw_bytes", LongType(), True),
            StructField("n_compressed_bytes", LongType(), True),
            StructField("compression_ratio", DoubleType(), True),
        ]
    )
    narrowed = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [
                (t or "").encode("utf-8") for t in pdf["text"]
            ]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            n_raw = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_raw_bytes": n_raw,
                    "n_compressed_bytes": comp,
                    "compression_ratio": [
                        (c / r) if r else 0.0 for c, r in zip(comp, n_raw)
                    ],
                }
            )

    return narrowed.mapInPandas(run, schema)
