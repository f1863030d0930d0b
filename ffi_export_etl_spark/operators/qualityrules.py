"""C4 line-level cleanup and Gopher document-quality rules.

The two canonical rule sets from the corpus-curation literature that the
stats-threshold filters (length / stopword-ratio / repetition in
operators/textproc.py) don't cover:

- **C4** (Raffel et al. 2020, "Exploring the Limits of Transfer
  Learning", appendix C): line-level cleanup — keep only lines that end
  in terminal punctuation and have enough words; drop whole pages
  containing blocklisted markers (lorem ipsum, curly braces = leaked
  code/templates).
- **Gopher** (Rae et al. 2021, "Scaling Language Models", table A1):
  document-level heuristics — word-count bounds, mean word length
  bounds, symbol-to-word ratios (hashes, ellipses), bullet/ellipsis
  line fractions, alphabetic-word fraction, minimum distinct stopwords.

Everything is per-document array/string Column expressions — split /
filter / transform / aggregate, no explode, no shuffle, no UDF — so
applying both rule sets to 100 TB is one scan inside whole-stage
codegen. Thresholds are exact integer/ratio comparisons so a DuckDB
twin (list_filter/len over the same splits) decides identically; the
regexes are RE2-safe.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---- C4 ----------------------------------------------------------------

# a kept line ends in terminal punctuation (quote-closed variants too).
# \z (absolute end), NOT $: Java's $ also matches BEFORE a final Unicode
# line terminator (U+0085/U+2028/U+2029) where RE2's $ does not — \z
# means both engines judge NEL/LS-terminated lines identically (the WET
# reader's \Z-vs-\z lesson, round 5)
C4_TERMINAL_RE = r'[.!?"”]\s*\z'
C4_MIN_LINE_WORDS = 3
# any of these anywhere on the page drops the whole document
C4_PAGE_DROP_MARKERS = ("lorem ipsum", "{")


def c4_page_drop(col: Column | str) -> Column:
    """TRUE when the document trips a C4 page-level drop marker
    (case-insensitive substring)."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    out = F.lit(False)
    for m in C4_PAGE_DROP_MARKERS:
        out = out | low.contains(m)
    return out


def c4_clean_lines(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = C4_MIN_LINE_WORDS,
    extra_cols: tuple[str, ...] = (),
):
    """C4 line-level cleanup: (id, c4_text, c4_n_lines_kept,
    c4_n_lines_dropped, c4_page_drop).

    A line survives iff it ends in terminal punctuation AND has at
    least ``min_line_words`` whitespace words (empty split tokens from
    leading tabs / trailing \\r never count — the SQL twin's w != ''
    filter, same predicate both engines); surviving lines rejoin in
    order. ``c4_page_drop`` marks documents the page-level markers
    would remove outright (reported, not applied — the caller's filter
    decides, mirroring how `keep` flags work elsewhere here). Array-
    local: no explode, no shuffle; the line array and the kept subset
    are staged as aliased projections so each is evaluated once, not
    once per reference (the Catalyst lambda-inlining gotcha).

    ``extra_cols`` names input columns carried through unchanged — the
    zero-cost alternative to joining the result back onto the source
    (a per-doc projection never needs a shuffle to keep its context)."""
    keep = lambda ln: (  # noqa: E731 — local predicate alias
        ln.rlike(C4_TERMINAL_RE)
        & (
            F.size(
                F.filter(
                    F.split(F.trim(ln), r"\s+"), lambda w: w != ""
                )
            )
            >= min_line_words
        )
    )
    passthru = [F.col(c) for c in extra_cols]
    staged = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), r"\n").alias("_lines"),
        c4_page_drop(text_col).alias("c4_page_drop"),
        *passthru,
    ).select(
        "id",
        "_lines",
        F.filter(F.col("_lines"), keep).alias("_kept"),
        "c4_page_drop",
        *extra_cols,
    )
    return staged.select(
        "id",
        F.array_join("_kept", "\n").alias("c4_text"),
        F.size("_kept").alias("c4_n_lines_kept"),
        (F.size("_lines") - F.size("_kept")).alias("c4_n_lines_dropped"),
        "c4_page_drop",
        *extra_cols,
    )


# ---- Gopher ------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1   # '#' or '...' per word
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8     # words containing a letter
GOPHER_MIN_STOPWORDS_HIT = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# shared verbatim by the Spark side and the SQL twins (\z, not $ — see
# C4_TERMINAL_RE)
GOPHER_BULLET_RE = r"^([-*•]|\d+[.)])"
GOPHER_ELLIPSIS_RE = r"(\.\.\.|…)\s*\z"
GOPHER_ALPHA_RE = r"[A-Za-z]"


def gopher_quality(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
):
    """Gopher repetition-free quality heuristics, one row per document:

    (id, g_n_words, g_mean_word_len, g_symbol_ratio, g_bullet_frac,
     g_ellipsis_frac, g_alpha_frac, g_n_stopwords_hit, gopher_reasons,
     gopher_keep)

    ``gopher_reasons`` lists every tripped rule (empty array = clean);
    ``gopher_keep`` is their conjunction. Word-length / symbol / alpha
    ratios divide exact integer counts, so a SQL twin decides
    identically. The word-count bounds are parameters because Gopher's
    50-word floor is calibrated for web pages — callers filtering other
    grains (titles, code cells) re-bound it.

    Plan shape: the word/line arrays are staged as aliased projections
    so each array is BUILT once per row and every later reference is a
    bound attribute — an unaliased array expr referenced from N lambdas
    would be inlined and re-evaluated N times (the measured Catalyst
    gotcha from the winnowing fix). Three narrow selects, still one
    scan, no shuffle. ``extra_cols`` names input columns carried
    through unchanged (see :func:`c4_clean_lines`)."""
    passthru = [F.col(c) for c in extra_cols]
    arrays = docs.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.col(text_col), r"\s+"), lambda w: w != ""
        ).alias("_w"),
        F.filter(
            F.transform(
                F.split(F.col(text_col), r"\n"), lambda x: F.trim(x)
            ),
            lambda ln: ln != "",
        ).alias("_ln"),
        (
            F.size(F.split(F.col(text_col), r"#", -1)) - 1
            + F.size(F.split(F.col(text_col), r"\.\.\.", -1)) - 1
        ).alias("_nsym"),
        *passthru,
    ).select(
        "id", "_w", "_ln", "_nsym",
        F.transform(F.col("_w"), lambda w: F.lower(w)).alias("_lw"),
        *extra_cols,
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    counts = arrays.select(
        "id",
        F.size("_w").alias("g_n_words"),
        # bigint seed: a multi-GB document's total word-char count can
        # exceed 2^31; the DuckDB twin already sums in a wider type, so
        # an int fold would ANSI-error / diverge exactly there
        F.aggregate(
            F.col("_w"),
            F.lit(0).cast("bigint"),
            lambda a, w: a + F.length(w).cast("bigint"),
        ).alias("_tl"),
        "_nsym",
        F.size("_ln").alias("_nl"),
        F.size(
            F.filter(F.col("_ln"), lambda ln: ln.rlike(GOPHER_BULLET_RE))
        ).alias("_nbul"),
        F.size(
            F.filter(
                F.col("_ln"), lambda ln: ln.rlike(GOPHER_ELLIPSIS_RE)
            )
        ).alias("_nell"),
        F.size(
            F.filter(F.col("_w"), lambda w: w.rlike(GOPHER_ALPHA_RE))
        ).alias("_nalpha"),
        F.size(
            F.filter(
                stop_arr,
                lambda s: F.array_contains(F.col("_lw"), s),
            )
        ).alias("g_n_stopwords_hit"),
        *extra_cols,
    )
    nw = F.col("g_n_words")
    mean_wl = F.when(nw > 0, F.col("_tl") / nw)
    symbol_ratio = F.when(nw > 0, F.col("_nsym") / nw).otherwise(F.lit(0.0))
    nl = F.col("_nl")
    bullet_frac = F.when(nl > 0, F.col("_nbul") / nl).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(nl > 0, F.col("_nell") / nl).otherwise(
        F.lit(0.0)
    )
    alpha_frac = F.when(nw > 0, F.col("_nalpha") / nw).otherwise(F.lit(0.0))
    n_stop_hit = F.col("g_n_stopwords_hit")
    reasons = F.array_compact(
        F.array(
            F.when(
                (nw < GOPHER_MIN_WORDS) | (nw > GOPHER_MAX_WORDS),
                F.lit("word_count"),
            ),
            F.when(
                mean_wl.isNull()
                | (mean_wl < GOPHER_MIN_MEAN_WORD_LEN)
                | (mean_wl > GOPHER_MAX_MEAN_WORD_LEN),
                F.lit("mean_word_len"),
            ),
            F.when(
                symbol_ratio > GOPHER_MAX_SYMBOL_WORD_RATIO,
                F.lit("symbol_ratio"),
            ),
            F.when(
                bullet_frac > GOPHER_MAX_BULLET_LINE_FRAC,
                F.lit("bullet_lines"),
            ),
            F.when(
                ellipsis_frac > GOPHER_MAX_ELLIPSIS_LINE_FRAC,
                F.lit("ellipsis_lines"),
            ),
            F.when(
                alpha_frac < GOPHER_MIN_ALPHA_WORD_FRAC,
                F.lit("alpha_words"),
            ),
            F.when(
                n_stop_hit < GOPHER_MIN_STOPWORDS_HIT,
                F.lit("stopwords"),
            ),
        )
    )
    scored = counts.select(
        "id",
        "g_n_words",
        mean_wl.alias("g_mean_word_len"),
        symbol_ratio.alias("g_symbol_ratio"),
        bullet_frac.alias("g_bullet_frac"),
        ellipsis_frac.alias("g_ellipsis_frac"),
        alpha_frac.alias("g_alpha_frac"),
        "g_n_stopwords_hit",
        reasons.alias("gopher_reasons"),
        *extra_cols,
    )
    return scored.withColumn(
        "gopher_keep", F.size("gopher_reasons") == 0
    )


# ---- DuckDB twins (generated from the SAME constants) -------------------

def _sql_re(pattern: str) -> str:
    """A shared regex constant as a DuckDB string literal — the literal
    IS the Java-side pattern, so editing a constant moves both engines
    together (every pattern here is RE2-safe by construction)."""
    return "'" + pattern.replace("'", "''") + "'"


def c4_kept_lines_sql(col: str = "text", min_line_words: int = C4_MIN_LINE_WORDS) -> str:
    """DuckDB list expr of the lines :func:`c4_clean_lines` keeps."""
    words = (
        "list_filter(regexp_split_to_array(trim(ln), '\\s+'),"
        " w -> w != '')"
    )
    return (
        f"list_filter(regexp_split_to_array({col}, '\\n'), "
        f"ln -> regexp_matches(ln, {_sql_re(C4_TERMINAL_RE)}) "
        f"AND len({words}) >= {min_line_words})"
    )


def c4_page_drop_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`c4_page_drop`."""
    return "(" + " OR ".join(
        f"contains(lower({col}), '{m}')" for m in C4_PAGE_DROP_MARKERS
    ) + ")"


def gopher_sql_exprs(col: str = "text") -> tuple[str, str]:
    """(reasons_csv_expr, keep_expr): DuckDB twins of gopher_quality's
    decision columns — same thresholds, same declared reason order,
    exact integer/ratio math so both engines decide identically."""
    words = (
        f"list_filter(regexp_split_to_array({col}, '\\s+'),"
        " w -> w != '')"
    )
    lines = (
        f"list_filter(list_transform(regexp_split_to_array({col}, '\\n'),"
        " x -> trim(x)), ln -> ln != '')"
    )
    nw = f"len({words})"
    tl = f"list_aggregate(list_transform({words}, w -> length(w)), 'sum')"
    nsym = (
        f"len(regexp_split_to_array({col}, '#')) - 1"
        f" + len(regexp_split_to_array({col}, '\\.\\.\\.')) - 1"
    )
    nl = f"len({lines})"
    nbul = (
        f"len(list_filter({lines},"
        f" ln -> regexp_matches(ln, {_sql_re(GOPHER_BULLET_RE)})))"
    )
    nell = (
        f"len(list_filter({lines},"
        f" ln -> regexp_matches(ln, {_sql_re(GOPHER_ELLIPSIS_RE)})))"
    )
    nalpha = (
        f"len(list_filter({words},"
        f" w -> regexp_matches(w, {_sql_re(GOPHER_ALPHA_RE)})))"
    )
    stop_list = ",".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    nstop = (
        f"len(list_filter([{stop_list}], s -> list_contains("
        f"list_transform({words}, w -> lower(w)), s)))"
    )
    flags = (
        (
            "word_count",
            f"({nw} < {GOPHER_MIN_WORDS} OR {nw} > {GOPHER_MAX_WORDS})",
        ),
        ("mean_word_len",
         f"({nw} = 0 OR {tl} / {nw} < {GOPHER_MIN_MEAN_WORD_LEN}"
         f" OR {tl} / {nw} > {GOPHER_MAX_MEAN_WORD_LEN})"),
        ("symbol_ratio",
         f"(CASE WHEN {nw} > 0 THEN ({nsym}) / {nw} ELSE 0.0 END"
         f" > {GOPHER_MAX_SYMBOL_WORD_RATIO})"),
        ("bullet_lines",
         f"(CASE WHEN {nl} > 0 THEN {nbul} / {nl} ELSE 0.0 END"
         f" > {GOPHER_MAX_BULLET_LINE_FRAC})"),
        ("ellipsis_lines",
         f"(CASE WHEN {nl} > 0 THEN {nell} / {nl} ELSE 0.0 END"
         f" > {GOPHER_MAX_ELLIPSIS_LINE_FRAC})"),
        ("alpha_words",
         f"(CASE WHEN {nw} > 0 THEN {nalpha} / {nw} ELSE 0.0 END"
         f" < {GOPHER_MIN_ALPHA_WORD_FRAC})"),
        ("stopwords", f"({nstop} < {GOPHER_MIN_STOPWORDS_HIT})"),
    )
    reasons = "concat_ws(','," + ", ".join(
        f"CASE WHEN {expr} THEN '{name}' END" for name, expr in flags
    ) + ")"
    keep = "NOT (" + " OR ".join(expr for _, expr in flags) + ")"
    return reasons, keep
