"""Text-analysis queries over the documents table (extension surface):
token counting, quality scoring, language-ID heuristic, fingerprinting,
and PII-style scrubbing.

Everything is native Column expressions — tokenization, regex extraction,
higher-order array functions — so the hot path stays inside whole-stage
codegen with zero Python per row. Ratios divide exact integer counts, so
Spark and DuckDB produce bit-identical doubles. The scrub oracle replays
the exact regexp_replace chain (all patterns are RE2-safe: no backrefs
or lookaround, so Java regex and RE2 match identically).

Token/quality and langid/fingerprint are merged into same-grain packs
(one row per doc_id, all columns pinned) to keep the registry at 50
while freeing slots for the scrub and profiling pins. The scrub pin
lives INSIDE text_stats_pack (same per-doc grain) since round 4 — its
former slot pins the composed curation pipeline (queries/curation_q.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.htmlx import (
    extract_links,
    extract_title,
    extract_title_sql,
    html_to_text,
    html_to_text_sql,
    n_links_sql,
)
from ..operators.qualityrules import (
    c4_clean_lines,
    c4_kept_lines_sql,
    c4_page_drop_sql,
    gopher_quality,
    gopher_sql_exprs,
)
from ..operators.scripts import SCRIPT_CLASSES
from ..operators.textproc import (
    dedup_paragraphs,
    dup_line_frac_of,
    normalize_whitespace,
    scrub_text,
)
from ..sources.parquet import load_table

# BPE-ish pretokenizer: letter runs, digit runs, single non-space symbols.
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

STOPWORDS = ("the", "a", "of", "and", "to")

# (lang, marker words) for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "que"),
}


def _toks(col: str = "text") -> Column:
    return F.split(F.col(col), r"\s+")


# dup_line_frac needs line structure the single-line synthetic corpus
# lacks, so the pack reshapes each doc into LINE_TOKENS-token lines first
# (near-dup docs then repeat real lines); the signal itself is
# operators/textproc.dup_line_frac_of, the same column expression
# repetition_scores uses.
LINE_TOKENS = 2
# paragraph-dedup arm: docs are reshaped into PARA_TOKENS-token
# paragraphs (near-dup docs then share real paragraphs) and
# operators/textproc.dedup_paragraphs strips repeats down to the min-id
# canonical copy; the oracle replays the digest/keeper/reassembly chain
PARA_TOKENS = 5
# C4 arm: relined lines are LINE_TOKENS words wide, so the line rule
# runs with a matching min-words threshold
C4_LINE_WORDS = 2
# html-extraction arm: each doc is wrapped in this HTML template
# (('id',) / ('text',) splice the row's values) exercising title/style/
# head removal, comments, entities, block breaks, links, and the generic
# tag strip around real free text; operators/htmlx.py then extracts
# title / text / link count, and the oracle replays the SAME segment
# list through the SAME rule table (html_to_text_sql).
HTML_SEGS: tuple[tuple[str, ...], ...] = (
    ("lit", "<html><head><title>Doc "),
    ("id",),
    (
        "lit",
        " &amp; co</title><style>p{c:1}</style></head>"
        "<body><!-- x --><h1>H &lt;b&gt;</h1><p>",
    ),
    ("text",),
    ("lit", '</p><script>var q = "1 < 2";</script><a href="https://ex.com/'),
    ("id",),
    ("lit", '?a=1">l1</a><A HREF="http://ex.org/'),
    ("id",),
    ("lit", '">l2</A><ul><li>tail&nbsp;end</li></ul></body></html>'),
)


def _html_col() -> Column:
    parts = []
    for seg in HTML_SEGS:
        if seg[0] == "lit":
            parts.append(F.lit(seg[1]))
        elif seg[0] == "id":
            parts.append(F.col("doc_id").cast("string"))
        else:
            parts.append(F.col("text"))
    return F.concat(*parts)


def _html_sql() -> str:
    parts = []
    for seg in HTML_SEGS:
        if seg[0] == "lit":
            parts.append("'" + seg[1].replace("'", "''") + "'")
        elif seg[0] == "id":
            parts.append("CAST(doc_id AS VARCHAR)")
        else:
            parts.append("text")
    return "(" + " || ".join(parts) + ")"


def text_stats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace words + BPE-ish regex tokens), length /
    stopword-ratio / mean-word-length quality scoring with a keep/drop
    flag, the Gopher-style repetition signals (top-bigram coverage and
    dup_line_frac over LINE_TOKENS-token lines —
    operators/textproc.repetition_scores semantics, replayed exactly by
    the oracle), the PII scrub + whitespace normalization
    (operators/textproc.scrub_text chain, emails/URLs/IPs/phones to
    typed placeholders), and paragraph-level exact dedup over
    PARA_TOKENS-token paragraphs (operators/textproc.dedup_paragraphs —
    repeated paragraphs survive only in their min-id doc), and HTML
    text/title/link extraction over a per-doc synthesized HTML wrapper
    (operators/htmlx.py — script/style/head/comment removal, entity
    decode, block breaks, tag strip all value-pinned) — one row per
    document."""
    d = load_table(spark, sf_dir, "documents")
    # stage the token/bigram/relined arrays as aliased projections:
    # referenced-many-times arrays stay bound attributes instead of
    # being re-built per reference, and the most-frequent-bigram count
    # uses the sorted-run aggregate (same value as the per-distinct
    # count — it IS the max multiplicity) instead of the O(d*n)
    # per-distinct rescan. Measured at sf0.1 full materialization:
    # top-bigram 13.6 -> 0.45s, whole stats projection 23 -> ~2s.
    staged = d.select(
        "doc_id", "text", _toks().alias("_tk")
    ).select(
        "doc_id",
        "text",
        "_tk",
        F.zip_with(
            F.slice(
                F.col("_tk"), 1,
                F.greatest(F.size("_tk") - 1, F.lit(0)),
            ),
            F.slice(
                F.col("_tk"), 2,
                F.greatest(F.size("_tk") - 1, F.lit(0)),
            ),
            lambda a, b: F.concat_ws(" ", a, b),
        ).alias("_bg"),
        F.transform(
            F.sequence(F.lit(1), F.size("_tk"), F.lit(LINE_TOKENS)),
            lambda s: F.array_join(
                F.slice(F.col("_tk"), s, LINE_TOKENS), " "
            ),
        ).alias("_rl"),
    )
    n_words = F.size("_tk")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(
        F.filter(F.col("_tk"), lambda t: F.array_contains(stop_arr, t))
    )
    mean_wl = (F.length("text") - (n_words - 1)) / n_words  # exact ints -> double
    stop_ratio = n_stop / n_words
    # occurrences of the most frequent bigram = longest equal run in the
    # SORTED bigram array (operators/textproc.repetition_scores form)
    top_count = F.aggregate(
        F.array_sort("_bg"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    top_bigram_frac = F.when(
        n_words >= 2, top_count * 2 / n_words
    ).otherwise(F.lit(0.0))
    scrubbed = normalize_whitespace(scrub_text("text"))
    stats = staged.select(
        "doc_id",
        "text",
        "_rl",  # the C4-input construction reuses the staged lines
        n_words.alias("n_words"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length("text").cast("int").alias("n_chars_calc"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stop_ratio"),
        mean_wl.alias("mean_word_len"),
        top_bigram_frac.alias("top_bigram_frac"),
        dup_line_frac_of(F.col("_rl")).alias("dup_line_frac"),
        (
            (n_words >= 20) & (stop_ratio < F.lit(0.5)) & (mean_wl >= F.lit(2.0))
        ).alias("keep"),
        scrubbed.alias("scrubbed"),
        (scrubbed != F.col("text")).alias("changed"),
        extract_title(_html_col()).alias("html_title"),
        html_to_text(_html_col()).alias("html_text"),
        F.size(extract_links(_html_col())).alias("html_n_links"),
    )
    paras_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size("_tk"), F.lit(PARA_TOKENS)),
            lambda s: F.array_join(
                F.slice(F.col("_tk"), s, PARA_TOKENS), " "
            ),
        ),
        "\n\n",
    )
    pd = dedup_paragraphs(
        d.select("doc_id", _toks().alias("_tk"))
        .select("doc_id", paras_text.alias("text")),
        "doc_id", "text",
    ).select("doc_id", F.col("text").alias("pdedup"))
    # C4 + Gopher arms CHAIN off the stats projection via each
    # operator's extra_cols passthrough — per-doc projections never
    # need a join-back, so the pack stays ONE scan + the single
    # paragraph-dedup join (measured: the two doc_id joins this
    # replaces cost ~0.8s warm at sf0.1, more than the column math).
    # C4 runs over a reshaped corpus: even 0-based relined lines get
    # terminal punctuation (so the rule keeps exactly those), and every
    # 97th doc gets a page-drop marker line; the oracle replays the
    # construction + the shared SQL twins.
    gq = gopher_quality(
        stats, "doc_id", "text",
        extra_cols=tuple(c for c in stats.columns if c != "doc_id"),
    )
    # _rl is a bound attribute carried from the staged projection — NOT
    # a rebuilt _toks() expression, which a transform lambda would
    # inline and re-evaluate once per line (the quadratic the staging
    # exists to prevent)
    c4_lines = F.transform(
        F.col("_rl"),
        lambda x, i: F.concat(
            x, F.when(i % 2 == 0, F.lit(".")).otherwise(F.lit(""))
        ),
    )
    c4_input = F.concat(
        F.array_join(c4_lines, "\n"),
        F.when(
            F.col("id") % 97 == 0, F.lit("\n{ brace }")
        ).otherwise(F.lit("")),
    )
    with_c4in = gq.withColumn("_c4in", c4_input)
    c4ed = c4_clean_lines(
        with_c4in, id_col="id", text_col="_c4in",
        min_line_words=C4_LINE_WORDS,
        extra_cols=tuple(
            c for c in with_c4in.columns if c not in ("id", "_c4in")
        ),
    )
    out = c4ed.select(
        F.col("id").alias("doc_id"),
        *[
            c for c in stats.columns
            if c not in ("doc_id", "text", "_rl")
        ],
        "c4_text",
        "c4_n_lines_kept",
        "c4_page_drop",
        F.array_join("gopher_reasons", ",").alias("gopher_reasons_csv"),
        "gopher_keep",
    )
    return out.join(pd, "doc_id")


def text_langfp_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID with deterministic argmax (priority
    en > de > es on ties; 'und' = no markers), the canonical-form
    document fingerprint: md5 over the sorted distinct vocabulary
    (bag-normalized dedup key), and the CCNet-style bigram-LM quality
    score (operators/lmscore.py — add-1-smoothed bigram model trained
    on this same corpus as its reference, per-doc negative log-prob in
    EXACT integer micro-units so the oracle compare is float-free) —
    plus the Unicode dominant-script label (operators/scripts.py, the
    multilingual routing signal), the cross-document duplicate-SPAN
    removal stats (operators/spandedup.py, r5: removed-token count,
    duplicated-window count, and the md5 of the span-cleaned text so
    the rebuilt document is value-pinned), and the winnowing
    fingerprint columns (operators/fingerprints.py, r6: selected-set
    size, md5 of the sorted signature set, and the bucket-capped
    overlap-partner count — the Schleimer et al. local-copy screen) —
    one row per document."""
    from ..operators.fingerprints import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )
    from ..operators.lmscore import score_documents, train_bigram_lm
    from ..operators.scripts import dominant_script
    from ..operators.spandedup import remove_duplicate_spans

    d = load_table(spark, sf_dir, "documents")
    bigrams, unigrams, vocab = train_bigram_lm(d)
    lm = score_documents(d, bigrams, unigrams, vocab).select(
        F.col("id").alias("doc_id"),
        F.col("n_bigrams").alias("lm_n_bigrams"),
        F.col("sum_nlp_micro").alias("lm_nlp_micro"),
    )
    # left join: a hypothetical zero-token doc has no bigrams (null lm
    # columns) but must not vanish from the pack
    d = d.join(lm, "doc_id", "left")
    spans = remove_duplicate_spans(
        load_table(spark, sf_dir, "documents")
    ).select(
        F.col("id").alias("doc_id"),
        F.col("n_removed_tokens").alias("span_removed_tokens"),
        F.col("n_dup_windows").alias("span_dup_windows"),
        F.md5(F.encode("text", "UTF-8")).alias("span_clean_md5"),
    )
    d = d.join(spans, "doc_id")
    raw = load_table(spark, sf_dir, "documents")
    # the winnowed selection feeds TWO consumers (the per-doc columns
    # and the overlap-pair pipeline); materialize it once — lazily it
    # would tokenize + md5 every k-gram of the corpus once per branch
    # (the review-measured double-selection). Row count = |docs|, array
    # size ~2·n_tokens/(w+1): doc-bounded, cheap to pin. At 100 TB the
    # same boundary is a persisted table.
    wfull = winnow_fingerprints(raw).localCheckpoint()
    wf = wfull.select(
        F.col("id").alias("doc_id"),
        F.col("n_fingerprints").alias("wn_fingerprints"),
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(
                        "fingerprints", lambda x: x.cast("string")
                    ),
                    ",",
                ),
                "UTF-8",
            )
        ).alias("wfp_md5"),
    )
    pairs = winnow_overlap_pairs(wfull, min_shared=1)
    partners = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("wn_overlap_partners"))
    )
    d = d.join(wf, "doc_id").join(partners, "doc_id", "left")
    toks = _toks()
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    s_en, s_de, s_es = scores["en"], scores["de"], scores["es"]
    predicted = (
        F.when((s_en == 0) & (s_de == 0) & (s_es == 0), F.lit("und"))
        .when((s_en >= s_de) & (s_en >= s_es), F.lit("en"))
        .when(s_de >= s_es, F.lit("de"))
        .otherwise(F.lit("es"))
    )
    vocab = F.array_sort(F.array_distinct(toks))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        s_en.alias("score_en"),
        s_de.alias("score_de"),
        s_es.alias("score_es"),
        predicted.alias("predicted_lang"),
        F.md5(F.encode(F.array_join(vocab, " "), "UTF-8")).alias("fingerprint"),
        F.size(vocab).alias("n_distinct_tokens"),
        "lm_n_bigrams",
        "lm_nlp_micro",
        dominant_script("text").alias("dominant_script"),
        "span_removed_tokens",
        "span_dup_windows",
        "span_clean_md5",
        "wn_fingerprints",
        "wfp_md5",
        F.coalesce(
            F.col("wn_overlap_partners"), F.lit(0).cast("bigint")
        ).alias("wn_overlap_partners"),
    )


# BM25 retrieval: 5 fixed keyword queries (terms chosen from the
# synthetic corpus vocabulary with varied document frequencies so idf
# actually discriminates); k1/b are the Okapi defaults.
BM25_QUERIES = {
    0: "fast table scan",
    1: "hash join merge",
    2: "spark window agg",
    3: "vector batch group",
    4: "customer order query line",
}
BM25_K = 10
BM25_K1 = 1.2
BM25_B = 0.75


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 docs per keyword query (operators/bm25.py):
    one corpus scan, query-vocabulary broadcast filter ahead of the
    postings shuffle, rounded per-term contributions so the DuckDB
    oracle ranks identically."""
    from ..operators.bm25 import bm25_topk, query_terms_df

    d = load_table(spark, sf_dir, "documents")
    q = query_terms_df(spark, BM25_QUERIES)
    return bm25_topk(d, q, k=BM25_K, k1=BM25_K1, b=BM25_B)


QUERIES = {
    "text_stats_pack": text_stats_pack,
    "text_langfp_pack": text_langfp_pack,
    "text_bm25_topk": text_bm25_topk,
}

_DUCK_TOKS = "regexp_split_to_array(text, '\\s+')"


def span_dedup_sql(id_col: str = "doc_id") -> str:
    """DuckDB CTE chain replaying operators/spandedup.py exactly: the
    same overlapping-window md5 digests, the (min id, min pos) keeper
    rule via row_number, covered-index sets, and index-filter rebuild.
    Ends with ``sclean(id, text, n_removed_tokens, n_dup_windows)``.
    Windows are the operator's own DEFAULT_SPAN_TOKENS wide, so the
    gate's oracle can never drift from the Spark twin."""
    from ..operators.spandedup import DEFAULT_SPAN_TOKENS as L

    return f"""
    sdt AS (SELECT {id_col} AS id, text AS orig_text,
                   regexp_split_to_array(text, '\\s+') AS tk
            FROM documents),
    sw AS (SELECT id, i AS pos,
                  md5(array_to_string(tk[i : i + {L - 1}], ' ')) AS whash
           FROM sdt,
                UNNEST(generate_series(1, greatest(len(tk) - {L} + 1, 0)))
                    AS u(i)),
    sflag AS (SELECT id, pos,
                     row_number() OVER (PARTITION BY whash
                                        ORDER BY id, pos) AS rk,
                     count(*) OVER (PARTITION BY whash) AS n
              FROM sw),
    scut AS (SELECT id,
                    list_distinct(flatten(
                        list(generate_series(pos, pos + {L - 1})))) AS cut,
                    count(*) AS n_dup
             FROM sflag WHERE n > 1 AND rk > 1 GROUP BY id),
    sclean AS (SELECT d.id,
                      -- no cuts -> ORIGINAL text, whitespace untouched
                      -- (matches remove_duplicate_spans' pass-through)
                      CASE WHEN c.cut IS NULL
                           THEN d.orig_text
                           -- array_to_string of an EMPTY list is NULL
                           -- in DuckDB; Spark's array_join gives ''
                           ELSE coalesce(array_to_string(list_transform(
                               list_filter(generate_series(1, len(d.tk)),
                                           j -> NOT list_contains(c.cut, j)),
                               j -> d.tk[j]), ' '), '') END AS text,
                      CAST(coalesce(len(c.cut), 0) AS INTEGER)
                          AS n_removed_tokens,
                      CAST(coalesce(c.n_dup, 0) AS INTEGER)
                          AS n_dup_windows
               FROM sdt d LEFT JOIN scut c USING (id))"""


def winnow_sql(id_col: str = "doc_id") -> str:
    """DuckDB CTE chain replaying operators/fingerprints.py exactly at
    the operator's own defaults: the same k-gram md5_long hashes,
    rightmost-tie-irrelevant window minima as a sorted distinct set
    (``wsel(id, fp)``), and the bucket-capped overlap-pair partner
    counts (``wpart(id, n)``). Shared by the text_langfp_pack oracle
    and tests/test_fingerprints.py so the twin has one definition."""
    from ..operators.fingerprints import (
        DEFAULT_K,
        DEFAULT_MAX_BUCKET,
        DEFAULT_W,
    )
    from .dedup_q import _DUCK_MD5_15

    k, w, cap = DEFAULT_K, DEFAULT_W, DEFAULT_MAX_BUCKET
    gram = _DUCK_MD5_15.format(
        s=f"array_to_string(tk[s : s + {k - 1}], ' ')"
    )
    return f"""
    wt AS (SELECT {id_col} AS id, regexp_split_to_array(text, '\\s+') AS tk
           FROM documents),
    wg AS (SELECT id,
                  CASE WHEN len(tk) >= {k}
                       THEN list_transform(
                           generate_series(1, len(tk) - {k} + 1),
                           s -> {gram})
                       ELSE [] END AS grams
           FROM wt),
    wsel AS (SELECT id,
                    CASE WHEN len(grams) > 0
                         THEN list_sort(list_distinct(list_transform(
                             generate_series(1,
                                 greatest(len(grams) - {w} + 1, 1)),
                             s -> list_min(grams[s : s + {w - 1}]))))
                         ELSE [] END AS fp
             FROM wg),
    wfp AS (SELECT id, unnest(fp) AS h FROM wsel),
    wcap AS (SELECT h FROM wfp GROUP BY h HAVING count(*) <= {cap}),
    wpair AS (SELECT a.id AS id_a, b.id AS id_b
              FROM wfp a JOIN wfp b ON a.h = b.h AND a.id < b.id
              WHERE a.h IN (SELECT h FROM wcap)
              GROUP BY 1, 2),
    wpart AS (SELECT id, count(*) AS n
              FROM (SELECT id_a AS id FROM wpair
                    UNION ALL SELECT id_b FROM wpair)
              GROUP BY id)"""


def scrub_sql_expr(col: str = "text") -> str:
    """Replay scrub_text + normalize_whitespace as nested DuckDB
    regexp_replace('g') calls, generated from the SAME SCRUB_RULES the
    Spark side uses so query and oracle can never drift. Also imported
    by the composed-curation oracle (queries/curation_q.py)."""
    from ..operators.textproc import SCRUB_RULES

    expr = col
    for pattern, repl in SCRUB_RULES:
        # SQL single-quoted strings pass backslashes through verbatim;
        # only quotes need escaping
        pat = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


# mirror of operators/textproc.dup_line_frac_of over a lines ARRAY expr
def _script_case_sql(col: str) -> str:
    """DuckDB twin of operators/scripts.py dominant_script, generated
    from the SAME SCRIPT_CLASSES constants: per-class letter counts via
    len(regexp_extract_all(...)) (= Spark's regexp_count), argmax as a
    priority-ordered CASE chain — WHEN_k fires iff count_k >= every
    LATER class's count, which selects the maximum with earliest-
    declaration tiebreak (the same (n, -prio) desc sort the Spark side
    encodes)."""
    names = list(SCRIPT_CLASSES)
    n = {
        s: f"len(regexp_extract_all({col}, '{cls}'))"
        for s, (cls, _) in SCRIPT_CLASSES.items()
    }
    whens = [
        "WHEN " + " AND ".join(f"{n[s]} = 0" for s in names) + " THEN 'und'"
    ]
    for i, s in enumerate(names[:-1]):
        conds = " AND ".join(f"{n[s]} >= {n[t]}" for t in names[i + 1:])
        whens.append(f"WHEN {conds} THEN '{s}'")
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"


def dup_line_frac_sql(lines_expr: str) -> str:
    nb = f"list_filter(list_transform({lines_expr}, x -> trim(x)), x -> x != '')"
    return (
        f"CASE WHEN len({nb}) > 0 THEN "
        f"(len({nb}) - len(list_distinct({nb}))) / len({nb}) "
        f"ELSE 0.0 END"
    )


_RELINED = (
    f"list_transform(generate_series(1, len(tk), {LINE_TOKENS}), "
    f"s -> array_to_string(tk[s : s + {LINE_TOKENS - 1}], ' '))"
)

_PARAS = (
    f"list_transform(generate_series(1, len(tk), {PARA_TOKENS}), "
    f"s -> array_to_string(tk[s : s + {PARA_TOKENS - 1}], ' '))"
)

# C4 arm construction twins (DuckDB list_transform index is 1-based
# where Spark's transform index is 0-based — hence (i-1))
_C4_LINES = (
    f"list_transform({_RELINED}, (x, i) -> x ||"
    " (CASE WHEN (i-1) % 2 = 0 THEN '.' ELSE '' END))"
)
_C4_INPUT = (
    f"(array_to_string({_C4_LINES}, chr(10))"
    " || CASE WHEN doc_id % 97 = 0 THEN chr(10) || '{ brace }'"
    " ELSE '' END)"
)
_C4_KEPT = c4_kept_lines_sql(_C4_INPUT, min_line_words=C4_LINE_WORDS)
_GOPHER_REASONS, _GOPHER_KEEP = gopher_sql_exprs("text")

ORACLE = {
    "text_stats_pack": f"""
        WITH t AS (
            SELECT doc_id, text,
                   {_DUCK_TOKS} AS tk,
                   CAST(len({_DUCK_TOKS}) AS INTEGER) AS n_words,
                   CAST(len(list_filter({_DUCK_TOKS},
                        x -> x IN ('the','a','of','and','to'))) AS INTEGER)
                       AS n_stopwords
            FROM documents
        ), b AS (
            SELECT *, list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i+1]) AS bg
            FROM t
        ), p AS (
            SELECT doc_id, u.pos, u.para
            FROM t, UNNEST(list_transform({_PARAS},
                           (x, i) -> {{'para': x, 'pos': i}})) AS r(u)
        ), own AS (
            SELECT md5(trim(para)) AS k, min(doc_id) AS keeper,
                   count(DISTINCT doc_id) AS nd
            FROM p WHERE trim(para) != '' GROUP BY 1
        ), kept AS (
            SELECT p.doc_id, p.pos, p.para
            FROM p LEFT JOIN own ON md5(trim(p.para)) = own.k
            WHERE own.nd IS NULL OR own.nd < 2 OR p.doc_id = own.keeper
        ), rebuilt AS (
            SELECT doc_id,
                   string_agg(para, chr(10) || chr(10) ORDER BY pos)
                       AS pdedup
            FROM kept GROUP BY doc_id
        )
        SELECT doc_id, n_words,
               CAST(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INTEGER)
                   AS n_bpe_tokens,
               CAST(length(text) AS INTEGER) AS n_chars_calc,
               n_stopwords,
               n_stopwords / n_words AS stop_ratio,
               (length(text) - (n_words - 1)) / n_words AS mean_word_len,
               CASE WHEN n_words >= 2 THEN
                   list_max(list_transform(list_distinct(bg),
                       g -> len(list_filter(bg, x -> x = g)))) * 2.0 / n_words
               ELSE 0.0 END AS top_bigram_frac,
               {dup_line_frac_sql(_RELINED)} AS dup_line_frac,
               (n_words >= 20 AND n_stopwords / n_words < 0.5
                AND (length(text) - (n_words - 1)) / n_words >= 2.0) AS keep,
               {scrub_sql_expr("text")} AS scrubbed,
               {scrub_sql_expr("text")} != text AS changed,
               {extract_title_sql(_html_sql())} AS html_title,
               {html_to_text_sql(_html_sql())} AS html_text,
               CAST({n_links_sql(_html_sql())} AS INTEGER) AS html_n_links,
               coalesce(rebuilt.pdedup, '') AS pdedup,
               coalesce(array_to_string({_C4_KEPT}, chr(10)), '')
                   AS c4_text,
               CAST(len({_C4_KEPT}) AS INTEGER) AS c4_n_lines_kept,
               {c4_page_drop_sql(_C4_INPUT)} AS c4_page_drop,
               {_GOPHER_REASONS} AS gopher_reasons_csv,
               {_GOPHER_KEEP} AS gopher_keep
        FROM b LEFT JOIN rebuilt USING (doc_id)
    """,
    "text_langfp_pack": f"""
        WITH {span_dedup_sql()},
        {winnow_sql()},
        scr AS (
            SELECT doc_id, {_script_case_sql("text")} AS dominant_script
            FROM documents
        ),
        t AS (
            SELECT doc_id, lang AS labeled_lang, text,
                   CAST(len(list_filter({_DUCK_TOKS},
                        x -> x IN ('the','a','and','of'))) AS INTEGER) AS score_en,
                   CAST(len(list_filter({_DUCK_TOKS},
                        x -> x IN ('der','die','das','und'))) AS INTEGER) AS score_de,
                   CAST(len(list_filter({_DUCK_TOKS},
                        x -> x IN ('el','la','los','que'))) AS INTEGER) AS score_es
            FROM documents
        ),
        lmtok AS (
            SELECT doc_id,
                   list_prepend(chr(2),
                       list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                   x -> x != '')) AS ts
            FROM documents
        ),
        bg AS (
            SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
            FROM lmtok, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
        ),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        v AS (SELECT count(DISTINCT w2) + 1 AS vs FROM bg),
        nlp AS (
            SELECT b.doc_id,
                   CAST(round(-ln(
                       (coalesce(c12.c12, 0) + 1.0)
                       / (coalesce(c1.c1, 0) + 1.0 * v.vs)
                   ) * 1000000.0) AS BIGINT) AS m
            FROM bg b
            LEFT JOIN c12 USING (w1, w2)
            LEFT JOIN c1 USING (w1)
            CROSS JOIN v
        ),
        lm AS (
            SELECT doc_id, CAST(count(*) AS INTEGER) AS lm_n_bigrams,
                   -- DuckDB sum(BIGINT) returns HUGEINT, which fetches into
                   -- pandas as float64 and breaks the driver's stringified
                   -- value hash against Spark's BIGINT (r4 red row).
                   CAST(sum(m) AS BIGINT) AS lm_nlp_micro
            FROM nlp GROUP BY 1
        )
        SELECT doc_id, labeled_lang, score_en, score_de, score_es,
               CASE WHEN score_en = 0 AND score_de = 0 AND score_es = 0 THEN 'und'
                    WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
                    WHEN score_de >= score_es THEN 'de'
                    ELSE 'es' END AS predicted_lang,
               md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' '))
                   AS fingerprint,
               CAST(len(list_distinct({_DUCK_TOKS})) AS INTEGER)
                   AS n_distinct_tokens,
               lm.lm_n_bigrams,
               lm.lm_nlp_micro,
               scr.dominant_script,
               sc.n_removed_tokens AS span_removed_tokens,
               sc.n_dup_windows AS span_dup_windows,
               md5(sc.sp_text) AS span_clean_md5,
               CAST(len(ws.fp) AS INTEGER) AS wn_fingerprints,
               -- array_to_string of an EMPTY list is NULL in DuckDB;
               -- Spark's array_join gives ''
               md5(coalesce(array_to_string(ws.fp, ','), ''))
                   AS wfp_md5,
               CAST(coalesce(wp.n, 0) AS BIGINT) AS wn_overlap_partners
        FROM t LEFT JOIN lm USING (doc_id) JOIN scr USING (doc_id)
        JOIN (SELECT id, text AS sp_text, n_removed_tokens, n_dup_windows
              FROM sclean) sc ON sc.id = t.doc_id
        JOIN wsel ws ON ws.id = t.doc_id
        LEFT JOIN wpart wp ON wp.id = t.doc_id
    """,
}

# BM25 oracle: replays operators/bm25.py arithmetic exactly — same
# left-associative expression order, contributions rounded to 6 before
# the sum and the sum rounded again, constants rendered with Python repr
# so both engines parse the identical double.
_BM25_VALUES = ",\n                ".join(
    f"({qid}, '{t}')"
    for qid, t in sorted(
        {
            (qid, t)
            for qid, text in BM25_QUERIES.items()
            for t in text.lower().split()
        }
    )
)

ORACLE["text_bm25_topk"] = f"""
    WITH q(query_id, term) AS (VALUES
                {_BM25_VALUES}),
    tk AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              x -> x != '') AS ts
           FROM documents),
    base AS (SELECT doc_id, CAST(len(ts) AS INTEGER) AS dl,
                    unnest(ts) AS term
             FROM tk),
    postings AS (
        SELECT doc_id, term, dl, count(*) AS tf FROM base
        WHERE term IN (SELECT DISTINCT term FROM q)
        GROUP BY doc_id, term, dl),
    scal AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                    avg(len(ts)) AS avgdl
             FROM tk),
    dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    scored AS (
        SELECT q.query_id, p.doc_id,
               round(sum(round(
                   ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * {BM25_K1 + 1!r})
                   / (p.tf + {BM25_K1!r}
                      * ({1 - BM25_B!r} + {BM25_B!r} * p.dl / s.avgdl)),
                   6)), 6) AS score
        FROM postings p
        JOIN dfs d USING (term)
        JOIN q USING (term)
        CROSS JOIN scal s
        GROUP BY q.query_id, p.doc_id)
    SELECT query_id, doc_id, score, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, doc_id) AS rnk
        FROM scored
    ) WHERE rnk <= {BM25_K}
"""
