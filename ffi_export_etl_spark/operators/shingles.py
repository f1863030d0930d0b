"""Shingling + n-gram Jaccard similarity — the exact (non-approximate)
near-duplicate path.

All steps are native Column expressions (JVM-side, whole-stage codegen):
tokenize -> word n-gram shingles -> explode -> candidate join -> integer
Jaccard test. Candidate generation uses PREFIX FILTERING (the AllPairs /
PPJoin family, Bayardo et al. WWW'07): under a global rarest-first token
order, two documents with Jaccard >= t MUST share a token inside each
other's first n - ceil(t*n) + 1 tokens, so the self-join touches only
prefix tokens (typically the rarest few per document) instead of every
shingle. Exact — zero false negatives — with candidate volume bounded by
rare-token co-occurrence rather than all shingle collisions. MinHash-LSH
(operators/minhash.py) remains the approximate path when even exact
verification is too much.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .spread import spread_per_doc
from .xplode import explode_nonempty


def tokens(text: Column) -> Column:
    return F.split(text, r"\s+")


def word_shingle_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shs) — each document's DISTINCT word-n-gram shingle SET as
    one array row. The set form is what Jaccard verification consumes
    (map-side array_intersect); the exploded long table
    (shingle_table) derives from it.

    Adaptively repartitions by id first (operators/spread.py): document
    corpora often arrive locally as ONE parquet file -> one partition,
    and shingling is the CPU-heavy step — without the spread it runs on
    one core. On a many-file corpus the spread is skipped and the raw
    text is never shuffled (candidate joins shuffle by shingle, not id).
    """
    # Two-step projection: materialize the token array ONCE, then build
    # shingles from the attribute — the zip_with fold references its
    # input n+1 times, and CollapseProject keeps the split un-inlined
    # only when it is already a separate multi-referenced alias. (The
    # naive transform(sequence, i -> element_at(toks, i+j)) form
    # re-evaluates the split per element access: O(len^2), 10x wall
    # clock on real documents.)
    toks = spread_per_doc(docs, id_col).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    length = F.greatest(F.size("_toks") - (n - 1), F.lit(0))
    shingle = F.slice("_toks", 1, length)
    for j in range(1, n):
        shingle = F.zip_with(
            shingle,
            F.slice("_toks", 1 + j, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return toks.select("id", F.array_distinct(shingle).alias("shs"))


def shingle_table(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) long table, one row per distinct shingle per doc —
    the explode of word_shingle_arrays (see there for the spread and
    projection-structure notes)."""
    return explode_nonempty(
        word_shingle_arrays(docs, id_col, text_col, n),
        ["id"], "shs", "shingle",
    )


def char_shingle_table(
    docs: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(id, shingle) long table of distinct CHARACTER n-grams — the
    shingle path for scripts without whitespace word boundaries (CJK,
    Thai, ...), where word trigrams degenerate to whole-sentence tokens
    and near-duplicates become undetectable (see operators/scripts.py
    for the routing predicate).

    Same shifted-slice zip_with build as the word path — O(len) per
    document, native exprs — over the code-point array from
    ``split(text, '')``. Whitespace is collapsed AND trimmed first
    (textproc.normalize_whitespace — the canonical form) so
    formatting-only differences, including leading/trailing whitespace,
    never perturb the n-grams (the char analog of word tokenization).
    n=5 chars carries roughly the information of a word bigram in CJK;
    the MinHash/LSH layers on top are shingle-agnostic.
    """
    return explode_nonempty(
        char_shingle_arrays(docs, id_col, text_col, n),
        ["id"], "shs", "shingle",
    )


def char_shingle_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(id, shs) — the char-n-gram shingle SET per document (the array
    form char_shingle_table explodes; see its docstring)."""
    from .textproc import normalize_whitespace

    normed = normalize_whitespace(F.col(text_col))
    chars = spread_per_doc(docs, id_col).select(
        F.col(id_col).alias("id"), F.split(normed, "").alias("_cs")
    )
    length = F.greatest(F.size("_cs") - (n - 1), F.lit(0))
    shingle = F.slice("_cs", 1, length)
    for j in range(1, n):
        shingle = F.zip_with(
            shingle,
            F.slice("_cs", 1 + j, length),
            lambda a, b: F.concat(a, b),
        )
    return chars.select("id", F.array_distinct(shingle).alias("shs"))


def default_shingle_n(mode: str) -> int:
    """Per-mode shingle width: word trigrams, char 5-grams (a char
    5-gram carries roughly a word bigram's information in CJK; char
    TRIgrams over-merge any same-language corpus)."""
    return 3 if mode == "word" else 5


def build_shingles(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int | None,
    mode: str = "word",
) -> DataFrame:
    """Dispatch to word- or char-n-gram shingling; every sketch operator
    above the shingle table (minhash, jaccard) is mode-agnostic.

    ``n=None`` resolves per mode (default_shingle_n) — callers that
    switch mode without thinking about width get a sane pairing instead
    of char trigrams."""
    if n is None:
        n = default_shingle_n(mode)
    if mode == "word":
        return shingle_table(docs, id_col, text_col, n)
    if mode == "char":
        return char_shingle_table(docs, id_col, text_col, n)
    raise ValueError(f"unknown shingle mode {mode!r} (want word|char)")


def build_shingle_arrays(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int | None,
    mode: str = "word",
) -> DataFrame:
    """(id, shs) — build_shingles' per-document SET form (the exploded
    table is its explode); consumed where whole sets are compared
    map-side (jaccard_pairs verification)."""
    if n is None:
        n = default_shingle_n(mode)
    if mode == "word":
        return word_shingle_arrays(docs, id_col, text_col, n)
    if mode == "char":
        return char_shingle_arrays(docs, id_col, text_col, n)
    raise ValueError(f"unknown shingle mode {mode!r} (want word|char)")


def jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int | None = None,
    threshold_pct: int = 20,
    mode: str = "word",
    cache_shingles: bool = False,
) -> DataFrame:
    """All doc pairs with n-gram Jaccard >= threshold_pct/100 — EXACT.

    Candidates come from a prefix-filtered join: shingles are ranked
    rarest-first globally (document frequency, shingle tiebreak); doc a
    keeps its first n_a - ceil(t*n_a) + 1 shingles as the prefix. If
    J(a,b) >= t then the shared-shingle count o satisfies o >= ceil(t*n_a)
    and o >= ceil(t*n_b), which forces a common shingle inside BOTH
    prefixes (AllPairs prefix-filter theorem) — so joining prefix rows
    only loses nothing. Verification then counts the FULL intersection
    for candidates and applies the integer test (inter*100 >= pct*union),
    bit-identical across engines. Returns (id_a, id_b, n_inter, n_union,
    jaccard) with id_a < id_b.

    Scale shape: one global doc-frequency aggregation + per-doc window to
    rank + a join on rare prefix tokens (small fan-out by construction) +
    candidate-pinned verification — linear-ish in practice; the truly
    quadratic regime (everything near-duplicate) is quadratic in the
    OUTPUT, which no exact algorithm avoids. Verification joins the
    candidate pairs to the per-doc shingle ARRAYS (one row per doc) and
    intersects map-side — never a full-corpus exploded-table shuffle.
    """
    # The array table feeds four subplans (doc-frequency ranking via
    # its explode, the prefix, both verification sides).
    # cache_shingles=True persists it — right when the corpus scan
    # dominates (real 100 TB runs) — plus the (small) prefix table,
    # whose self-join otherwise duplicates the whole
    # explode->doc-frequency->window subtree once per side. The caller
    # owns the release: the persisted handles ride on the result as
    # ``result._jaccard_persisted`` (the curate_documents pattern);
    # default False recomputes so ad-hoc callers never pin the largest
    # intermediate for the session lifetime.
    arr = build_shingle_arrays(docs, id_col, text_col, n, mode)
    if cache_shingles:
        arr.persist()
    # n_sh rides through the explode — no separate sizes join
    sh = explode_nonempty(
        arr, ["id", F.size("shs").alias("n_sh")], "shs", "shingle"
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("id").orderBy("_df", "shingle")
    ranked = sh.join(freq, "shingle").withColumn("_rk", F.row_number().over(w))
    # prefix length = n - ceil(pct*n/100) + 1, in integer arithmetic
    need = (F.col("n_sh") * threshold_pct + 99) / 100
    prefix = ranked.filter(
        F.col("_rk") <= F.col("n_sh") - F.floor(need).cast("long") + 1
    ).select("id", "shingle", "n_sh")
    if cache_shingles:
        prefix = prefix.persist()
    a = prefix.alias("a")
    b = prefix.alias("b")
    # Size filter INSIDE the candidate join (lossless): J >= t forces
    # n_inter >= t*max(n_a, n_b) and n_inter <= min(n_a, n_b), so
    # min >= t*max — a pair whose set sizes differ by more than 1/t can
    # never qualify and is dropped before the (expensive) intersection
    # join ever sees it. Evaluated map-side inside the equi-join stage.
    size_ok = (
        F.least(F.col("a.n_sh"), F.col("b.n_sh")) * 100
        >= threshold_pct * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    )
    cands = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")) & size_ok)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Verification: ship each CANDIDATE doc's shingle set (one array row
    # per doc — candidate-bounded, never the full exploded corpus) and
    # intersect map-side. The former explode-join-groupBy counted the
    # intersection by shuffling candidate_pairs x shingles rows.
    va = arr.select(F.col("id").alias("id_a"), F.col("shs").alias("sa"))
    vb = arr.select(F.col("id").alias("id_b"), F.col("shs").alias("sb"))
    out = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sa", "sb")).cast("long"))
        .withColumn(
            "n_union",
            (F.size("sa") + F.size("sb")).cast("long") - F.col("n_inter"),
        )
        .filter(F.col("n_inter") * 100 >= threshold_pct * F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_union",
            (F.col("n_inter") / F.col("n_union")).alias("jaccard"),
        )
    )
    # release handles for long-lived sessions (see cache_shingles note)
    out._jaccard_persisted = [arr, prefix] if cache_shingles else []
    return out
