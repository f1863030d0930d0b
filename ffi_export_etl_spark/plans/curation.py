"""End-to-end training-data curation pipeline — the operators composed.

The individual operators (blocklist, decontamination, boilerplate strip,
scrub, near-dup, quality filter, mixture sampling, sequence packing) are
each pinned on their own; this plan shows and tests how they compose into
the standard pretraining curation DAG, declaratively, so Catalyst sees
ONE plan per stage boundary:

    raw documents
      -> domain blocklist                      (optional; before any text work)
      -> benchmark decontamination             (optional; judges RAW text)
      -> boilerplate line strip                (optional; needs line structure)
      -> paragraph dedup, one canonical copy   (optional; needs paragraphs)
      -> scrub + whitespace-normalize          (one scan, codegen)
      -> near-dup cluster, keep one per cluster (MinHash-LSH + CC)
      -> quality filter                        (keep flag from stats)
      -> per-source mixture sample             (weighted_sample)
      -> sequence packing positions            (block-partitioned cumsum)

Scale notes: the only iterative piece is connected components
(alternating large-star/small-star — O(log n) rounds on any edge
shape); everything else is scans, broadcast joins against small sets
(blocklist, benchmark shingles), a shuffle anti-join for the
boilerplate set (NOT broadcast — tens of millions of repeated lines at
web scale; AQE may still broadcast it at runtime when it measures
small), one LSH bucket shuffle, and window aggregations. The dedup
stage consumes the SCRUBBED text, so PII differences cannot defeat
near-dup detection — the ordering the curation literature prescribes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.components import dedup_clusters
from ..operators.minhash import minhash_near_duplicates
from ..operators.packing import pack_sequences
from ..operators.decontaminate import (
    decontaminate,
    decontaminate_by_containment,
)
from ..operators.sampling import weighted_sample
from ..operators.textproc import (
    dedup_paragraphs,
    filter_blocked_domains,
    normalize_whitespace,
    scrub_text,
    strip_boilerplate_lines,
)


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    mixture: dict[str, float] | None = None,
    token_budgets: dict[str, int] | None = None,
    default_fraction: float = 1.0,
    min_words: int = 20,
    jaccard_threshold_pct: int = 20,
    shingle_mode: str = "word",
    shingle_n: int | None = None,
    capacity: int = 512,
    boilerplate_min_docs: int | None = None,
    paragraph_min_repeat: int | None = None,
    span_dedup_tokens: int | None = None,
    url_col: str | None = None,
    domain_blocklist: list[str] | None = None,
    dedup_urls: bool = False,
    benchmark: DataFrame | None = None,
    benchmark_id_col: str = "bench_id",
    decon_n: int = 8,
    decon_min_containment_pct: int | None = None,
    decon_span_tokens: int | None = None,
    max_dup_line_frac: float | None = None,
    compression_ratio_bounds: tuple[float, float] | None = None,
    max_top_bigram_frac: float | None = None,
    lm_reference: DataFrame | None = None,
    max_avg_neg_logprob: float | None = None,
    input_html: bool = False,
    c4_line_clean: bool = False,
    gopher_rules: bool = False,
    temperature_alpha: float | None = None,
    temperature_budget: int | None = None,
    epochs: dict[str, float] | None = None,
    split_val: float | None = None,
    split_test: float | None = None,
    split_salt: str = "split",
    funnel: list | None = None,
) -> DataFrame:
    """Returns the curated corpus: (id, source, text, n_words, cluster_id,
    tok_offset, first_seq, last_seq) — scrubbed text, one keeper per
    near-dup cluster, quality-filtered, mixture-sampled, and positioned
    in the packed token stream. ``epochs`` ("N epochs of source X",
    r7) adds an ``epoch`` copy-index column and repeats each kept doc
    into its own token-stream slices (sources it does not name keep one
    epoch); ``split_val``/``split_test``
    (r7) add a leakage-safe ``split`` column hashed on the near-dup
    cluster id the pipeline already computes.

    Optional stages, in the order the curation literature prescribes:
    ``input_html`` extracts plain text from raw-HTML corpora before
    everything else (operators/htmlx.py — every later judge sees prose);
    ``domain_blocklist`` (with ``url_col``) drops blocklisted sources
    before any text work; ``boilerplate_min_docs`` strips lines repeated
    across that many documents FIRST among the text stages — line
    structure must still exist, so it runs before whitespace
    normalization collapses newlines; ``benchmark`` decontaminates
    against an eval set (shared ``decon_n``-grams, on the RAW text so
    eval overlap is judged before any rewriting; set
    ``decon_min_containment_pct`` to switch from the absolute
    shared-count rule to the normalized >=pct-of-the-item rule, or
    ``decon_span_tokens`` to CUT the overlapping token windows and keep
    the rest of the document — span-grain decontamination);
    ``paragraph_min_repeat`` dedups repeated paragraphs down to one
    canonical copy (after line-level boilerplate, before scrubbing —
    paragraph structure must still exist); ``span_dedup_tokens`` cuts
    cross-document duplicate token RUNS of at least that width down to
    their first occurrence (operators/spandedup.py — the finest-grain
    structural dedup, after the coarser ones, before scrubbing shifts
    token positions); ``c4_line_clean`` applies the C4 line rule
    (terminal punctuation + min words, page-drop markers) last among
    the line/structure stages; ``gopher_rules`` adds the Gopher
    document-quality heuristics at the quality stage (both
    operators/qualityrules.py, judged on raw post-HTML text).

    The two most-reused boundaries are persisted: ``scrubbed``
    (consumed by the minhash pair pass, the cluster attach, and the
    keeper join — without it the scan + scrub regexes + boilerplate
    anti-join recompute per consumer) and the
    mixture output (consumed by packing AND the final position join —
    without it the ENTIRE upstream pipeline runs twice). Measured on the
    composed sf0.1 run: steady-state 9.5s -> 6.1s with both persists
    (each alone recovering about half), and -> ~4.6s once the CC round
    release stopped evicting the scrubbed cache (see components.py
    _persistent_ids). The CacheManager holds cached plans
    until EXPLICIT unpersist (they are NOT freed by dropping the
    returned DataFrame) — the persisted boundaries are attached to the
    result as ``result._curation_persisted``; call
    release_curation_caches(result) when done with it in a long-lived
    session.

    ``funnel`` (default None, inert): pass a list to collect
    (stage_name, frame, text_col) at every enabled stage boundary —
    the audit hook behind the CLI's ``curate --funnel``; see
    :func:`count_funnel_stages` for pricing."""
    # ``funnel``: optional AUDIT collector. When a
    # list is passed, every enabled stage appends (stage_name, frame,
    # text_col_name) at its output boundary — frames only, no actions;
    # counting them is the caller's (priced) choice. None = zero-cost
    # no-op, the production default.
    _mark = (
        (lambda name, df, tcol: funnel.append((name, df, tcol)))
        if funnel is not None
        else (lambda name, df, tcol: None)
    )
    cur = docs
    # Audit-mode boundary caches (r10, judge item 1): pricing a funnel
    # boundary UPSTREAM of the scrubbed persist re-executes its raw-text
    # lineage per count — at sf0.1 the boilerplate recompute plus the
    # input rescan were ~40% of the composed row's warm cost. In funnel
    # mode the input frame and the final pre-scrub frame are persisted
    # too (raw corpus text, the price of the audit; the production
    # funnel=None path is untouched), handed back through
    # _curation_persisted like the other boundaries.
    _funnel_persists: list[DataFrame] = []
    if funnel is not None:
        cur = cur.persist()
        _funnel_persists.append(cur)
    _mark("input", cur, text_col)
    if input_html:
        # crawl corpora arrive as raw HTML: extract plain text FIRST so
        # every downstream judge (decontamination n-grams, boilerplate
        # lines, quality stats, dedup shingles) sees prose, not markup.
        # One chained-regexp projection, codegen, no extra scan
        # (operators/htmlx.py).
        from ..operators.htmlx import html_to_text

        cur = cur.withColumn(text_col, html_to_text(text_col))
        _mark("html_extract", cur, text_col)
    # the raw-TEXT baseline for the quality signals computed on
    # unscrubbed text (repetition, compression, gopher): post-HTML
    # extraction (signals must judge prose, not markup), pre-everything
    # else
    raw_text = cur
    if dedup_urls:
        # collapse recrawls / tracking-parameter variants at URL grain
        # BEFORE any text work — one canonical-key aggregation vs the
        # much more expensive content-dedup stages downstream
        if url_col is None:
            raise ValueError("dedup_urls requires url_col")
        from ..operators.urls import dedup_by_url

        cur = dedup_by_url(cur, url_col=url_col, id_col=id_col).drop(
            "canonical_url"
        )
        _mark("url_dedup", cur, text_col)
    if domain_blocklist is not None:
        if url_col is None:
            raise ValueError("domain_blocklist requires url_col")
        cur = filter_blocked_domains(
            cur, url_col=url_col, blocklist=domain_blocklist
        )
        _mark("domain_blocklist", cur, text_col)
    if benchmark is not None:
        if decon_span_tokens is not None:
            # span-grain rule (r7): CUT the benchmark-overlapping token
            # windows out of the document instead of dropping it whole
            # — the middle ground for long docs quoting one eval item
            # (operators/spandedup.remove_contaminated_spans); carries
            # source through like the other per-doc rewrite stages
            from ..operators.spandedup import remove_contaminated_spans

            # source rides through extra_cols — a join-back onto `cur`
            # would re-execute the upstream lineage (html extraction,
            # blocklist) on the second branch, the documented
            # anti-pattern
            cur = remove_contaminated_spans(
                cur, benchmark, id_col=id_col, text_col=text_col,
                bench_id_col=benchmark_id_col,
                span_tokens=decon_span_tokens,
                extra_cols=(source_col,),
            ).select(
                F.col("id").alias(id_col), F.col("text").alias(text_col),
                source_col,
            )
        elif decon_min_containment_pct is not None:
            # normalized rule: >= pct of the bench item's n-grams leaked
            cur = decontaminate_by_containment(
                cur, benchmark, id_col=id_col, text_col=text_col,
                bench_id_col=benchmark_id_col, n=decon_n,
                min_containment_pct=decon_min_containment_pct,
            )
        else:
            cur = decontaminate(
                cur, benchmark, id_col=id_col, text_col=text_col,
                bench_id_col=benchmark_id_col, n=decon_n,
            )
        _mark("decontaminate", cur, text_col)
    if boilerplate_min_docs is not None:
        stripped = strip_boilerplate_lines(
            cur, id_col=id_col, text_col=text_col,
            min_docs=boilerplate_min_docs,
        )
        cur = stripped.join(
            cur.select(F.col(id_col).alias("id"), source_col), "id"
        ).select(
            F.col("id").alias(id_col), F.col("text").alias(text_col),
            source_col,
        )
        _mark("boilerplate_lines", cur, text_col)
    if paragraph_min_repeat is not None:
        deduped = dedup_paragraphs(
            cur, id_col=id_col, text_col=text_col,
            min_repeat=paragraph_min_repeat,
        )
        cur = deduped.withColumnRenamed(id_col, "id").join(
            cur.select(F.col(id_col).alias("id"), source_col), "id"
        ).select(
            F.col("id").alias(id_col), F.col("text").alias(text_col),
            source_col,
        )
        _mark("paragraph_dedup", cur, text_col)
    if span_dedup_tokens is not None:
        # sub-paragraph grain last among the structural dedups (its
        # token windows see whatever the coarser stages left), still on
        # RAW text: the scrub's whitespace normalization would shift
        # token positions under the span coordinates (r5,
        # operators/spandedup.py — the ExactSubstr shape)
        from ..operators.spandedup import remove_duplicate_spans

        cleaned = remove_duplicate_spans(
            cur, id_col=id_col, text_col=text_col,
            span_tokens=span_dedup_tokens,
        )
        cur = cleaned.join(
            cur.select(F.col(id_col).alias("id"), source_col), "id"
        ).select(
            F.col("id").alias(id_col), F.col("text").alias(text_col),
            source_col,
        )
        _mark("span_dedup", cur, text_col)
    if c4_line_clean:
        # C4 line rule (terminal punctuation + min words) and page-drop
        # markers, LAST among the line/structure stages (it consumes
        # whatever boilerplate/paragraph/span dedup left) and before the
        # scrub collapses line structure. Narrow one-scan projection.
        from ..operators.qualityrules import c4_clean_lines

        # source rides through extra_cols (as in curate_increment) — a
        # join-back onto `cur` would re-execute the whole upstream
        # pipeline (URL dedup, decontamination, span dedup) on the
        # second join branch, the documented join-back anti-pattern
        cleaned = c4_clean_lines(
            cur, id_col=id_col, text_col=text_col,
            extra_cols=(source_col,),
        )
        cur = cleaned.filter(~F.col("c4_page_drop")).select(
            F.col("id").alias(id_col),
            F.col("c4_text").alias(text_col),
            source_col,
        )
        _mark("c4_line_clean", cur, text_col)
    # The per-doc script flag (9 regexp_count scans) is materialized
    # INSIDE the scrubbed projection in auto mode, so it is evaluated
    # once at cache fill — both routing filters and the quality stage
    # read the cached boolean instead of re-running the regexes.
    # the last raw-text boundary: every structural stage between the
    # input and the scrub prices from this cache in funnel mode (see
    # the audit-mode note at the top of the stage chain)
    if _funnel_persists and cur is not _funnel_persists[0]:
        cur = cur.persist()
        _funnel_persists.append(cur)
    scrub_expr = normalize_whitespace(scrub_text(text_col))
    scrub_cols = [
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        scrub_expr.alias("text"),
    ]
    if shingle_mode == "auto":
        from ..operators.scripts import needs_char_shingles

        scrub_cols.append(needs_char_shingles(scrub_expr).alias("_charish"))
    scrubbed = cur.select(*scrub_cols).persist()
    _mark("scrub", scrubbed, "text")

    # shingle_mode="char" is the route for boundary-less scripts (CJK,
    # Thai — operators/scripts.py needs_char_shingles); word mode is the
    # default for segmented corpora; "auto" detects the dominant script
    # per document and runs each partition of the corpus through its
    # proper mode (cross-script near-dup pairs don't exist in practice —
    # an unsegmented CJK doc shares no shingles with a Latin one under
    # either definition, so the union loses nothing). Shingle width
    # defaults per mode (shingles.default_shingle_n — char TRIgrams
    # over-merge any same-language corpus).
    if shingle_mode == "auto":
        pairs = minhash_near_duplicates(
            scrubbed.filter(~F.col("_charish")), "id", "text",
            n=shingle_n, threshold_pct=jaccard_threshold_pct,
            shingle_mode="word",
        ).select("id_a", "id_b").unionByName(
            minhash_near_duplicates(
                scrubbed.filter(F.col("_charish")), "id", "text",
                n=shingle_n, threshold_pct=jaccard_threshold_pct,
                shingle_mode="char",
            ).select("id_a", "id_b")
        )
    else:
        pairs = minhash_near_duplicates(
            scrubbed, "id", "text", n=shingle_n,
            threshold_pct=jaccard_threshold_pct, shingle_mode=shingle_mode,
        ).select("id_a", "id_b")
    # audit mode also caches the near-dup PAIR SET: its lineage is
    # deterministic off the scrubbed cache (unlike everything downstream
    # of the cluster attach, whose fresh localCheckpoint RDD ids defeat
    # cross-call plan equality), so repeated audit/measurement calls in
    # one session skip the LSH band/bucket shuffles entirely — the
    # single first consumer is dedup_clusters' eager edge checkpoint
    if _funnel_persists:
        pairs = pairs.persist()
        _funnel_persists.append(pairs)
    clusters = dedup_clusters(scrubbed, pairs, id_col="id")
    keepers = scrubbed.join(
        clusters.filter("is_keeper").select("id", "cluster_id"), "id"
    )
    _mark("neardup_keepers", keepers, "text")

    # Quality length rule, script-aware: whitespace word counts are
    # meaningless for boundary-less scripts (an unsegmented CJK doc is
    # 1-2 "words" and would ALWAYS fail min_words, silently emptying the
    # char/auto routes of the very documents they dedup). For docs on
    # the char route the effective word count is ceil(chars / 2) — the
    # ~1.5-2 chars-per-word average of CJK — reported in the same
    # n_words output column.
    if shingle_mode == "auto":
        charish_col = F.col("_charish")
    elif shingle_mode == "char":
        charish_col = F.lit(True)
    else:
        charish_col = F.lit(False)
    n_words = F.when(
        charish_col,
        F.ceil(F.length("text") / F.lit(2)).cast("int"),
    ).otherwise(F.size(F.split(F.col("text"), r"\s+")))
    quality = keepers.withColumn("n_words", n_words).filter(
        F.col("n_words") >= min_words
    )
    _mark("min_words", quality, "text")
    if shingle_mode == "auto":
        quality = quality.drop("_charish")
    # Gopher-style repetition thresholds (optional), applied at the
    # quality stage (post-dedup, pre-mixture/packing). The signals are
    # computed over the RAW input text: the scrub stage's whitespace
    # normalization collapses newlines, which would blind dup_line_frac
    # (same reason the boilerplate strip runs pre-normalization) — and
    # PII placeholders must not perturb the bigram statistics either.
    if max_dup_line_frac is not None or max_top_bigram_frac is not None:
        from ..operators.textproc import repetition_scores

        rep = repetition_scores(raw_text, id_col=id_col, text_col=text_col)
        quality = quality.join(
            rep.select("id", "dup_line_frac", "top_bigram_frac"), "id"
        )
        if max_dup_line_frac is not None:
            quality = quality.filter(
                F.col("dup_line_frac") <= max_dup_line_frac
            )
        if max_top_bigram_frac is not None:
            quality = quality.filter(
                F.col("top_bigram_frac") <= max_top_bigram_frac
            )
        quality = quality.drop("dup_line_frac", "top_bigram_frac")
        _mark("repetition_filters", quality, "text")
    if gopher_rules:
        # Gopher document-level heuristics (operators/qualityrules.py)
        # on the raw text, same rationale as the repetition signals:
        # scrub placeholders and whitespace collapse must not perturb
        # the statistics. One narrow scan + a semi-join on the keepers.
        from ..operators.qualityrules import gopher_quality

        gq = gopher_quality(raw_text, id_col=id_col, text_col=text_col)
        quality = quality.join(
            gq.filter("gopher_keep").select("id"), "id", "left_semi"
        )
        _mark("gopher_rules", quality, "text")
    # zlib-compressibility bounds (optional, r5): both tails of the
    # ratio distribution mark junk — templated/repeated text compresses
    # far below natural prose, gibberish barely compresses. RAW text,
    # like the other repetition signals. The only Arrow stage in the
    # composed plan; byte-level DEFLATE has no Column form.
    if compression_ratio_bounds is not None:
        from ..operators.textproc import compression_ratio

        lo, hi = compression_ratio_bounds
        cr = compression_ratio(raw_text, id_col=id_col, text_col=text_col)
        quality = quality.join(
            cr.filter(
                (F.col("compression_ratio") >= lo)
                & (F.col("compression_ratio") <= hi)
            ).select("id"),
            "id",
            "left_semi",
        )
        _mark("compression_bounds", quality, "text")
    # CCNet-style LM filter (optional): score against a reference
    # corpus' bigram model and drop the least reference-like tail
    if max_avg_neg_logprob is not None:
        from ..operators.lmscore import score_documents, train_bigram_lm

        ref = lm_reference if lm_reference is not None else quality
        ref_text = (
            ref.select(F.col(text_col).alias("text"))
            if text_col in ref.columns
            else ref.select("text")
        )
        bigrams, unigrams, vocab = train_bigram_lm(ref_text)
        lm = score_documents(
            quality, bigrams, unigrams, vocab, id_col="id",
            text_col="text",
        )
        quality = quality.join(
            lm.filter(
                F.col("avg_neg_logprob") <= max_avg_neg_logprob
            ).select("id"),
            "id",
        )
        _mark("lm_filter", quality, "text")

    mixed = (
        weighted_sample(
            quality, "id", "source", mixture, default_fraction
        )
        if mixture is not None
        else quality
    )
    if mixture is not None:
        _mark("mixture_sample", mixed, "text")
    # Budget-based mixture (how real pretraining mixes are specified:
    # "N tokens from source X") composes after the fractional one; the
    # effective n_words column is the token measure. Mutually usable —
    # most callers pass one or the other.
    if token_budgets is not None:
        from ..operators.sampling import token_budget_sample

        mixed = token_budget_sample(
            mixed, "id", "source", "n_words", token_budgets
        )
        _mark("token_budget", mixed, "text")
    mixed = mixed.persist()
    persisted_mix = mixed  # the handle to release, even if rebound below
    # temperature (alpha) mixing — the "no hand-tuned rates" mixture:
    # per-source rates derive from corpus shares in-plan
    # (operators/sampling.temperature_mixture_rates); composes after
    # the explicit mixtures like token_budgets does, and AFTER the
    # persist boundary: the rates aggregation traverses its input a
    # second time (one tiny groupBy + the membership probe), which must
    # hit the cache, not re-run the whole upstream pipeline
    if temperature_alpha is not None:
        from ..operators.sampling import temperature_sample

        mixed = temperature_sample(
            mixed, "id", "source",
            alpha=temperature_alpha, total_budget=temperature_budget,
        )
        _mark("temperature_sample", mixed, "text")
    # epoch upsampling ("N epochs of source X", weights ABOVE 1) fans
    # rows out AFTER every keep/drop decision and BEFORE packing, so
    # each copy occupies its own slice of the token stream; the packed
    # positions key on a composite (id, epoch) row id because duplicate
    # ids would cross-join in the position attach. Cheap projection —
    # applied after the persist boundary like temperature.
    extra_cols: list[str] = []
    join_key = "id"
    # fail fast on non-integral ids (ADVICE r8): packing's
    # global_cumsum blocks on a NUMERIC order key, so a string id
    # either throws CAST_INVALID_INPUT mid-job (ANSI, the Spark 4
    # default) or silently degrades (non-ANSI: NULL block key -> one
    # giant block); with epochs it is strictly worse — the non-ANSI
    # composite _rid = cast(id as long) * n_max + epoch goes NULL and
    # the equi-join returns an EMPTY curated output with no error.
    id_type = dict(mixed.dtypes)["id"]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            "curate_documents requires an integral id column "
            "(sequence packing orders on it"
            + (
                "; epochs builds the composite row id "
                "id * max_copies + epoch from it"
                if epochs is not None
                else ""
            )
            + f"); got {id_type!r}. Map ids to integers first, e.g. "
            "xxhash64(id) with a collision-checked count, or "
            "monotonically_increasing_id over a stable sort."
        )
    if epochs is not None:
        from ..operators.sampling import epoch_upsample

        # numeric composite row id (packing's global_cumsum blocks on a
        # NUMERIC order key): id * max_copies + epoch keeps the stream
        # in id order with a doc's copies adjacent, and stays exact for
        # ids up to 2^62 / max_copies
        import math as _math

        n_max = int(
            _math.ceil(max([*epochs.values(), 1.0]))
        ) + 1
        # DISTINCT salt (review r7): the mixture/budget/temperature
        # samplers upstream condition on the salt-'' md5(id) axis; an
        # unsalted fractional-copy test would reuse the identical hash
        # and be fully correlated with kept-ness (e.g. mixture rate 0.5
        # + epochs 2.5 would give EVERY kept doc the third copy —
        # effective 3.0 epochs, not 2.5)
        mixed = epoch_upsample(
            mixed, "id", "source", epochs, 1.0, salt="epoch"
        ).withColumn(
            "_rid",
            (F.col("id").cast("long") * n_max + F.col("epoch")).cast(
                "long"
            ),
        )
        join_key = "_rid"
        extra_cols.append("epoch")
        _mark("epoch_upsample", mixed, "text")

    packed = pack_sequences(
        mixed, id_col=join_key, text_col="text", capacity=capacity
    )
    out = mixed.join(
        packed.select(
            F.col("id").alias(join_key),
            "tok_offset", "first_seq", "last_seq",
        ),
        join_key,
    ).select(
        "id",
        "source",
        "text",
        "n_words",
        "cluster_id",
        *extra_cols,
        "tok_offset",
        "first_seq",
        "last_seq",
    )
    # leakage-safe split tagging: the assignment hashes the near-dup
    # CLUSTER id the pipeline already attached, so a kept doc and any
    # below-threshold near-duplicate of its cluster land on the same
    # side (operators/sampling.split_by_cluster semantics, for free).
    # split_salt defaults NON-empty (review r7): keepers have
    # cluster_id == id, so a salt-'' split would hash the exact axis
    # the upstream samplers consumed — with mixture rate r <= val
    # fraction, EVERY kept doc would land in val and train would be
    # silently empty.
    if split_val is not None or split_test is not None:
        from ..operators.sampling import split_train_val_test

        out = split_train_val_test(
            out, "cluster_id", split_val or 0.0, split_test or 0.0,
            split_salt,
        )
    # cached plans live in the CacheManager until explicitly unpersisted;
    # hand the caller the handles (see release_curation_caches)
    out._curation_persisted = [scrubbed, persisted_mix, *_funnel_persists]
    return out


def count_funnel_stages(stages: list, out: DataFrame | None = None) -> list[dict]:
    """Materialize a funnel collector (the ``funnel=`` kwarg of
    curate_documents) into [{stage, docs, chars}] rows, one aggregate
    per boundary, optionally ending with a "packed_output" row counted
    from the pipeline's returned corpus. Counting is the priced part of
    the audit: boundaries upstream of the persisted scrub recompute
    their (linear, scan-shaped) lineage per count; everything at or
    after the scrub rides the pipeline's own caches. Call AFTER the
    main output has been written/collected so the persisted boundaries
    are already hot."""
    frames = list(stages) + ([("packed_output", out, "text")] if out is not None else [])
    if not frames:
        return []
    # ONE action for the whole funnel (r11): each boundary used to pay
    # its own .first() job round-trip, serializing ~a dozen one-row
    # aggregates; unioned they run as ONE job whose independent
    # aggregate subtrees execute concurrently. The _i column pins the
    # stage order (union output order is not a contract).
    from functools import reduce

    aggs = [
        df.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.length(F.col(tcol))).alias("chars"),
        ).select(F.lit(i).alias("_i"), "docs", "chars")
        for i, (_, df, tcol) in enumerate(frames)
    ]
    rows = {
        r["_i"]: r
        for r in reduce(lambda a, b: a.unionByName(b), aggs).collect()
    }
    return [
        {
            "stage": frames[i][0],
            "docs": int(rows[i]["docs"]),
            "chars": int(rows[i]["chars"])
            if rows[i]["chars"] is not None
            else 0,
        }
        for i in range(len(frames))
    ]


def release_curation_caches(result: DataFrame) -> None:
    """Unpersist the boundary caches a curate_documents result is
    holding (no-op for plain DataFrames). Call after the result has been written/collected in a
    long-lived session; per-process pipelines can rely on process exit
    instead."""
    for df in getattr(result, "_curation_persisted", []):
        try:
            df.unpersist()
        except Exception:
            pass
