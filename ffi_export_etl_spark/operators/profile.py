"""One-pass table profiling — data-quality stats for pipeline audits.

The reference audits row-count deltas only (parser/xml.py:665-697); a
training-data pipeline also wants per-column health: null ratios and
cardinality estimates, computed in ONE scan regardless of column count.
Distinct counts use the HLL++ sketch (approx_count_distinct) — bounded
memory at any scale; exact distinct per column would be one shuffle EACH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, rsd: float = 0.05) -> DataFrame:
    """(column, n_rows, n_nonnull, approx_distinct, min_val, max_val) —
    one aggregation job over all columns (4 aggregates per column + one
    count, all map-side combined), then a driver-side unpivot of the
    single result row. min/max are rendered as strings so the unpivoted
    schema is uniform across column types (the order used is each
    column's native one). Portability caveat: integers and strings
    render identically on every engine, but FLOAT/DOUBLE min/max go
    through Java's Double.toString (scientific notation for very
    large/small magnitudes), which DuckDB renders differently — an
    oracle pin over a table with floating-point columns would drift.
    Pre-format such columns (e.g. format_number / printf with fixed
    precision) before profiling when cross-engine string equality
    matters; the registered prof_pack profiles int/string columns only."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in df.columns:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(
            F.approx_count_distinct(F.col(c), rsd).alias(f"ad_{c}")
        )
        aggs.append(F.min(F.col(c)).cast("string").alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"mx_{c}"))
    row = df.agg(*aggs)
    stack_args = []
    for c in df.columns:
        stack_args += [
            F.lit(c),
            F.col(f"nn_{c}"),
            F.col(f"ad_{c}"),
            F.col(f"mn_{c}"),
            F.col(f"mx_{c}"),
        ]
    n_cols = len(df.columns)
    return row.select(
        F.col("_n").alias("n_rows"),
        F.stack(
            F.lit(n_cols), *stack_args
        ).alias("column", "n_nonnull", "approx_distinct", "min_val", "max_val"),
    ).select(
        "column", "n_rows", "n_nonnull", "approx_distinct",
        "min_val", "max_val",
    )


def profile_batch(df: DataFrame) -> DataFrame:
    """ONE wide row of mergeable profile state for a batch: row count,
    per-column non-null counts, typed min/max, and an HLL DataSketch
    (``hll_sketch_agg``, lgConfigK 12) of each column's STRING rendering (uniform
    input type; distinct values stay distinct under the cast).

    This is the incremental-profiling primitive: profile each ingest
    batch once (one scan, map-side combined), append the row to a tiny
    store table, and get the full-corpus profile from the store alone —
    at 100 TB the corpus is scanned once per batch ever, never per
    report. Unlike ``approx_count_distinct`` (whose HLL++ state is
    internal to one aggregation), DataSketches rows are first-class
    binary values: storable, and mergeable across batches with
    ``hll_union_agg`` — the same discipline as the dedup family's
    incremental stores. min/max stay in their NATIVE types here (string
    rendering would order "10" < "9"); they become strings only in
    :func:`profile_from_batches`' final unpivot."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in df.columns:
        aggs += [
            F.count(F.col(c)).alias(f"nn_{c}"),
            F.hll_sketch_agg(
                F.col(c).cast("string"), F.lit(12)
            ).alias(f"hll_{c}"),
            F.min(F.col(c)).alias(f"mn_{c}"),
            F.max(F.col(c)).alias(f"mx_{c}"),
        ]
    return df.agg(*aggs)


def profile_from_batches(store: DataFrame) -> DataFrame:
    """Fold a store of :func:`profile_batch` rows into ONE corpus
    profile with the exact ``profile_table`` output schema (so it
    composes with :func:`profile_drift` unchanged): counts sum, min/max
    fold in their native types, sketches union (``hll_union_agg``), and
    the estimate is rendered per column. The fold costs one pass over
    the STORE — batch-count-many rows, never the corpus.

    Determinism note: the exact columns (counts, min/max) are
    bit-identical under ANY batch order; the HLL estimate is only
    approximately order-invariant (~1% wobble — the DataSketches union
    gadget's internal mode transitions depend on feed order), which is
    inherent to sketch unions and inside the sketch's own error band."""
    cols = [c[3:] for c in store.columns if c.startswith("nn_")]
    aggs = [F.sum("_n").alias("_n")]
    for c in cols:
        aggs += [
            F.sum(f"nn_{c}").alias(f"nn_{c}"),
            F.hll_union_agg(F.col(f"hll_{c}"), F.lit(True)).alias(
                f"hll_{c}"
            ),
            F.min(f"mn_{c}").alias(f"mn_{c}"),
            F.max(f"mx_{c}").alias(f"mx_{c}"),
        ]
    row = store.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args += [
            F.lit(c),
            F.col(f"nn_{c}"),
            # all-null/empty batches union to a null sketch -> 0 distinct
            F.coalesce(
                F.hll_sketch_estimate(F.col(f"hll_{c}")), F.lit(0)
            ),
            F.col(f"mn_{c}").cast("string"),
            F.col(f"mx_{c}").cast("string"),
        ]
    return row.select(
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_rows"),
        F.stack(F.lit(len(cols)), *stack_args).alias(
            "column", "n_nonnull", "approx_distinct", "min_val", "max_val"
        ),
    ).select(
        "column", "n_rows", "n_nonnull", "approx_distinct",
        "min_val", "max_val",
    )


def profile_drift(
    old: DataFrame,
    new: DataFrame,
) -> DataFrame:
    """Schema/shape drift between two ``profile_table`` outputs — the
    "did today's batch silently degrade" report a recurring ingest
    wants between snapshots.

    Inputs are profile frames (already aggregated: one row per column),
    so this is a tiny column-name join — no corpus scan here; the
    corpus-sized work happened in the two profile_table calls. One row
    per column present in either snapshot:

    (column, n_rows_old, n_rows_new, null_frac_delta, distinct_ratio,
     minmax_changed, drift_reasons, drifted)

    Reasons: 'added' / 'removed' (column set changed), 'null_frac'
    (non-null rate moved more than 0.05),
    'cardinality' (approx-distinct ratio outside [0.5, 2]
    BOTH raw and row-volume-normalized: an
    id-like column on a corpus that legitimately tripled triples its
    distinct count — raw ratio 3, normalized 1, no flag; a saturated
    enum column on the same corpus holds distinct steady — raw 1,
    normalized 1/3, no flag; a genuine collapse fails both),
    'row_volume' (row-count ratio changed more than 0.5 — reported on
    every column since profiles
    are per-column), 'minmax' (value range shifted, null-safe so a
    column going from all-NULL to valued reports; informational in
    drift_reasons only — NOT part of ``drifted`` because min/max move
    legitimately on any growing corpus).
    """
    o = old.select(
        F.col("column"),
        F.col("n_rows").alias("n_rows_old"),
        F.col("n_nonnull").alias("nn_old"),
        F.col("approx_distinct").alias("ad_old"),
        F.col("min_val").alias("mn_old"),
        F.col("max_val").alias("mx_old"),
    )
    n = new.select(
        F.col("column"),
        F.col("n_rows").alias("n_rows_new"),
        F.col("n_nonnull").alias("nn_new"),
        F.col("approx_distinct").alias("ad_new"),
        F.col("min_val").alias("mn_new"),
        F.col("max_val").alias("mx_new"),
    )
    j = o.join(n, "column", "full_outer")
    null_frac = lambda nn, nr: (  # noqa: E731 — local formula alias
        1 - F.col(nn) / F.greatest(F.col(nr), F.lit(1))
    )
    null_delta = F.abs(
        null_frac("nn_new", "n_rows_new") - null_frac("nn_old", "n_rows_old")
    )
    distinct_ratio = F.col("ad_new") / F.greatest(F.col("ad_old"), F.lit(1))
    row_ratio = F.col("n_rows_new") / F.greatest(F.col("n_rows_old"), F.lit(1))
    norm_distinct_ratio = distinct_ratio / row_ratio
    minmax_changed = ~F.col("mn_old").eqNullSafe(F.col("mn_new")) | ~F.col(
        "mx_old"
    ).eqNullSafe(F.col("mx_new"))
    # value-drift metrics only apply when the column exists on BOTH
    # sides; an added/removed column reports just that one reason
    both = F.col("n_rows_old").isNotNull() & F.col("n_rows_new").isNotNull()
    reasons = F.array_compact(
        F.array(
            F.when(F.col("n_rows_old").isNull(), F.lit("added")),
            F.when(F.col("n_rows_new").isNull(), F.lit("removed")),
            F.when(
                both & (null_delta > F.lit(0.05)),
                F.lit("null_frac"),
            ),
            F.when(
                both
                & (
                    (distinct_ratio < F.lit(0.5))
                    | (distinct_ratio > F.lit(2.0))
                )
                & (
                    (norm_distinct_ratio < F.lit(0.5))
                    | (norm_distinct_ratio > F.lit(2.0))
                ),
                F.lit("cardinality"),
            ),
            F.when(
                both & (F.abs(row_ratio - 1) > F.lit(0.5)),
                F.lit("row_volume"),
            ),
            F.when(
                both & F.coalesce(minmax_changed, F.lit(False)),
                F.lit("minmax"),
            ),
        )
    )
    return j.select(
        "column",
        "n_rows_old",
        "n_rows_new",
        F.round(null_delta, 6).alias("null_frac_delta"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.coalesce(minmax_changed, F.lit(False)).alias("minmax_changed"),
        reasons.alias("drift_reasons"),
        (
            F.size(F.array_remove(reasons, "minmax")) > 0
        ).alias("drifted"),
    )


def dataset_card(
    spark,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    url_col: str | None = None,
    top_domains: int = 10,
    rsd: float = 0.05,
) -> dict:
    """One JSON-able "datasheet" for a document corpus — the release
    artifact a data team publishes alongside training shards: overall
    counts, the per-source mixture (docs / whitespace tokens / chars +
    shares), a token-length distribution (approx percentiles — exact
    quantiles would sort the corpus), and, with ``url_col``, the top
    domains by document count.

    Cost model: TWO jobs over the corpus regardless of size — one
    per-source aggregation (map-side combined; the overall totals and
    length percentiles fold out of the same pass via a grand-total
    group) and, when requested, one domain top-N (a groupBy count over
    the extracted domain, limit N). Everything else is driver-side
    arithmetic over source-count-many rows. No collect of corpus data.
    """
    n_words = F.size(F.split(F.col(text_col), r"\s+"))
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        # NULL text cards as 0 tokens/chars (a bad extraction batch
        # must shrink the card, not crash it — review r8s2)
        F.coalesce(n_words, F.lit(0)).alias("n_words"),
        F.coalesce(F.length(F.col(text_col)), F.lit(0)).alias("n_chars"),
    )
    # grouping-sets: per-source rows AND the grand total in one
    # aggregation pass, percentiles included. The grand-total row is
    # identified by F.grouping, NOT by source IS NULL — a corpus with
    # NULL-source docs has a legitimate NULL-source subtotal row, and
    # confusing the two silently mis-totals the card (review r8s2,
    # verified live).
    agg = (
        base.rollup("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_words").alias("tokens"),
            F.sum("n_chars").alias("chars"),
            # rsd explicit (r12, ADVICE r11): consumers size their
            # tolerance band off the accuracy parameter (prof_pack's
            # hll_ok uses 3*rsd), so the two must not drift apart —
            # 0.05 is also Spark's default, keeping estimates identical
            F.approx_count_distinct("id", rsd).alias("distinct_ids"),
            F.expr(
                "approx_percentile(n_words, array(0.1, 0.5, 0.9))"
            ).alias("p"),
            F.grouping("source").cast("int").alias("is_total"),
        )
        .collect()
    )
    # rollup over an EMPTY frame yields zero rows (no grand-total row)
    # — the empty case is every new partition at scale, and must card
    # as zeros, not a StopIteration
    total = next(
        (r for r in agg if r["is_total"] == 1),
        {"docs": 0, "tokens": 0, "chars": 0, "distinct_ids": 0,
         "p": None},
    )
    # NULL source cards under the "(null)" sentinel; if the corpus ALSO
    # contains a source literally named "(null)" the two rows MERGE
    # count-preservingly instead of one silently overwriting the other
    # (r8 ADVICE — any fixed string key can collide with a real source
    # name, and a None dict key would re-collide at json.dumps, which
    # renders it as "null")
    sources: dict[str, dict] = {}
    for r in agg:
        if r["is_total"] != 0:
            continue
        key = "(null)" if r["source"] is None else r["source"]
        prev = sources.get(key, {"docs": 0, "tokens": 0, "chars": 0})
        docs_n = prev["docs"] + r["docs"]
        tokens_n = prev["tokens"] + int(r["tokens"] or 0)
        sources[key] = {
            "docs": docs_n,
            "tokens": tokens_n,
            "chars": prev["chars"] + int(r["chars"] or 0),
            "doc_share": round(docs_n / total["docs"], 6),
            "token_share": round(tokens_n / int(total["tokens"]), 6)
            if total["tokens"] else None,
        }
    card = {
        "n_docs": total["docs"],
        "n_tokens": int(total["tokens"]) if total["tokens"] else 0,
        "n_chars": int(total["chars"]) if total["chars"] else 0,
        "approx_distinct_ids": int(total["distinct_ids"]),
        "tokens_per_doc_p10_p50_p90": (
            [int(x) for x in total["p"]] if total["p"] else None
        ),
        "sources": sources,
    }
    if url_col is not None:
        from .textproc import extract_domain

        card["top_domains"] = [
            {"domain": r["domain"], "docs": r["docs"]}
            for r in docs.select(
                extract_domain(F.col(url_col)).alias("domain")
            )
            # NULL urls / non-URL strings yield no domain; without the
            # filter they'd appear as bogus rows and displace real
            # domains from the top-N (review r8s2, verified live)
            .filter(F.col("domain").isNotNull() & (F.col("domain") != ""))
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("docs"))
            .orderBy(F.desc("docs"), "domain")
            .limit(top_domains)
            .collect()
        ]
    return card


def render_dataset_card(card: dict, title: str = "Dataset card") -> str:
    """Markdown render of :func:`dataset_card` — the human-facing half
    of the datasheet. Pure driver-side string building."""
    lines = [f"# {title}", ""]
    lines.append(f"- documents: {card['n_docs']:,}")
    if "approx_distinct_ids" in card:
        lines.append(
            f"- approx distinct ids: {card['approx_distinct_ids']:,}"
        )
    lines.append(f"- whitespace tokens: {card['n_tokens']:,}")
    lines.append(f"- characters: {card['n_chars']:,}")
    p = card.get("tokens_per_doc_p10_p50_p90")
    if p:
        lines.append(
            f"- tokens/doc p10 / p50 / p90: {p[0]:,} / {p[1]:,} / {p[2]:,}"
        )
    lines += ["", "## Source mixture", "",
              "| source | docs | doc share | tokens | token share |",
              "|---|---|---|---|---|"]
    for name in sorted(card["sources"]):
        s = card["sources"][name]
        tok_share = (
            f"{s['token_share']:.1%}" if s["token_share"] is not None
            else "n/a"
        )
        lines.append(
            f"| {name} | {s['docs']:,} | {s['doc_share']:.1%} "
            f"| {s['tokens']:,} | {tok_share} |"
        )
    if card.get("top_domains"):
        lines += ["", "## Top domains", ""]
        for d in card["top_domains"]:
            lines.append(f"- {d['domain']}: {d['docs']:,}")
    return "\n".join(lines) + "\n"
