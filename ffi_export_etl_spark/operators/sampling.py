"""Deterministic sampling for training-data curation.

``df.sample`` draws from a seeded RNG over partition contents — results
change with partitioning, retries, and engine version, which makes
curation runs irreproducible. These samplers decide membership from the
ROW KEY via the portable md5 family (functions/porthash.py), so the same
row makes the same cut on any cluster, any partitioning, any engine (the
decision is even SQL-replayable for audits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.porthash import MERSENNE31, md5_long

# NULL keys hash like this sentinel instead of being silently dropped
# (concat(salt, NULL) is NULL, md5(NULL) is NULL, and a NULL comparison
# would filter the row out) — a curation run must not lose null-keyed
# rows without a decision. The oracle replays the same coalesce.
NULL_KEY_SENTINEL = "<null>"

# _key_hash's domain: every membership threshold scales a fraction/rate
# into [0, HASH_SPACE). ONE definition — the SQL oracles interpolate it
# too, so a width change can never desynchronize samplers from twins.
HASH_SPACE = 1 << 60


def _key_hash(key_col, salt: str):
    """Salted md5 hash of a key column (by name, or any computed
    string-castable Column — e.g. a composite (id, epoch) shuffle key
    that should order the stream without being written to it)."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return md5_long(
        F.concat(
            F.lit(salt),
            F.coalesce(key.cast("string"), F.lit(NULL_KEY_SENTINEL)),
        ),
        15,
    )


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows where the key's md5 hash
    falls under ``fraction`` of the hash space. Stable across runs and
    partitionings. One scan, no shuffle. NULL keys participate via
    NULL_KEY_SENTINEL (all null-keyed rows make the same cut)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    h = _key_hash(key_col, "")
    threshold = int(fraction * HASH_SPACE)
    return df.filter(h < F.lit(threshold))


def weighted_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic data-mixture sampling: keep each row with the
    sampling rate assigned to its ``group_col`` value (e.g. per-source
    mixture weights for a pretraining corpus). Groups absent from
    ``fractions`` sample at ``default_fraction`` (0.0 = drop, the safe
    default for unknown sources).

    Same machinery as :func:`hash_sample` — membership is a pure
    function of the key, so the mixture is reproducible under any
    partitioning/retry/engine, subsets nest as a group's fraction grows,
    and the decision is SQL-replayable for audits. One scan, no shuffle:
    the per-group threshold is a CASE expression, not a join.
    """
    for g, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {g!r} must be in [0, 1]")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    h = _key_hash(key_col, "")
    threshold = F.lit(int(default_fraction * HASH_SPACE))
    for g, f in sorted(fractions.items()):
        threshold = F.when(
            F.col(group_col) == g, F.lit(int(f * HASH_SPACE))
        ).otherwise(threshold)
    return df.filter(h < threshold)


def stratified_take(
    df: DataFrame, label_col: str, key_col: str, n_per_label: int,
    prefilter_margin: int = 8,
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per label, chosen by deterministic
    md5 order with a key tiebreak — reproducible class balancing. NULL
    keys rank via NULL_KEY_SENTINEL instead of silently dropping; NULL
    labels form their own stratum.

    Scale shape (r7): a bare per-label window makes ONE reducer sort an
    entire stratum — hours for a billion-row label. Instead: (1) one
    narrow agg scan counts each stratum; (2) a broadcast per-label hash
    threshold keeps ~``prefilter_margin`` x n expected survivors (the
    md5 order values are uniform); (3) any stratum the prefilter left
    short of its quota — possible only under astronomical hash skew, or
    when the stratum is smaller than n (then the threshold is
    disabled) — is RESCUED whole, so the final per-label window ranks a
    bounded candidate set yet is unconditionally EXACT: if >= n rows
    cleared the threshold, the true top-n are among them (the n
    smallest order values all sit below any value with n values below
    it); otherwise the rescue supplies the full stratum. Results are
    bit-identical to the plain window (pinned by test, incl. the
    forced-rescue path).

    Multi-traversal contract: the input lineage is read up to four
    times (counts, survivors x2 branches, rescue probe) — for a bare
    table scan that is four narrow scans, cheap; callers passing an
    EXPENSIVE derived frame should persist/checkpoint it first and own
    the release."""
    h = _key_hash(key_col, "")
    ord_ = h % MERSENNE31
    lbl = F.col(label_col)
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n"))
    # per-label threshold: strata at/below quota keep everything
    # (threshold above the order domain); larger strata keep an
    # expected margin x n prefix of the hash order
    thr_tbl = counts.select(
        lbl.alias("_lbl"),
        "_n",
        F.when(
            F.col("_n") <= n_per_label, F.lit(MERSENNE31 + 1)
        ).otherwise(
            F.least(
                F.lit(MERSENNE31 + 1),
                F.ceil(
                    F.lit(float(MERSENNE31))
                    * n_per_label
                    * prefilter_margin
                    / F.col("_n")
                ).cast("long"),
            )
        ).alias("_thr"),
    )
    # null-safe label joins throughout: a NULL label is a real stratum
    # here, but a plain equi-join would drop it
    keep_cols = df.columns
    surv = (
        df.join(F.broadcast(thr_tbl), lbl.eqNullSafe(thr_tbl["_lbl"]))
        .filter(ord_ < F.col("_thr"))
        .select(*keep_cols)
    )
    surv_counts = surv.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("_m")
    )
    short = (
        thr_tbl.join(
            surv_counts,
            thr_tbl["_lbl"].eqNullSafe(surv_counts[label_col]),
            "left",
        )
        .filter(
            F.coalesce(F.col("_m"), F.lit(0))
            < F.least(F.lit(n_per_label), thr_tbl["_n"])
        )
        .select(thr_tbl["_lbl"].alias("_short_lbl"))
    )
    rescued = df.join(
        F.broadcast(short), lbl.eqNullSafe(short["_short_lbl"]), "left_semi"
    )
    kept_surv = surv.join(
        F.broadcast(short),
        surv[label_col].eqNullSafe(short["_short_lbl"]),
        "left_anti",
    )
    cand = kept_surv.unionByName(rescued)
    w = Window.partitionBy(label_col).orderBy(ord_, key_col)
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_label)
        .drop("_rk")
    )


def split_train_val_test(
    df: DataFrame,
    key_col: str,
    val_fraction: float = 0.01,
    test_fraction: float = 0.01,
    salt: str = "",
) -> DataFrame:
    """Deterministic, disjoint, exhaustive train/val/test assignment:
    adds a ``split`` column ('train' | 'val' | 'test') decided by where
    the key's md5 hash falls in the hash space — [0, val) -> val,
    [val, val+test) -> test, rest -> train.

    Every row gets exactly one split (NULL keys via NULL_KEY_SENTINEL),
    the assignment survives repartitioning/retries/engines, and because
    the SAME hash axis drives hash_sample, a row in
    hash_sample(df, key, f) with f <= val_fraction is guaranteed to
    sit in the val split (at the default empty salt) — nested-subset
    audits stay possible.
    One scan, no shuffle, SQL-replayable.
    """
    if val_fraction < 0 or test_fraction < 0:
        raise ValueError("fractions must be >= 0")
    if val_fraction + test_fraction > 1:
        raise ValueError("val_fraction + test_fraction must be <= 1")
    h = _key_hash(key_col, salt)
    val_t = int(val_fraction * HASH_SPACE)
    test_t = int((val_fraction + test_fraction) * HASH_SPACE)
    return df.withColumn(
        "split",
        F.when(h < F.lit(val_t), F.lit("val"))
        .when(h < F.lit(test_t), F.lit("test"))
        .otherwise(F.lit("train")),
    )


def epoch_upsample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Repetition-aware mixture sampling for weights ABOVE 1: real
    pretraining mixes say "N epochs of source X" (high-quality sources
    repeat; fraction-based samplers stop at 1.0). Every row fans out to
    floor(N) full copies plus — for the fractional remainder — one
    extra copy kept iff the row's md5 hash clears frac(N) of the hash
    space, on the SAME (salt, key) axis as hash_sample. So the
    fractional epoch is a deterministic, nested, SQL-replayable subset:
    the 2.5-epoch corpus contains the 2.25-epoch corpus exactly.

    Adds ``epoch`` (0-based copy index — downstream shuffles/packing
    treat copies as distinct rows). In-plan per-group literal CASE
    counts: no RNG, no join, no shuffle; fan-out bounded by
    max(epochs). N = 0 drops the group (like weighted_sample's 0
    rate). F.sequence DESCENDS on an empty range, so the copy array is
    guarded explicitly (the r5 gotcha)."""
    from .xplode import explode_nonempty

    if any(e < 0 for e in epochs.values()) or default_epochs < 0:
        raise ValueError("epochs must be >= 0")
    import math

    h = _key_hash(key_col, salt)

    def cases(value_of):
        expr = None
        for g, e in sorted(epochs.items()):
            cond = F.col(group_col) == g
            expr = (
                F.when(cond, F.lit(value_of(e)))
                if expr is None
                else expr.when(cond, F.lit(value_of(e)))
            )
        base = F.lit(value_of(default_epochs))
        return base if expr is None else expr.otherwise(base)

    full = cases(lambda e: int(math.floor(e)))
    thr = cases(lambda e: int((e - math.floor(e)) * HASH_SPACE))
    n_copies = full + F.when(h < thr, F.lit(1)).otherwise(F.lit(0))
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return explode_nonempty(df, list(df.columns), copies, "epoch")


def split_by_cluster(
    df: DataFrame,
    key_col: str,
    clusters: DataFrame,
    val_fraction: float = 0.01,
    test_fraction: float = 0.01,
) -> DataFrame:
    """Leakage-safe train/val/test split: the assignment hashes the
    row's near-dup CLUSTER id, not its own key, so every member of a
    near-duplicate cluster lands in the SAME split — the train/test
    contamination guard a per-document split cannot give (a test doc
    whose near-duplicate sits in train is leakage; splitting after
    dedup still leaks through pairs the dedup threshold kept).

    ``clusters`` is (id, cluster_id) — operators/components.
    dedup_clusters output is a drop-in; rows of ``df`` absent from it
    split on their own key, which EQUALS split_train_val_test for
    singleton clusters (dedup_clusters assigns cluster_id = own id), so
    the two splits agree everywhere except where the guard matters.
    Adds ``split`` and ``cluster_key``. One equi-join shuffle + the
    usual no-shuffle hash-threshold projection; SQL-replayable."""
    cl = clusters.select(
        F.col("id").alias("_cl_id"),
        F.col("cluster_id").alias("_cl_cluster"),
    )
    joined = (
        df.join(cl, df[key_col] == cl["_cl_id"], "left")
        .withColumn(
            "_cl_key", F.coalesce(F.col("_cl_cluster"), F.col(key_col))
        )
        .drop("_cl_id", "_cl_cluster")
    )
    return split_train_val_test(
        joined, "_cl_key", val_fraction, test_fraction
    ).withColumnRenamed("_cl_key", "cluster_key")


def token_budget_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    tokens_col: str,
    budgets: dict[str, int],
) -> DataFrame:
    """Token-BUDGET mixture sampling: real pretraining mixes are
    specified as "N tokens from source X", not fractions — this keeps,
    per group, the deterministic hash-ordered run of documents that
    starts strictly inside the group's budget (overshoot bounded by one
    document; budget 0 keeps nothing, and so does a group without a
    budget).

    Membership = (cumulative tokens of all hash-earlier docs in the
    group) < budget, on the SAME key md5 axis as hash_sample /
    weighted_sample — reproducible under any partitioning/retry/engine,
    SQL-replayable, and monotone: a bigger budget strictly grows the
    kept set (nested audits, like fraction-based sampling).

    Scale shape: a naive per-group cumsum window is a single reducer
    per group (one giant source = one hot partition). Instead the
    uniform hash axis is cut into 2**10 contiguous blocks:
    cumsum WITHIN (group, block) is fully parallel, per-block totals
    (groups x blocks rows — tiny) turn into block prefix offsets with a
    window over the totals table only, broadcast back. Same two-pass
    construction as packing.global_cumsum, keyed per group.
    """
    for g, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {g!r} must be >= 0")
    h = _key_hash(key_col, "")  # uniform in [0, 2^60)
    blk = F.shiftright(h, 60 - 10)
    toks = F.col(tokens_col).cast("long")
    # a group without a positive budget (a NULL group included) keeps
    # nothing, so its rows leave before the windows and the join
    funded = sorted(g for g, b in budgets.items() if b > 0)
    grp = F.col(group_col).cast("string")
    w_in = (
        Window.partitionBy("_grp", "_blk")
        .orderBy("_h", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = (
        df.withColumn("_grp", grp)
        .filter(F.col("_grp").isin(funded) if funded else F.lit(False))
        .withColumn("_h", h)
        .withColumn("_blk", blk)
        .withColumn("_cum_in", F.sum(toks).over(w_in))
    )
    totals = within.groupBy("_grp", "_blk").agg(
        F.sum(toks).alias("_tot")
    )
    w_blk = (
        Window.partitionBy("_grp")
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_grp",
        "_blk",
        F.coalesce(F.sum("_tot").over(w_blk), F.lit(0)).alias("_off"),
    )
    budget = F.lit(0)
    for g in funded:
        budget = F.when(F.col("_grp") == g, F.lit(budgets[g])).otherwise(
            budget
        )
    cum_before = F.col("_off") + F.col("_cum_in") - toks
    return (
        within.join(F.broadcast(offsets), ["_grp", "_blk"])
        .filter(cum_before < budget)
        .drop("_grp", "_h", "_blk", "_cum_in", "_off")
    )


def deterministic_shuffle(df: DataFrame, key_col) -> DataFrame:
    """Reproducible global shuffle for training-data ordering: sort by
    the key's md5 hash (tiebreak on the key itself so exact-dup keys
    still order totally). The order is a pure function of the keys —
    any cluster, any partitioning, any engine lands the same sequence.

    Spark executes orderBy as a range-partitioned sort: sampled range
    boundaries, then a per-partition sort — no single-partition
    bottleneck.
    """
    h = _key_hash(key_col, "")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return df.orderBy(h.asc(), key.asc())



def temperature_mixture_rates(
    df: DataFrame,
    source_col: str = "source",
    alpha: float = 0.5,
    total_budget: int | None = None,
) -> DataFrame:
    """(source, n_docs, mix_prob, sample_rate) — temperature (alpha)
    mixing, the canonical multilingual / multi-source rule (XLM-R, mT5):
    sample source i with probability q_i ∝ p_i^alpha where p_i is its
    corpus share; alpha < 1 up-weights small sources (alpha=1 natural,
    alpha=0 uniform). ``sample_rate`` converts the target mixture into
    a per-source Bernoulli rate hitting an EXPECTED ``total_budget``
    kept docs (default: corpus size): rate_i = min(1, B*q_i / n_i) —
    truncated at 1, no upsampling (a capped source leaves the realized
    budget slightly under B; re-run with a higher B to compensate).

    Everything is in-plan: one groupBy (tiny result), a one-row ordered
    fold for the normalizer, a broadcast scalar attach — no corpus
    rescan, no driver-side math.

    Cross-engine determinism (gate-grade): n_i^alpha for the default
    alpha=0.5 is ``sqrt`` — IEEE correctly rounded, bit-identical on
    JVM and C — and the normalizer folds the per-source weights in
    SORTED source order via an explicit sequential fold (F.aggregate
    here, list_reduce in DuckDB): float addition is order-sensitive,
    so an unordered SUM could differ in the last ulp and flip a
    membership threshold. Other alphas use pow(), which libms do NOT
    guarantee correctly rounded — fine in production, but pin only
    sqrt-alpha rates in an exact oracle."""
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = (
        F.sqrt("n_docs") if alpha == 0.5
        else F.pow("n_docs", F.lit(float(alpha)))
    )
    weighted = counts.withColumn("_w", w)
    scalars = weighted.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "_w"))),
            F.lit(0.0),
            lambda a, x: a + x["_w"],
        ).alias("_wsum"),
        F.sum("n_docs").alias("_n_total"),
    )
    # one-row broadcast scalar attach (never a shuffle)
    joined = weighted.crossJoin(F.broadcast(scalars))
    budget = (
        F.lit(int(total_budget)) if total_budget is not None
        else F.col("_n_total")
    )
    mix_prob = F.col("_w") / F.col("_wsum")
    rate = F.least(F.lit(1.0), budget * mix_prob / F.col("n_docs"))
    return joined.select(
        "source",
        "n_docs",
        mix_prob.alias("mix_prob"),
        rate.alias("sample_rate"),
    )


def temperature_sample(
    df: DataFrame,
    key_col: str,
    source_col: str = "source",
    alpha: float = 0.5,
    total_budget: int | None = None,
) -> DataFrame:
    """Deterministic temperature-mixture sample: membership =
    key hash under the source's :func:`temperature_mixture_rates` rate.
    The rates table broadcasts (source-count-sized); rows whose source
    is NULL have no rate and are dropped (route them to a named
    source first if they must participate). One corpus scan + one tiny
    aggregation scan — membership is replayable like every sampler
    here."""
    rates = temperature_mixture_rates(
        # NULL-source rows neither receive a rate nor skew the
        # normalizer (they are dropped by the join below either way)
        df.filter(F.col(source_col).isNotNull()),
        source_col=source_col, alpha=alpha, total_budget=total_budget,
    ).select(
        F.col("source").alias(source_col),
        F.floor(F.col("sample_rate") * F.lit(float(HASH_SPACE)))
        .cast("bigint")
        .alias("_threshold"),
    )
    h = _key_hash(key_col, "")
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(h < F.col("_threshold"))
        .drop("_threshold")
    )
