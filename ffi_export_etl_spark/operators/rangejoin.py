"""Range joins without a cross product: bucket + refine.

Spark has no native range-join primitive — a naive join on an inequality
predicate plans as BroadcastNestedLoopJoin (or a full cartesian when
neither side broadcasts): a scale-killer the moment the non-equi side
outgrows a broadcast. Both operators here use the standard bin-bucketing
rewrite (the strategy behind the range-join optimizations in commercial
Spark runtimes, expressed with public DataFrame ops only): map each side
to integer buckets so every qualifying pair meets on an equi key, then
refine with the exact predicate. Shuffle volume is O(n) x small-fan-out
instead of O(n^2), and AQE still handles skewed buckets.

- :func:`tolerance_join` — pairs with |t_left - t_right| <= tolerance
  (both sides are points; the right side visits its bucket +- 1).
- :func:`interval_join` — facts matched to the intervals CONTAINING
  them (one side is points, the other [start, end) ranges; the interval
  side explodes to every bucket it covers).

Same technique generalizes to value ranges (price bands, geo tiles) —
bucket width is the locality knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BIN = "__rj_bin"


def tolerance_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tolerance: int,
) -> DataFrame:
    """All (left, right) pairs with |left_ts - right_ts| <= tolerance
    (integer timestamps, e.g. epoch micros). Right side is exploded to
    its bucket and both neighbors — keep the smaller side on the right.
    """
    lb = left.withColumn("_b", F.expr(f"{left_ts} div {tolerance}"))
    rb = right.withColumn(
        "_b",
        F.explode(
            F.array(
                F.expr(f"{right_ts} div {tolerance} - 1"),
                F.expr(f"{right_ts} div {tolerance}"),
                F.expr(f"{right_ts} div {tolerance} + 1"),
            )
        ),
    )
    joined = lb.join(rb, "_b").filter(
        F.abs(F.col(left_ts) - F.col(right_ts)) <= tolerance
    )
    return joined.drop("_b")


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
) -> DataFrame:
    """Inner join of ``facts`` rows onto every ``intervals`` row whose
    half-open range ``[start_col, end_col)`` contains ``facts.ts_col``.

    Shape: facts get one narrow projection ``bin = ts div bin_width``;
    each interval explodes to the bins it covers (fan-out
    ``len/bin_width + 1`` rows); one equi-join on the bin,
    then the exact containment filter. Every qualifying (fact, interval)
    pair meets in EXACTLY one bin — the fact's own — so no post-dedup is
    needed. Choose ``bin_width`` near the MEDIAN interval length: much
    smaller multiplies the interval fan-out, much larger packs unrelated
    rows into one bin and re-grows the in-bin cross product.

    All columns of both inputs survive; names must be disjoint.
    Timestamps and bounds must be integers (exact epoch-micros —
    functions/eventtime.py produces them); integer truncating division
    is monotone over int64, so coverage holds for negative timestamps.
    Empty/inverted intervals (end <= start) match nothing by definition
    and are dropped before the explode (``sequence`` would DESCEND on an
    inverted range, not return empty). The equi-join is a plain shuffle
    join; AQE turns it into a broadcast at runtime when the exploded
    interval table measures small.
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be a positive integer")
    overlap = set(facts.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(f"column names must be disjoint, shared: {overlap}")

    f = facts.withColumn(_BIN, F.expr(f"`{ts_col}` div {bin_width}"))
    iv = (
        intervals.filter(F.col(end_col) > F.col(start_col))
        .withColumn(
            _BIN,
            F.explode(
                F.expr(
                    f"sequence(`{start_col}` div {bin_width},"
                    f" (`{end_col}` - 1) div {bin_width})"
                )
            ),
        )
    )
    return (
        f.join(iv, on=[_BIN])
        .filter(
            (F.col(ts_col) >= F.col(start_col))
            & (F.col(ts_col) < F.col(end_col))
        )
        .drop(_BIN)
    )
