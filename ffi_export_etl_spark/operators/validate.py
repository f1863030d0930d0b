"""Declarative data-quality constraint suite, compiled to ONE scan.

A 100 TB training pipeline needs quality gates between stages (did the
crawl drop its id column? did dedup delete 40% more than yesterday?),
and the naive formulation — one job per assertion — re-reads the corpus
once per check. This module compiles an arbitrary list of constraints
into a SINGLE ``df.agg(...)`` pass: every row-level check becomes a
``sum(when(violation, 1))`` (map-side combinable, whole-stage codegen),
so 50 checks cost the same one scan as 1. The shape follows the
published Deequ/dbt-test vocabulary (not_null / unique / in_range /
accepted_values / matches / fraction thresholds), re-expressed as
Catalyst expressions.

Scale notes:
- ``unique`` needs a distinct count. Exact ``count_distinct`` joins the
  same single aggregate via Catalyst's expand (one extra shuffle shared
  by ALL unique checks, not one each).
- Fraction thresholds use integer micro-unit arithmetic
  (``violations * 1_000_000 <= frac_micro * n_rows``) so the pass/fail
  decision is engine-portable — no float division anywhere.
- The result is a tiny unpivoted frame (one row per check) produced
  from the single aggregate row via ``stack`` — no second scan, no
  driver-side loop over data.

Reference parity: the reference audits only row-count deltas
(parser/xml.py:665-697 writes per-file row counts to an audit table);
this is the extension a curation pipeline needs on top.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


@dataclass(frozen=True)
class _Check:
    name: str
    kind: str
    column: str
    # bigint threshold; meaning depends on kind (max violations for row
    # checks, micro-fraction for *_fraction, min count for min_rows).
    threshold: int
    # row-level violation condition (None for aggregate-level checks)
    cond: Column | None = field(default=None, compare=False)


class CheckSuite:
    """Builder: chain constraints, then ``run(df)`` for the report.

    Every method returns ``self`` so suites read declaratively::

        report = (CheckSuite()
                  .not_null("doc_id")
                  .unique("doc_id")
                  .in_range("n_chars", 1, 1_000_000)
                  .null_fraction_at_most("lang", 0.01)
                  .run(docs))

    ``run`` returns one row per check:
    (check, kind, column, n_rows, n_violations, threshold, passed).
    """

    def __init__(self) -> None:
        self._checks: list[_Check] = []

    # -- row-level checks (one sum(when) each, map-side combined) -----

    def _add(self, check: _Check) -> "CheckSuite":
        if any(c.name == check.name for c in self._checks):
            raise ValueError(f"duplicate check name: {check.name!r}")
        self._checks.append(check)
        return self

    def not_null(self, col: str, max_violations: int = 0) -> "CheckSuite":
        return self._add(
            _Check(f"not_null:{col}", "not_null", col, max_violations,
                   F.col(col).isNull())
        )

    def in_range(self, col: str, lo, hi,
                 max_violations: int = 0) -> "CheckSuite":
        return self._add(
            _Check(f"in_range:{col}", "in_range", col, max_violations,
                   ~F.col(col).between(F.lit(lo), F.lit(hi))
                   | F.col(col).isNull())
        )

    def accepted_values(self, col: str, values,
                        max_violations: int = 0) -> "CheckSuite":
        vals = [F.lit(v) for v in values]
        return self._add(
            _Check(f"accepted_values:{col}", "accepted_values", col,
                   max_violations,
                   ~F.col(col).isin(*vals) | F.col(col).isNull())
        )

    def matches(self, col: str, pattern: str,
                max_violations: int = 0) -> "CheckSuite":
        return self._add(
            _Check(f"matches:{col}", "matches", col, max_violations,
                   ~F.col(col).rlike(pattern) | F.col(col).isNull())
        )

    def satisfies(self, name: str, cond: Column, column: str = "",
                  max_violations: int = 0) -> "CheckSuite":
        """Generic row predicate; ``cond`` is the PASS condition."""
        return self._add(
            _Check(name, "satisfies", column, max_violations, ~cond))

    def null_fraction_at_most(self, col: str,
                              fraction: float) -> "CheckSuite":
        return self._add(
            _Check(f"null_fraction:{col}", "null_fraction", col,
                   int(round(fraction * MICRO)), F.col(col).isNull())
        )

    # -- aggregate-level checks ---------------------------------------

    def unique(self, col: str, max_violations: int = 0) -> "CheckSuite":
        """Violations = non-null count - distinct count (exact; shares
        ONE expand with every other unique check)."""
        return self._add(
            _Check(f"unique:{col}", "unique", col, max_violations, None)
        )

    def min_rows(self, n: int) -> "CheckSuite":
        return self._add(_Check(f"min_rows:{n}", "min_rows", "", n, None))

    # -- compile + run -------------------------------------------------

    def run(self, df: DataFrame, by: list[str] | None = None) -> DataFrame:
        """``by`` adds grouping columns: one report per group (e.g.
        per-source quality dashboards). Same single scan — the grouped
        aggregate is map-side combined on the group key; thresholds
        (incl. min_rows) apply PER GROUP."""
        if not self._checks:
            raise ValueError("CheckSuite has no checks")
        by = list(by or [])
        aggs: list[Column] = [F.count(F.lit(1)).alias("_n")]
        for i, c in enumerate(self._checks):
            if c.cond is not None:
                aggs.append(
                    F.coalesce(
                        F.sum(F.when(c.cond, F.lit(1)).otherwise(F.lit(0))),
                        F.lit(0),
                    ).cast("bigint").alias(f"v_{i}")
                )
            elif c.kind == "unique":
                nn = F.count(F.col(c.column))
                nd = F.count_distinct(F.col(c.column))
                aggs.append((nn - nd).cast("bigint").alias(f"v_{i}"))
            else:  # min_rows — violation derived from _n below
                aggs.append(F.lit(0).cast("bigint").alias(f"v_{i}"))
        wide = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)

        proj: list[Column] = [*[F.col(c) for c in by], F.col("_n")]
        for i, c in enumerate(self._checks):
            v = F.col(f"v_{i}")
            if c.kind == "min_rows":
                v = F.greatest(
                    F.lit(0).cast("bigint"),
                    (F.lit(c.threshold) - F.col("_n")).cast("bigint"),
                )
            if c.kind in ("null_fraction",):
                p = (v * F.lit(MICRO)
                     <= F.lit(c.threshold) * F.col("_n"))
            elif c.kind == "min_rows":
                p = v == F.lit(0)
            else:
                p = v <= F.lit(c.threshold)
            proj.append(v.alias(f"viol_{i}"))
            proj.append(p.alias(f"pass_{i}"))
        wide = wide.select(*proj)

        stack_args: list[Column] = []
        for i, c in enumerate(self._checks):
            stack_args += [
                F.lit(c.name), F.lit(c.kind), F.lit(c.column),
                F.col(f"viol_{i}"),
                F.lit(c.threshold).cast("bigint"),
                F.col(f"pass_{i}"),
            ]
        return wide.select(
            *by,
            F.col("_n").alias("n_rows"),
            F.stack(F.lit(len(self._checks)), *stack_args).alias(
                "check", "kind", "column", "n_violations", "threshold",
                "passed",
            ),
        ).select(
            *by, "check", "kind", "column", "n_rows", "n_violations",
            "threshold", "passed",
        )


def format_failures(rows) -> str | None:
    """One-line description of the failed checks in a collected report
    (None when everything passed), for callers that already hold the
    report and want the message without a second run (e.g. the curate
    CLI reuses the report's n_rows as its input count, saving a corpus
    scan)."""
    failed = [r for r in rows if not r["passed"]]
    if not failed:
        return None
    lines = ", ".join(
        f"{r['check']} ({r['n_violations']} violations"
        f" of {r['n_rows']} rows)" for r in failed
    )
    return f"data-quality checks failed: {lines}"
