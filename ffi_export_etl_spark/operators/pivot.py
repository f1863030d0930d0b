"""EAV long->wide pivot engine — the reference's centerpiece transform.

The reference pivots entity-attribute-value observations wide with
``pandas.pivot(index, columns, values)`` per method
(/root/reference/parser/xml.py:255-258 for observations, 347-352 for sample
metadata), relying on pandas to raise on duplicate (index, column) pairs —
an implicit key-uniqueness assertion.

Spark-first re-expression: ``groupBy(index).pivot(field, values).agg(first)``.

Scale design:
- ``field_names`` is the known pivot domain (the field dictionary tables
  MethodAttribute/SampleAttribute carry it) — that skips Spark's
  distinct-collect pre-job and keeps the schema stable across batches,
  which matters far more at 100 TB than locally;
- ``strict=True`` reproduces the pandas uniqueness assertion as an explicit
  distributed check (one aggregation, fails fast with offending keys);
- the pivot itself is a single shuffle on the index columns with map-side
  partial aggregation of the ``first()`` values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DuplicatePivotKeyError(ValueError):
    """Duplicate (index, field) pair — pandas .pivot would have raised."""


def assert_unique_pivot_keys(
    df: DataFrame, index_cols: Sequence[str], field_col: str
) -> None:
    """Distributed uniqueness assertion over (index, field) pairs; the
    error shows up to five offending keys."""
    dupes = (
        df.groupBy(*index_cols, field_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    offenders = dupes.take(5)
    if offenders:
        raise DuplicatePivotKeyError(
            "duplicate pivot keys (showing <= 5): "
            + "; ".join(str(r.asDict()) for r in offenders)
        )


def eav_pivot(
    df: DataFrame,
    index_cols: Sequence[str],
    field_col: str,
    value_col: str,
    field_names: Sequence[str],
    strict: bool = False,
) -> DataFrame:
    """Pivot an EAV long table wide: one row per distinct index tuple, one
    column per name in ``field_names``, cell = first observed value."""
    if strict:
        assert_unique_pivot_keys(df, index_cols, field_col)
    return (
        df.groupBy(*[F.col(c) for c in index_cols])
        .pivot(field_col, list(field_names))
        .agg(F.first(F.col(value_col), ignorenulls=True))
    )

