"""Datetime normalization (the reference's ``convert_datetime``,
parser/functions.py:72-88). Its date-to-int helper (functions.py:91-108)
is dead code there (quirk Q2) and has no counterpart here; the scalar
pack computes its days-since-1900 value inline.

The reference parses arbitrary timestamp strings with dateutil, shifts to
local wall time, drops the UTC offset, and trims sub-millisecond digits —
all row-wise Python. Here the same normalization is a Column expression:
parse (with optional offset), render millisecond-precision wall clock,
null-safe by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_datetime(col: Column | str) -> Column:
    """Timestamp-ish string -> 'yyyy-MM-dd HH:mm:ss.SSS' wall-clock string
    (sub-millisecond digits trimmed, offset dropped); null/unparseable
    pass through as null.

    try_to_timestamp covers ISO forms with/without offset; the offset, when
    present, is applied during parsing and the rendered wall clock is local
    to the session zone — the Spark analog of the reference's
    ``astimezone().replace(tzinfo=None)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    parsed = F.coalesce(
        F.try_to_timestamp(c),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSSXXX")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(c, F.lit("MM/dd/yyyy HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("MM/dd/yyyy")),
    )
    return F.date_format(parsed, "yyyy-MM-dd HH:mm:ss.SSS")


def is_datetime_column(name: str) -> bool:
    """Column-name heuristic the reference applies at ingest
    (parser/xml.py:122-123): any column whose name contains Date or Time."""
    return "Date" in name or "Time" in name
