"""FFI XML export -> per-tag DataFrames (SURVEY.md section 2.1 S2/S3).

An FFI export is one XML document whose top-level children are row
elements; the element tag is the table name and child elements are the
columns (/root/reference/parser/xml.py:101-124). The reference ET.parses
the whole DOM on one thread; here:

1. **Tag discovery** is a streaming driver-side pre-scan (iterparse over
   the tags and their child tags — no DOM, O(file) bytes, O(#columns)
   memory). The XML namespace is discovered from the root tag exactly
   like the reference's regex (parser/xml.py:41, functions.py:111-121).
2. **Extraction** uses Spark's native XML reader (Spark 4) in a SINGLE
   pass: one ``rowTag`` read at the ROOT tag parses the whole document
   once (distributed JVM parse), is cached, and every per-tag table is a
   cheap explode/flatten of the cached frame — ~30x fewer parses per
   export than a read-per-tag. Heterogeneous rows of one tag union their
   columns the same way the reference's pd.concat NaN-fills (schema
   union).
3. **Ingest casts** mirror parser/xml.py:119-123: every value is a string;
   ``*_GUID*`` columns uppercased, Date/Time columns normalized.

At 100 TB the unit of parallelism is the *file* (directories of exports);
per-file tag sets are discovered once and reads fan out per (glob, tag).
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetime_norm import is_datetime_column, normalize_datetime
from ..functions.idents import upper_guid

_NS_RE = re.compile(r"^\{(.*)\}")


def strip_namespace(tag: str) -> str:
    """Remove the '{uri}' prefix from a qualified tag
    (reference functions.py:111-121)."""
    return _NS_RE.sub("", tag, count=1)


def discover_columns(
    path: str,
) -> tuple[str | None, str | None, dict[str, list[str]]]:
    """Stream the file once on the driver; return (namespace URI or
    None, root tag, {depth-1 tag: ordered distinct depth-2 child
    tags}). Never builds a DOM. The keys are the file's tables; the
    child-tag sets are what lets a MULTI-file parse be sliced back into
    per-file tables with exactly the columns a single-file parse of
    that file would have surfaced (a tag's struct fields union across
    files in a shared parse; a file must not see a sibling's columns).
    A value-only depth-1 element (no children) maps to an empty list.
    Raises on malformed XML — the batch driver's per-file validity
    gate."""
    ns: str | None = None
    root: str | None = None
    cols: dict[str, dict[str, None]] = {}
    cur: dict[str, None] | None = None
    depth = 0
    for event, elem in ET.iterparse(path, events=("start", "end")):
        if event == "start":
            depth += 1
            if depth == 1:
                m = _NS_RE.match(elem.tag)
                ns = m.group(1) if m else None
                root = strip_namespace(elem.tag)
            elif depth == 2:
                cur = cols.setdefault(strip_namespace(elem.tag), {})
            elif depth == 3 and cur is not None:
                cur[strip_namespace(elem.tag)] = None
        else:
            depth -= 1
            if depth >= 1:
                elem.clear()  # keep memory O(1)
    return ns, root, {t: list(c) for t, c in cols.items()}


def discover_root(path: str) -> str:
    """Root tag only: iterparse stops after the FIRST start event, so the
    cost is O(header bytes), not O(file) — the fast path when ``tags=``
    is passed explicitly and full discovery would scan every file."""
    for _event, elem in ET.iterparse(path, events=("start",)):
        return strip_namespace(elem.tag)
    raise ValueError(f"no root element in {path}")


def ingest_casts(df: DataFrame) -> DataFrame:
    """Reference per-column ingest rules (parser/xml.py:119-123):
    uppercase GUID columns, normalize Date/Time columns."""
    exprs = []
    for c in df.columns:
        if "_GUID" in c or c.endswith("GUID"):
            exprs.append(upper_guid(c).alias(c))
        elif is_datetime_column(c):
            exprs.append(normalize_datetime(c).alias(c))
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


def _parse(
    spark: SparkSession,
    path: str | list[str],
    root: str | None,
    multi: bool,
    persists: list | None,
) -> DataFrame:
    """The one distributed parse of both readers: ``rowTag`` = the root
    element, so one row per FILE with the children nested as arrays of
    structs, no inference. A multi-file parse carries each row's
    ``_file``. The frame is cached (MEMORY_AND_DISK) — every per-tag
    table reads it — and appended to ``persists`` so the caller can
    release it without ``clearCache()``-ing the whole session."""
    rootdf = (
        spark.read.format("xml")
        .option("rowTag", root)
        .option("inferSchema", "false")
        .option("ignoreNamespace", "true")
        .load(path)
    )
    if multi:
        rootdf = rootdf.withColumn("_file", F.input_file_name())
    rootdf.persist()
    if persists is not None:
        persists.append(rootdf)
    return rootdf


def _flatten_tag(
    src: DataFrame, tag: str, keep: list[str] | None = None
) -> DataFrame:
    """One table of a root-tag parse: the rows of ``tag`` (an array of
    structs, a struct, or a value-only element) as string columns with
    the ingest casts applied; ``keep`` restricts the columns (None: all).

    A multi-file parse carries a ``_file`` column and must FILE-SCOPE
    the surrogate integer ids (MethodAtt_ID, SampleRow_ID, ...): the
    reference assigns them per export, so two files reuse the same
    numbers for unrelated rows and a union parse would fan every id
    equi-join out across files. Each ``*_ID`` value gets a '#<md5-8 of
    its file path>' suffix — ids are join-only plumbing (no warehouse
    output keeps an *_ID column), so the scoping is invisible
    downstream. Derived business keys (PlotID/EventID/VisitID) contain
    no '_ID' suffix and are untouched."""
    from pyspark.sql.types import ArrayType, StructType

    multi = "_file" in src.columns
    lead = ["_file"] if multi else []
    dt = src.schema[tag].dataType
    if isinstance(dt, ArrayType):
        flat = src.select(*lead, F.explode(F.col(tag)).alias("_r")).select(
            *lead, "_r.*"
        )
    elif isinstance(dt, StructType):
        # tag appears at most once per file -> plain struct column
        flat = (
            src.select(*lead, F.col(tag).alias("_r"))
            .filter(F.col("_r").isNotNull())
            .select(*lead, "_r.*")
        )
    else:  # value-only element: its single column is the tag
        flat = src.select(*lead, tag).filter(F.col(tag).isNotNull())
    # Native XML may surface attributes (none in FFI exports) or value
    # columns; keep string typing uniform.
    fid = F.substring(F.md5(F.col("_file")), 1, 8) if multi else None
    exprs = [
        F.concat(F.col(c).cast("string"), F.lit("#"), fid).alias(c)
        if multi and c.endswith("_ID")
        else F.col(c).cast("string").alias(c)
        for c in flat.columns
        if c != "_file" and (keep is None or c in keep)
    ]
    return ingest_casts(flat.select(*exprs))


def read_ffi_export(
    spark: SparkSession,
    path: str | list[str],
    tags: Iterable[str] | None = None,
    persists: list | None = None,
) -> dict[str, DataFrame]:
    """Read one FFI export (or a glob or list of exports) into
    {table: DataFrame}.

    SINGLE-PASS: the documents are parsed once (:func:`_parse`) and each
    table is an explode + flatten of the cached frame — N tags cost one
    distributed parse, not N. The cached frame is one row per FILE (like
    the reference's whole-DOM parse, parser/xml.py:39-41); the unit of
    scale-out is the file, exactly the batch driver's glob.

    The tags are the union of every file's depth-1 tags
    (:func:`discover_columns`); with ``tags=`` passed, that scan is
    skipped and only the first file's root element is read. All columns
    are StringType (no inference), matching the reference's
    stringly-typed ingest (parser/xml.py:115). Tags absent from a given
    file contribute no rows (null array -> explode drops them).
    """
    import glob as globmod

    if isinstance(path, list):
        matches = path
    else:
        matches = sorted(globmod.glob(path)) or [path]
    if tags is not None:
        root = discover_root(matches[0])
    else:
        root = None
        discovered: dict[str, None] = {}
        for m in matches:
            _, root, file_cols = discover_columns(m)
            discovered.update(dict.fromkeys(file_cols))
        tags = discovered
    rootdf = _parse(spark, path, root, len(matches) > 1, persists)
    return {
        tag: _flatten_tag(rootdf, tag)
        for tag in tags
        if tag in rootdf.columns  # absent tags: in no file of this glob
    }


_SAFE_BASENAME_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def sliceable_paths(paths: list[str]) -> bool:
    """Can these files share ONE parse and be sliced apart again by
    basename? Requires >1 file, distinct basenames, and basenames that
    survive ``input_file_name()``'s URI rendering verbatim (no
    characters that URI-quote). The batch driver falls back to
    per-file reads when this says no."""
    names = [os.path.basename(p) for p in paths]
    return (
        len(paths) > 1
        and len(set(names)) == len(names)
        and all(_SAFE_BASENAME_RE.match(n) for n in names)
    )


def read_ffi_export_sliced(
    spark: SparkSession,
    paths: list[str],
    root: str,
    colsets: dict[str, dict[str, list[str]]],
    persists: list | None = None,
) -> tuple[dict[str, dict[str, DataFrame]], dict[str, DataFrame]]:
    """ONE distributed parse of MANY export files, sliced back into
    per-file ``{table: DataFrame}`` dicts — the batch driver's shared
    wave parse: one reader ``load()`` and one cached parse for the wave
    instead of one per file.

    Per-file semantics are preserved by construction:

    - each file's dict carries exactly ITS OWN depth-1 tags, and each
      table exactly the file's OWN depth-2 columns — both from the
      caller's driver-side pre-scan (``colsets[path]``, from
      :func:`discover_columns`), never the wave's union;
    - each table is the shared frame filtered to the file (basename
      equality on ``input_file_name()`` — caller guarantees
      :func:`sliceable_paths`);
    - ``*_ID`` surrogate values carry the multi-file scope suffix of
      :func:`_flatten_tag` (a constant within each slice, so intra-file
      id equi-joins are untouched).

    Cache layout: the wave frame is sliced ONCE per file at the
    root-row level and each 1-row slice is persisted, so every
    downstream job of a file reads exactly its own row (the same shape
    as a single-file read's cached parse); filtering each table off the
    shared cache instead measured slower than per-file reads. The
    shared parse handle is appended to ``persists`` (the caller
    releases it after the wave); the return value is
    ``(tables_by_path, slice_handle_by_path)`` so the caller can release
    each file's slice once that file is staged — ``clearCache()`` would
    evict the sibling slices.
    """
    rootdf = _parse(spark, paths, root, True, persists)
    basename = F.element_at(F.split(F.col("_file"), "/"), -1)
    out: dict[str, dict[str, DataFrame]] = {}
    slices: dict[str, DataFrame] = {}
    for path in paths:
        slice_df = rootdf.filter(
            basename == os.path.basename(path)
        ).persist()
        slices[path] = slice_df
        # value-only elements discover no children: keep their one column
        out[path] = {
            tag: _flatten_tag(slice_df, tag, file_cols or None)
            for tag, file_cols in colsets[path].items()
            if tag in rootdf.columns  # tag parsed to nothing in every file
        }
    return out, slices
