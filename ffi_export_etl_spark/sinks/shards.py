"""Training-shard writer: the last-mile sink that turns a curated corpus
into the file layout a training job actually consumes.

Requirements that make this more than ``df.write.parquet``:
- DETERMINISTIC GLOBAL ORDER: data loaders stream shards in filename
  order; the example sequence must be reproducible run-to-run, so rows
  are ordered by the salted key hash (operators/sampling.
  deterministic_shuffle — a range-partitioned sort, no single-partition
  bottleneck) and shard N's every row precedes shard N+1's.
- BOUNDED SHARD SIZE: loaders want uniform ~file sizes; rows_per_shard
  bounds file row counts via the writer's maxRecordsPerFile (files
  split WITHIN a partition keep the sorted order, part file numbering
  stays monotone with the range partitioning).
- AUDITABLE MANIFEST: the returned manifest (one row per output file,
  in order, with row counts and key ranges) is what a loader checks
  against instead of re-listing the directory.

At 100 TB: the sort is Spark's sampled range partitioning (the same
mechanics as any large orderBy), the write is embarrassingly parallel,
and the manifest aggregation reads footers, not data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sampling import _key_hash, deterministic_shuffle


FORMATS = ("parquet", "orc", "jsonl")
# "jsonl" is Spark's line-delimited json source; the sink name says
# what training loaders call the layout
_SPARK_FMT = {"jsonl": "json"}


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    rows_per_shard: int = 100_000,
    salt: str = "",
    num_partitions: int | None = None,
    data_format: str = "parquet",
    checksums: bool = False,
    order_col: str | None = None,
    shuffle_key=None,
    compression: str | None = None,
) -> DataFrame:
    """Write ``df`` as ordered training shards under ``path``; returns
    the manifest DataFrame (file, n_rows, first_key, last_key — in
    stream order) after writing it to ``path + '/_manifest'``.

    ``num_partitions`` sizes the range partitions explicitly; the
    default keeps Spark's ``spark.sql.shuffle.partitions`` (counting the
    corpus to derive it would cost an extra scan) and lets
    maxRecordsPerFile bound rows within each partition.

    ``data_format`` selects the shard file format — ``parquet`` or
    ``orc`` (both Spark-native vectorized readers; maxRecordsPerFile
    and the within-partition physical order work identically) or
    ``jsonl`` (line-delimited JSON, the layout most LLM training
    loaders stream; pair with ``compression="gzip"`` for the usual
    .jsonl.gz shards). The manifest is ALWAYS parquet: it is a
    control-plane artifact the loader reads driver-side, not training
    data. jsonl semantics: the sink's own read-back (manifest ranges,
    digests) uses schema INFERENCE over the written bytes — write-time
    and verify-time digests read identically, so integrity checks stay
    self-consistent — and per JSON-lines convention null fields are
    omitted row-wise, so an all-null column does not survive a round
    trip. ``compression`` passes through to the writer for any format
    (e.g. ``zstd`` parquet, ``gzip`` jsonl).

    ``order_col`` switches the stream order from the deterministic
    shuffle to CURRICULUM order: ascending ``order_col`` (e.g. a
    quality or difficulty score), ties broken by the salted key hash
    then the key — still a sampled range-partitioned total sort, still
    reproducible. The default (None) remains the hash shuffle: training
    normally wants decorrelated order, curriculum runs opt in.

    ``shuffle_key`` (optional computed Column) orders the stream in
    place of ``key_col``'s hash WITHOUT being written to the shards —
    e.g. epoch-upsampled corpora shuffle on (id, epoch) so a doc's
    copies spread through the stream, while the output schema keeps
    only the real columns (ADVICE r8: a materialized helper key was
    redundant bytes in every shard and polluted the verify digests).
    ``key_col`` must still be a real column: the manifest's
    first_key/last_key are read back from the written files.

    ``checksums=True`` adds per-shard integrity columns to the
    manifest: ``row_digest`` (order-insensitive sum of per-row 32-bit
    md5 prefixes over the JSON rendering of the full row — catches
    logical corruption, truncation, or a swapped/edited shard) and
    ``file_bytes``. The digest costs ONE distributed re-read of what
    was just written (opt-in for that reason); verify later with
    :func:`verify_training_shards` after any copy/transfer.
    """
    if data_format not in FORMATS:
        raise ValueError(
            f"data_format must be one of {FORMATS}, got {data_format!r}"
        )
    skey = shuffle_key if shuffle_key is not None else key_col
    if order_col is not None:
        h0 = _key_hash(skey, salt)
        if num_partitions is not None:
            ordered = df.repartitionByRange(
                num_partitions, F.col(order_col), h0, F.col(key_col)
            ).sortWithinPartitions(F.col(order_col), h0, F.col(key_col))
        else:
            ordered = df.orderBy(F.col(order_col), h0, F.col(key_col))
    else:
        ordered = deterministic_shuffle(
            df, skey, salt=salt, num_partitions=num_partitions
        )
    fmt = _SPARK_FMT.get(data_format, data_format)
    writer = (
        ordered.write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_shard)
        .format(fmt)
    )
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.save(path)
    spark = df.sparkSession
    written = spark.read.format(fmt).load(path)
    files = sorted(written.inputFiles())
    # jsonl has no footer metadata — straight to the distributed scan
    manifest = (
        None
        if data_format == "jsonl"
        else _manifest_from_footers(spark, files, key_col, data_format)
    )
    if manifest is None:
        # non-pyarrow-reachable store: fall back to one distributed scan.
        # first/last IN STREAM ORDER = min/max along whatever axis the
        # sort used (hash shuffle — of the computed shuffle_key when
        # given — or curriculum (order, hash, key)), not the raw key
        # ordering. A shuffle_key Column must therefore be computable
        # from the WRITTEN columns (it is: it exists to avoid writing a
        # derived copy of them).
        h = _key_hash(skey, salt)
        ord_expr = (
            F.struct(F.col(order_col), h, F.col(key_col))
            if order_col is not None
            else h
        )
        manifest = (
            written.select(
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("file"),
                F.col(key_col).alias("_k"),
                ord_expr.alias("_o"),
            )
            .groupBy("file")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min_by("_k", "_o").alias("first_key"),
                F.max_by("_k", "_o").alias("last_key"),
            )
            .orderBy("file")
        )
    if checksums:
        manifest = manifest.join(
            _shard_digests(written, files).drop("digest_rows"),
            "file",
            "left",
        )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "_manifest")
    )
    return spark.read.parquet(os.path.join(path, "_manifest")).orderBy("file")


def _stat_file_bytes(files: list[str]) -> list[tuple[str, int | None]]:
    """Per-file byte sizes via the pyarrow filesystem resolved from each
    path's scheme, so object-store shards (s3://, hdfs://) get REAL byte
    checks — an os.stat-only version returned NULL for every non-local
    file and verify_training_shards silently waived the size comparison,
    leaving truncation detection to the digest alone. Falls back to a
    local stat, then NULL (the verifier treats NULL as unchecked)."""
    norm: list[str] = []
    for f in files:
        local = f
        if local.startswith("file:"):
            local = local[len("file:"):]
            while local.startswith("//"):
                local = local[1:]
        norm.append(local)
    # per-file isolation (review r7): one unresolvable URI (missing
    # hdfs client, odd scheme) must NULL only ITS row, not abandon byte
    # checks for every other shard. from_uri per file is a driver-side
    # client construction per shard — accepted: the loop is bounded by
    # the manifest's shard count and runs once per verify/write.
    sizes: list[tuple[str, int | None]] = []
    for local in norm:
        size: int | None = None
        try:
            from pyarrow import fs as pafs

            filesystem, path = pafs.FileSystem.from_uri(local)
            info = filesystem.get_file_info(path)
            if info.type == pafs.FileType.File:
                size = info.size
        except Exception:
            try:
                size = os.path.getsize(local)
            except OSError:
                size = None
        sizes.append((os.path.basename(local), size))
    return sizes


def _shard_digests(written: DataFrame, files: list[str]) -> DataFrame:
    """(file, row_digest, file_bytes): order-insensitive per-file row
    digest (sum of 32-bit md5 prefixes of each row's JSON rendering —
    32-bit terms keep the BIGINT sum ANSI-safe, the components.py
    checksum trick) via one distributed scan; byte sizes from a
    driver-side stat (NULL where the store isn't stat-able)."""
    digest = (
        written.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "file"
            ),
            F.conv(
                F.substring(
                    F.md5(F.to_json(F.struct(*written.columns))), 1, 8
                ),
                16,
                10,
            ).cast("bigint").alias("_h"),
        )
        .groupBy("file")
        .agg(
            F.sum("_h").alias("row_digest"),
            # carried so the verifier's count check shares THIS scan
            F.count(F.lit(1)).alias("digest_rows"),
        )
    )
    sizes = _stat_file_bytes(files)
    spark = written.sparkSession
    return digest.join(
        spark.createDataFrame(sizes, "file string, file_bytes long"),
        "file",
        "left",
    )


def verify_training_shards(
    spark, path: str, data_format: str = "parquet"
) -> DataFrame:
    """Integrity report against a ``checksums=True`` manifest: one row
    per manifest entry with ok / row-count / digest / byte-size
    comparisons — run after a copy or transfer, or before a training
    job trusts a corpus. One distributed scan of the shards (the same
    cost the checksum write paid) + a driver-side stat pass."""
    # the verifier's premise is that files may have CHANGED since the
    # session last read them — drop any cached file-index/statistics
    # for the path or a swapped shard trips a length-mismatch error
    spark.catalog.refreshByPath(path)
    manifest = spark.read.parquet(os.path.join(path, "_manifest"))
    if "row_digest" not in manifest.columns:
        raise ValueError(
            "manifest has no checksums — write with checksums=True"
        )
    written = spark.read.format(
        _SPARK_FMT.get(data_format, data_format)
    ).load(path)
    # ONE distributed scan: digests and row counts come from the same
    # aggregation (review finding — a second count scan doubled verify
    # I/O on exactly the corpora this exists for)
    actual = _shard_digests(written, sorted(written.inputFiles())).select(
        "file",
        F.col("row_digest").alias("actual_digest"),
        F.col("digest_rows").alias("actual_rows"),
        F.col("file_bytes").alias("actual_bytes"),
    )
    # a legitimately EMPTY shard contributes no digest/count rows:
    # coalesce counts to 0 so n_rows=0 entries verify ok, while a
    # MISSING/emptied shard with n_rows>0 still mismatches
    return (
        manifest.join(actual, "file", "full_outer")
        .select(
            "file",
            "n_rows",
            F.coalesce("actual_rows", F.lit(0)).alias("actual_rows"),
            "row_digest",
            "actual_digest",
            (
                F.col("row_digest").eqNullSafe(F.col("actual_digest"))
                & F.col("n_rows").eqNullSafe(
                    F.coalesce("actual_rows", F.lit(0))
                )
                & (
                    F.col("file_bytes").isNull()
                    | F.col("actual_bytes").isNull()
                    | (F.col("file_bytes") == F.col("actual_bytes"))
                )
            ).alias("ok"),
        )
        .orderBy("file")
    )


def _manifest_from_footers(
    spark, files: list[str], key_col: str, data_format: str = "parquet"
):
    """Metadata-cheap manifest: row counts come from each shard's footer
    (parquet metadata / ORC file footer), first/last keys from reading
    only the first/last row group's (parquet) or stripe's (ORC) key
    column (rows are physically in stream order inside a shard, so
    positional first/last IS the stream-order range). Cost is O(files)
    small reads on the driver instead of re-scanning the corpus the sink
    just wrote. Returns None when pyarrow cannot reach the store (e.g.
    an object-store URI without a configured pyarrow filesystem) — the
    caller then falls back to one distributed scan."""
    import pyarrow.parquet as pq

    rows = []
    try:
        for f in files:
            local = f
            if local.startswith("file:"):
                local = local[len("file:"):]
                while local.startswith("//"):
                    local = local[1:]
            first = last = None
            if data_format == "orc":
                import pyarrow.orc as po

                of = po.ORCFile(local)
                n = of.nrows
                if n > 0:
                    first = of.read_stripe(0, columns=[key_col]).column(
                        0
                    )[0].as_py()
                    last = of.read_stripe(
                        of.nstripes - 1, columns=[key_col]
                    ).column(0)[-1].as_py()
            else:
                pf = pq.ParquetFile(local)
                n = pf.metadata.num_rows
                if n > 0:
                    first = pf.read_row_group(0, columns=[key_col]).column(0)[0].as_py()
                    last_tbl = pf.read_row_group(
                        pf.metadata.num_row_groups - 1, columns=[key_col]
                    )
                    last = last_tbl.column(0)[-1].as_py()
            rows.append((os.path.basename(local), n, first, last))
    except Exception:
        return None
    key_type = "string"
    for _, _, first, last in rows:
        v = first if first is not None else last
        if v is None:
            continue
        if isinstance(v, bool):
            key_type = "boolean"
        elif isinstance(v, int):
            key_type = "long"
        elif isinstance(v, float):
            key_type = "double"
        break
    return spark.createDataFrame(
        rows,
        f"file string, n_rows long, first_key {key_type}, last_key {key_type}",
    )
