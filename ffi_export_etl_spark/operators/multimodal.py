"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns plus typed metadata structs; all
per-item compute runs through Arrow-batched ``mapInPandas`` so bytes never
round-trip per row between JVM and Python.

Decode kernels come in two tiers:
- REAL, dependency-free (operators/media_codecs.py): binary and ASCII
  PPM/PGM via numpy, driven by ``extract_real_features`` (decode + image
  stats). Any other format comes back as format='unknown' with nulls.
- Injectable (``set_decoder``): JPEG/PNG/MP4/audio need a codec library
  (PIL/ffmpeg) — the registered gate query keeps the deterministic md5
  stand-in there (clearly marked; its DuckDB oracle replays it), and
  production swaps in a real kernel.

Scale notes: media rows are large and skewed; ``repartition`` by a hash of
the id before mapInPandas levels batch sizes, and
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds per-batch memory
(set it so batch_bytes ~ rows * avg_media_size stays well under executor
memory).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum", StringType()),
    ]
)


def _fake_decode(content: bytes, kind: str) -> dict:
    """Deterministic stand-in for a real decoder (PIL/ffmpeg absent here).

    Derives fake-but-stable dimensions from md5 hex prefixes of the byte
    content — the same engine-portable construction as
    functions/porthash.py, so the driver's DuckDB oracle can replay the
    "decode" exactly. Swap via set_decoder() in production.
    """
    import hashlib

    hx = hashlib.md5(content).hexdigest()
    return {
        "width": 64 + int(hx[:4], 16) % 1024,
        "height": 64 + int(hx[4:8], 16) % 1024,
    }


_decoder: Callable[[bytes, str], dict] = _fake_decode


def set_decoder(fn: Callable[[bytes, str], dict]) -> None:
    """Install a real decode kernel (e.g. PIL-based). The kernel receives
    (bytes, kind) and returns {'width': int, 'height': int}."""
    global _decoder
    _decoder = fn


def extract_features(media: DataFrame, batch_size_hint: int = 64) -> DataFrame:
    """Decode + feature-extract media via Arrow-batched mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                content = bytes(content) if content is not None else b""
                decoded = _decoder(content, kind)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "n_bytes": len(content),
                        "width": decoded["width"],
                        "height": decoded["height"],
                        "checksum": hashlib.md5(content).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA])

    return media.mapInPandas(run, FEATURE_SCHEMA)


REAL_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_value", DoubleType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
    ]
)


def extract_real_features(media: DataFrame) -> DataFrame:
    """REAL decode + feature extraction for the dependency-free formats
    (operators/media_codecs.py): binary and ASCII PPM/PGM via numpy —
    images report (width, height, channels, mean pixel value). Formats
    needing PIL/ffmpeg come back with format='unknown' and nulls (route
    those through the injectable set_decoder kernel instead).
    Arrow-batched mapInPandas; nothing per-row crosses the JVM
    boundary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .media_codecs import decode_pnm, sniff

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else b""
                fmt = sniff(content)
                row = {
                    "media_id": mid, "format": fmt, "width": None,
                    "height": None, "channels": None, "mean_value": None,
                    "duration_s": None, "rms": None,
                }
                # a magic-byte match does not make the blob well-formed:
                # at web scale corrupt/truncated media are routine, and a
                # decode exception inside mapInPandas would abort the
                # whole job — malformed content degrades to
                # format='corrupt' + nulls instead
                if fmt != "unknown":
                    try:
                        arr = decode_pnm(content)
                        row.update(
                            width=int(arr.shape[1]), height=int(arr.shape[0]),
                            channels=1 if arr.ndim == 2 else int(arr.shape[2]),
                            mean_value=float(np.mean(arr)),
                        )
                    except Exception:
                        row["format"] = "corrupt"
                rows.append(row)
            yield pd.DataFrame(
                rows, columns=[f.name for f in REAL_FEATURE_SCHEMA]
            )

    return media.mapInPandas(run, REAL_FEATURE_SCHEMA)
