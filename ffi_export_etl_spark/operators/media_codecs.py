"""REAL media decode kernels for the one image family decodable without
external libraries: PPM/PGM (netpbm, binary and ASCII) via numpy. Every
other format (JPEG/PNG/GIF/MP4/audio) needs a real codec library and
routes through the injectable decoder (operators/multimodal.set_decoder);
``sniff`` reports those as 'unknown'.

All functions are plain bytes -> numpy kernels, called from Arrow
``mapInPandas`` batches (operators/multimodal.py) — no Spark imports
here, so they are unit-testable without a session and reusable from any
executor context.
"""

from __future__ import annotations

import numpy as np


def sniff(content: bytes) -> str:
    """'ppm' | 'pgm' | 'unknown' from the netpbm magic bytes."""
    if content[:2] in (b"P6", b"P3"):
        return "ppm"
    if content[:2] in (b"P5", b"P2"):
        return "pgm"
    return "unknown"


def _pnm_header(data: bytes) -> tuple[bytes, list[int], int]:
    """(magic, [w, h, maxval], body_offset) — whitespace/comment-correct
    netpbm header scan."""
    magic = data[:2]
    fields: list[int] = []
    i = 2
    n_fields = 3
    while len(fields) < n_fields:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":  # comment to end of line
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        fields.append(int(data[i:j]))
        i = j
    return magic, fields, i + 1  # single whitespace after maxval


def decode_pnm(data: bytes) -> np.ndarray:
    """PPM (P6/P3) -> (h, w, 3) uint8; PGM (P5/P2) -> (h, w) uint8."""
    magic, (w, h, maxval), off = _pnm_header(data)
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    channels = 3 if magic in (b"P6", b"P3") else 1
    n = w * h * channels
    if magic in (b"P6", b"P5"):  # binary
        arr = np.frombuffer(data, dtype=np.uint8, count=n, offset=off)
    else:  # ASCII: remaining whitespace-separated sample values
        arr = np.array(data[off - 1 :].split()[:n], dtype=np.uint8)
    arr = arr.reshape((h, w, 3)) if channels == 3 else arr.reshape((h, w))
    return arr


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) or (h, w) uint8 -> binary PPM/PGM bytes."""
    if arr.ndim == 2:
        h, w = arr.shape
        return b"P5\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()
