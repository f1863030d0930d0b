"""Real media decode kernels (operators/media_codecs.py) and their
Spark-side extractor: binary and ASCII PPM/PGM via numpy. Every other
format is 'unknown' to the dependency-free tier and routes through the
injectable decoder (operators/multimodal.set_decoder)."""

from __future__ import annotations

import numpy as np

from ffi_export_etl_spark.operators.media_codecs import (
    decode_pnm,
    encode_ppm,
    sniff,
)

MEDIA_DDL = (
    "media_id: long, kind: string, content: binary, mime: string, n_bytes: long"
)


def _img(h: int, w: int) -> np.ndarray:
    return (np.arange(h * w * 3, dtype=np.int64) % 251).astype(np.uint8).reshape(
        (h, w, 3)
    )


def _media(spark, blobs: dict[int, bytes]):
    return spark.createDataFrame(
        [
            (mid, "image", bytearray(b), "application/octet-stream", len(b))
            for mid, b in blobs.items()
        ],
        MEDIA_DDL,
    )


def test_pnm_roundtrip_and_ascii():
    arr = _img(5, 7)
    data = encode_ppm(arr)
    assert sniff(data) == "ppm"
    back = decode_pnm(data)
    assert np.array_equal(back, arr)
    # grayscale
    g = arr[..., 0]
    gb = decode_pnm(encode_ppm(g))
    assert np.array_equal(gb, g)
    # ASCII P2 with a header comment
    ascii_pgm = b"P2\n# comment\n3 2\n255\n" + " ".join(
        str(v) for v in range(6)
    ).encode()
    a = decode_pnm(ascii_pgm)
    assert a.shape == (2, 3) and a[1, 2] == 5
    assert np.array_equal(decode_pnm(encode_ppm(a)), a)
    # binary P6 with a header comment: the comment does not shift the
    # pixel body, and re-encoding (comment dropped) keeps every pixel
    body = _img(2, 3)
    commented = b"P6\n# made by hand\n3 2\n255\n" + body.tobytes()
    c = decode_pnm(commented)
    assert np.array_equal(c, body)
    assert np.array_equal(decode_pnm(encode_ppm(c)), body)


def test_non_pnm_magic_bytes_are_unknown(spark):
    """The dependency-free tier decodes netpbm only: PNG, JPEG, GIF,
    RIFF-WAV and MP4 blobs come back format='unknown' with null
    features (their decode belongs to an injected kernel), next to a
    PPM in the same batch that does decode."""
    from ffi_export_etl_spark.operators.multimodal import extract_real_features

    others = {
        2: b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR",
        3: b"\xff\xd8\xff\xe0\x00\x10JFIF\x00",
        4: b"GIF89a\x01\x00\x01\x00\x00\x00\x00",
        5: b"RIFF\x24\x00\x00\x00WAVEfmt \x10\x00\x00\x00",
        6: b"\x00\x00\x00\x18ftypmp42\x00\x00\x00\x00",
    }
    assert all(sniff(b) == "unknown" for b in others.values())
    img = encode_ppm(_img(6, 4))
    feats = {
        r["media_id"]: r
        for r in extract_real_features(
            _media(spark, {1: img, **others})
        ).collect()
    }
    assert feats[1]["format"] == "ppm"
    assert (feats[1]["width"], feats[1]["height"]) == (4, 6)
    assert feats[1]["channels"] == 3
    assert feats[1]["mean_value"] == float(np.mean(_img(6, 4)))
    for mid in others:
        r = feats[mid]
        assert r["format"] == "unknown", mid
        assert r["width"] is None and r["height"] is None, mid
        assert r["channels"] is None and r["mean_value"] is None, mid


def test_corrupt_blobs_degrade_not_crash(spark):
    """Magic-byte matches with malformed bodies must degrade to
    format='corrupt' with null features, never abort the job; a good
    PGM in the same batch still decodes."""
    from ffi_export_etl_spark.operators.multimodal import extract_real_features

    good = encode_ppm(_img(8, 8)[..., 0])
    bad = {
        2: b"P5\n8 8\n255\n" + b"\x01" * 10,        # truncated PGM body
        3: b"P6\n9999 9999\n255\nxx",               # truncated PPM body
        4: b"P2\n3 2\n255\n0 1 2",                  # ASCII, samples missing
        5: b"P5\n8",                                # truncated header
        6: b"P6\n4 4\n65535\n" + b"\x00" * 96,      # 16-bit, unsupported
    }
    feats = {
        r["media_id"]: r
        for r in extract_real_features(_media(spark, {1: good, **bad})).collect()
    }
    assert feats[1]["format"] == "pgm" and feats[1]["width"] == 8
    assert feats[1]["channels"] == 1
    for mid in bad:
        r = feats[mid]
        assert r["format"] == "corrupt", mid
        assert r["width"] is None and r["mean_value"] is None, mid


def test_injected_decoder_contract_round_trip(spark):
    """The compressed-image/video decode path is environmental — no
    media libs here — but its INJECTION CONTRACT is testable end to end:
    a caller installs a real kernel with set_decoder(fn), fn receives
    (bytes, kind) and returns {'width','height'}, and extract_features
    ships the injected kernel INTO the Arrow workers (the closure is
    pickled by value, so the swap needs no executor-side setup). Pinned
    with a netpbm-reading kernel standing in for PIL/ffmpeg."""
    from ffi_export_etl_spark.operators import multimodal as mm

    def px_decoder(content: bytes, kind: str) -> dict:
        # a "real" kernel parses the container; deriving from the bytes
        # and the kind proves THIS kernel ran, executor-side, per row
        arr = decode_pnm(content)
        return {
            "width": int(arr.shape[1]) * 10,
            "height": int(arr.shape[0]) * 10 + (1 if kind == "video" else 0),
        }

    img = encode_ppm(_img(4, 3))
    gray = encode_ppm(_img(5, 6)[..., 1])
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(img), "image/x-portable-pixmap", len(img)),
            (2, "video", bytearray(gray), "image/x-portable-graymap", len(gray)),
        ],
        MEDIA_DDL,
    )
    mm.set_decoder(px_decoder)
    try:
        feats = {
            r["media_id"]: r.asDict()
            for r in mm.extract_features(media).collect()
        }
    finally:
        mm.set_decoder(mm._fake_decode)  # restore the default stub
    assert feats[1]["width"] == 30 and feats[1]["height"] == 40
    assert feats[2]["width"] == 60 and feats[2]["height"] == 51
    # and the restore really is process-global: the default fake is back
    out = {
        r["media_id"]: r["width"]
        for r in mm.extract_features(media).collect()
    }
    assert out[1] != 30
