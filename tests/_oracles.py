"""Reference implementations and fixture encoders the tests check the
package against. No shipped code path calls these; each one is either
an independent replica of what a package operator computes, or a
writer of an input format the package only reads.
"""

from __future__ import annotations

import math
import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ark_invest_api_rust_data_spark.operators import ffmpeg_codec
from ark_invest_api_rust_data_spark.operators.dedup import _gram_exprs
from ark_invest_api_rust_data_spark.operators.jpeg import (
    QUANT,
    _encode_baseline,
    _pad_edge_np,
)
from ark_invest_api_rust_data_spark.operators.sketch import (
    KMINS_M,
    MERSENNE61,
    _coef,
    _overlap_estimates,
    kmins_merge,
    kmins_sketch,
)

# ------------------------------------------------------------ shingles


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a whitespace-split text, as strings —
    the string form of ``dedup.hashed_shingles_from_tokens``.
    Documents need >= n tokens (ANSI ``element_at`` raises on shorter
    ones)."""
    return F.array_distinct(_gram_exprs(F.split(F.trim(text), r"\s+"), n))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 fingerprints (bit_count of
    xor) — the SimHash pair-distance."""
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------------------- k-mins


def py_kmins_positions(key: str, k: int) -> list[int]:
    """Pure-Python replica of ``token_hash32`` followed by
    ``sketch.kmins_positions_from_hash`` (same constants, same
    two-stage fold)."""
    h = 0
    for ch in key:
        h = (h * 31 + ord(ch)) % (1 << 32)
    out: list[int] = []
    for i in range(k):
        a1, b1 = _coef(i)
        a2, b2 = _coef(i + k)
        h1 = (a1 * h + b1) % (1 << 31)
        out.append(((a2 * h1 + b2) % MERSENNE61) % KMINS_M)
    return out


def py_kmins_estimate(mins: list[int]) -> int:
    """The integer estimator over a register array — mirrors
    ``kmins_distinct``'s expression."""
    k = len(mins)
    return max(0, ((k - 1) * KMINS_M) // max(sum(mins), 1) - 1)


def corpus_overlap_split(keys: DataFrame, key_col: str, split_col: str, k: int = 64) -> DataFrame:
    """The expression form of ``sketch.corpus_overlap_docs`` over
    already-shingled keys: one grouped ``kmins_sketch`` pass per side
    of the boolean ``split_col`` (NULL keys and NULL sides dropped),
    the union sketch by ``kmins_merge``, and the shared estimator
    tail."""
    flagged = keys.filter(F.col(key_col).isNotNull() & F.col(split_col).isNotNull()).select(
        F.col(key_col), F.col(split_col).cast("boolean").alias("_side")
    )
    rows = kmins_sketch(flagged, key_col, ["_side"], k).collect()
    mins = {bool(r["_side"]): r["mins"] for r in rows}
    for side, flag in (("keys_a", True), ("keys_b", False)):
        if flag not in mins:
            raise ValueError(f"corpus_overlap: {side} has no keys")
    both = keys.sparkSession.createDataFrame(
        [(mins[True], mins[False])], "_ma array<long>, _mb array<long>"
    ).withColumn("_mu", kmins_merge(F.col("_ma"), F.col("_mb")))
    return _overlap_estimates(both, k)


# --------------------------------------------------------------- images


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """P6 binary PPM writer (top-down RGB — PPM's native layout)."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} rgb bytes, got {len(rgb)}")
    return f"P6\n{width} {height}\n255\n".encode() + rgb


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    """BT.601 full-range, exact integer floor-division (each term is
    floor(x + 0.5) via (num + half) // den) — the transform
    ``jpeg.encode_jpeg`` applies per array."""
    y = (299 * r + 587 * g + 114 * b + 500) // 1000
    cb = 128 + (-168736 * r - 331264 * g + 500000 * b + 500000) // 1000000
    cr = 128 + (500000 * r - 418688 * g - 81312 * b + 500000) // 1000000
    return _clamp(y), _clamp(cb), _clamp(cr)


def ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """The inverse ``jpeg.decode_jpeg`` applies per array."""
    r = (1000 * y + 1402 * (cr - 128) + 500) // 1000
    g = (100000 * y - 34414 * (cb - 128) - 71414 * (cr - 128) + 50000) // 100000
    b = (1000 * y + 1772 * (cb - 128) + 500) // 1000
    return _clamp(r), _clamp(g), _clamp(b)


def jpeg_constant_roundtrip(v: int) -> int:
    """The closed form a block-constant channel value takes through
    encode→decode (quantized DC roundtrip; q0 = QUANT[0]) — the
    formula the llm_multimodal_jpeg oracle replays in SQL."""
    q0 = QUANT[0]
    d = math.floor(8.0 * (v - 128) / q0 + 0.5) * q0
    return _clamp(math.floor(d / 8 + 128.5))


def encode_jpeg_gray(width: int, height: int, gray: bytes, restart_interval: int = 0) -> bytes:
    """Single-component baseline JPEG from a w·h gray byte stream —
    exercises the 1-component decode path (Y plane replicated to
    RGB)."""
    if width < 1 or height < 1:
        raise ValueError(f"bad dims {width}x{height}")
    if len(gray) != width * height:
        raise ValueError(f"need {width * height} gray bytes, got {len(gray)}")
    if width % 8 == 0 and height % 8 == 0:
        return _encode_baseline(width, height, [list(gray)], restart_interval)
    import numpy as np

    p = np.frombuffer(gray, dtype=np.uint8).astype(np.int64).reshape(height, width)
    plane = _pad_edge_np(p, width, height).ravel().tolist()
    return _encode_baseline(width, height, [plane], restart_interval)


# ---------------------------------------------------------------- video


def encode_h264(width: int, height: int, frames: list[bytes], fps: int = 10) -> bytes | None:
    """RGB frames → H.264-in-MP4 via ffmpeg, None when ffmpeg or an
    H.264 encoder is unavailable. Goes through ``ffmpeg_codec``'s
    binary lookup and ``_run`` so tests that patch those patch this
    too."""
    if not ffmpeg_codec.ffmpeg_available() or not frames or width < 1 or height < 1:
        return None
    raw = b"".join(frames)
    if len(raw) != width * height * 3 * len(frames):
        return None
    with tempfile.NamedTemporaryFile(suffix=".raw", delete=False) as fi:
        fi.write(raw)
        in_path = fi.name
    out_path = in_path + ".mp4"
    try:
        ok = ffmpeg_codec._run(
            [
                ffmpeg_codec._FFMPEG,
                "-v", "error",
                "-f", "rawvideo",
                "-pix_fmt", "rgb24",
                "-s", f"{width}x{height}",
                "-r", str(fps),
                "-i", in_path,
                "-c:v", "libx264",
                "-pix_fmt", "yuv420p",
                "-movflags", "+faststart",
                "-y", out_path,
            ]
        )
        if ok is None or not os.path.exists(out_path):
            return None
        with open(out_path, "rb") as fo:
            return fo.read()
    finally:
        os.unlink(in_path)
        if os.path.exists(out_path):
            os.unlink(out_path)
